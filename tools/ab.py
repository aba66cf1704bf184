#!/usr/bin/env python3
"""Paired A/B of two revisions on one graftbench workload, or on named gates.

    python3 tools/ab.py --base REV --change REV --workload W --pairs N \\
        [--work DIR] [--seed0 K]
    python3 tools/ab.py --base REV --change REV --gates G [G ...] --sf DIR \\
        --pairs N [--work DIR]

Exports each revision with `git archive` into DIR/<sha>/ (a plain tree, so
the repository's own checkout and worktree list stay untouched), builds it
once with a discarded run, then runs `graftbench/run.py --trace 0` for
BENCHMARK.json's run_seconds N times per side, seeds K..K+N-1, one seed per
pair, with the first side alternating from pair to pair (base first in even
pairs). It only reads what the runs print: nothing under graftbench/ and
nothing in BENCHMARK.json changes.

Prints, per end-to-end metric of BENCHMARK.json: each side's median
[q1, q3], the median of the per-pair change/base ratios [q1, q3], how many
pairs the change won, and "unresolved" when the base's IQR/median is above
a third of the metric's declared bound (the runs then spread too widely to
tell a change of that size). Then, per API call or refresh step, the ratio
of the per-call p50s with the number of samples per run, each side's
cpu_steal_share, and correctness (runs with `correct: true`, failed ops).
Every run's two result lines are kept in DIR/ab-<workload>.json.

With --gates, each pair runs `graft.Bench` on the named gates over the
scale-factor directory DIR (3 reps per gate, Bench's default; local[cpus]
with cpus the CPUs this process may use) once per side, again alternating
the first side. Each side is compiled once with sbt and then run as a plain
JVM on its exported runtime classpath. After each run the side's
BENCH_selfdump_c<cpus>.json is read; per gate the report prints wall, Spark
jobs and driver_gap_s as each side's median [q1, q3], the median of the
per-pair change/base ratios [q1, q3] and how many pairs the change won, in
the workload mode's format, plus the same for the summed wall. Every run's
dump is kept in DIR/ab-gates.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

RUN_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 900
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


def export(repo, rev, work):
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=repo,
                         check=True, capture_output=True, text=True).stdout.strip()
    root = os.path.join(work, sha[:12])
    if not os.path.isdir(root):
        # extract beside root and rename only when complete, so an
        # interrupted export is never taken for a finished tree
        part = tempfile.mkdtemp(prefix=sha[:12] + ".", dir=work)
        archive = subprocess.Popen(["git", "archive", sha], cwd=repo, stdout=subprocess.PIPE)
        tar = subprocess.run(["tar", "-x", "-C", part], stdin=archive.stdout)
        if archive.wait() != 0 or tar.returncode != 0:
            shutil.rmtree(part)
            sys.exit(f"ab: exporting {rev} failed")
        os.rename(part, root)
    return sha, root


def run(root, workload, seed, seconds):
    """One graftbench run: its detail line and its result line (None when the
    run died)."""
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                           stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode == 0 and len(lines) >= 2:
            return {"detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}
        err = p.stderr[-2000:]
    except subprocess.TimeoutExpired:
        err = "timeout"
    print(f"ab: run failed in {root} seed {seed}: {err}", file=sys.stderr)
    return None


def per_call(run_):
    """{call: (p50 ms, samples)} of one run."""
    d = run_["detail"]["detail"]
    p50 = d.get("per_call_p50_ms") or d.get("per_step_p50_ms") or {}
    n = {}
    for kind, _ in d.get("step_ms", []):
        n[kind] = n.get(kind, 0) + 1
    return {k: (v, n.get(k, 0)) for k, v in p50.items()}


def fmt(v):
    return f"{v:.4g}"


def compare(label, base, chg, lower=True, bound=None):
    """One paired metric: each side's median [q1, q3], the per-pair ratio
    median [q1, q3], the change's wins and the base's IQR/median, labelled
    "unresolved" when that spread is above a third of `bound`."""
    ratios = [c / b for b, c in zip(base, chg) if b]
    wins = sum(1 for b, c in zip(base, chg) if (c < b if lower else c > b))
    bq, cq = quartiles(base), quartiles(chg)
    rq = quartiles(ratios) if ratios else (float("nan"),) * 3
    spread = (bq[2] - bq[0]) / bq[1] if bq[1] else float("inf")
    out = (f"{label}: base {fmt(bq[1])} [{fmt(bq[0])}, {fmt(bq[2])}]"
           f" -> change {fmt(cq[1])} [{fmt(cq[0])}, {fmt(cq[2])}]; per-pair ratio "
           f"{rq[1]:.3f} [{rq[0]:.3f}, {rq[2]:.3f}]; change better {wins}/{len(base)}; "
           f"base IQR/median {spread:.3f}")
    if bound is not None:
        out += " -> " + ("unresolved" if spread > bound / 3 else "resolved")
    return out


def report(spec, workload, pairs):
    ok = [(b, c) for b, c in pairs if b and c]
    print(f"\n== {workload}: {len(ok)} complete pairs of {len(pairs)} ==")
    for side, i in (("base", 0), ("change", 1)):
        runs = [p[i] for p in pairs if p[i]]
        correct = sum(1 for r in runs if r["result"]["correct"])
        failed = sum(r["result"]["failed"] for r in runs)
        steal = [r["detail"]["host"].get("cpu_steal_share") or 0.0 for r in runs]
        print(f"{side:6s}: {len(runs)} runs, correct {correct}/{len(runs)}, "
              f"failed ops {failed}, cpu_steal_share median "
              f"{fmt(statistics.median(steal)) if steal else '-'}")
    if not ok:
        return
    for m in spec["end_to_end"]:
        name = m["name"]
        print(compare(f"{name} ({m['unit']}, bound {m['bound']})",
                      [b["result"]["metrics"][name]["value"] for b, _ in ok],
                      [c["result"]["metrics"][name]["value"] for _, c in ok],
                      m["better"] == "lower", m["bound"]))
    calls = sorted({k for b, c in ok for k in per_call(b)} & {k for b, c in ok for k in per_call(c)})
    for k in calls:
        rs, nb, nc = [], [], []
        for b, c in ok:
            pb, pc = per_call(b).get(k), per_call(c).get(k)
            if pb and pc and pb[0]:
                rs.append(pc[0] / pb[0])
                nb.append(pb[1])
                nc.append(pc[1])
        if rs:
            q = quartiles(rs)
            print(f"  {k:28s} p50 ratio {q[1]:.3f} [{q[0]:.3f}, {q[2]:.3f}] over {len(rs)} pairs; "
                  f"samples per run base {statistics.median(nb):g}, change {statistics.median(nc):g}")


def classpath(root):
    """Compile the exported tree once with sbt; its runtime classpath."""
    cp_file = os.path.join(root, "target", "ab-classpath.txt")
    if not os.path.exists(cp_file):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                           cwd=root, env=env, capture_output=True, text=True,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        cps = [l.removeprefix("[info] ").strip() for l in p.stdout.splitlines()
               if root in l and "classes" in l and os.pathsep in l]
        if p.returncode != 0 or not cps:
            sys.exit(f"ab: building {root} failed:\n{p.stdout[-2000:]}")
        os.makedirs(os.path.dirname(cp_file), exist_ok=True)
        with open(cp_file, "w") as f:
            f.write(cps[-1])
    with open(cp_file) as f:
        return f.read().strip()


def bench(root, cp, gates, sf, cpus):
    """One graft.Bench run of `gates`: its BENCH_selfdump, or None when the
    run died or a gate failed."""
    dump = os.path.join(root, f"BENCH_selfdump_c{cpus}.json")
    if os.path.exists(dump):
        os.remove(dump)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_GRAFT_BENCH_OUT", None)
    env.pop("SPARK_GRAFT_BENCH_REPS", None)
    cmd = (["java", "-Xmx4g"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.Bench"] + gates)
    try:
        p = subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True,
                           stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
        if p.returncode == 0 and os.path.exists(dump):
            with open(dump) as f:
                d = json.load(f)
            if not d["errors"]:
                return d
            err = json.dumps(d["errors"])
        else:
            err = p.stderr[-2000:]
    except subprocess.TimeoutExpired:
        err = "timeout"
    print(f"ab: bench failed in {root}: {err}", file=sys.stderr)
    return None


GATE_METRICS = (("wall", "s", lambda d, g: d["queries"][g]),
                ("jobs", "count", lambda d, g: d["layers"][g]["jobs"]),
                ("driver_gap_s", "s", lambda d, g: d["layers"][g]["driver_gap_s"]))


def report_gates(gates, pairs):
    ok = [(b, c) for b, c in pairs if b and c]
    print(f"\n== gates: {len(ok)} complete pairs of {len(pairs)} ==")
    if not ok:
        return
    print(compare("total wall (s)", [sum(b["queries"].values()) for b, _ in ok],
                  [sum(c["queries"].values()) for _, c in ok]))
    for g in gates:
        for name, unit, get in GATE_METRICS:
            print(compare(f"{g} {name} ({unit})", [get(b, g) for b, _ in ok],
                          [get(c, g) for _, c in ok]))


def gates_main(a, sides):
    cpus = len(os.sched_getaffinity(0))
    print(f"ab: base {sides[0][0][:12]} change {sides[1][0][:12]} gates {' '.join(a.gates)} "
          f"pairs {a.pairs} cpus {cpus}", flush=True)
    cps = [classpath(root) for _, root in sides]
    pairs = []
    for i in range(a.pairs):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        got = {s: bench(sides[s][1], cps[s], a.gates, a.sf, cpus) for s in order}
        pairs.append((got[0], got[1]))
        if got[0] and got[1]:
            print(f"pair {i + 1}/{a.pairs} ({'base' if order[0] == 0 else 'change'} first): "
                  + ", ".join(f"{g} {fmt(got[0]['queries'][g])} -> {fmt(got[1]['queries'][g])} s"
                              for g in a.gates), flush=True)
        with open(os.path.join(a.work, "ab-gates.json"), "w") as f:
            json.dump({"base": sides[0][0], "change": sides[1][0], "gates": a.gates,
                       "sf": a.sf, "cpus": cpus,
                       "pairs": [{"base": b, "change": c} for b, c in pairs]}, f)
    report_gates(a.gates, pairs)


def main():
    ap = argparse.ArgumentParser(
        description="paired A/B of two revisions on a graftbench workload or on named gates")
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload")
    mode.add_argument("--gates", nargs="+")
    ap.add_argument("--sf", help="scale-factor directory the gates read (with --gates)")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--work", default=os.path.join(tempfile.gettempdir(), "graft-ab"))
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    if a.gates and not a.sf:
        ap.error("--gates needs --sf")

    repo = subprocess.run(["git", "rev-parse", "--show-toplevel"], check=True,
                          capture_output=True, text=True).stdout.strip()
    os.makedirs(a.work, exist_ok=True)
    a.work = os.path.abspath(a.work)
    sides = [export(repo, a.base, a.work), export(repo, a.change, a.work)]
    if a.gates:
        a.sf = os.path.abspath(a.sf)
        return gates_main(a, sides)
    with open(os.path.join(sides[1][1], "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"ab: unknown workload {a.workload}")
    seconds = spec["run_seconds"]
    print(f"ab: base {sides[0][0][:12]} change {sides[1][0][:12]} workload {a.workload} "
          f"pairs {a.pairs} seconds {seconds}", flush=True)
    for _, root in sides:  # build each side once, outside the pairs
        run(root, a.workload, a.seed0, 1)

    pairs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = (0, 1) if i % 2 == 0 else (1, 0)
        got = {}
        for s in order:
            got[s] = run(sides[s][1], a.workload, seed, seconds)
        pairs.append((got[0], got[1]))
        last = pairs[-1]
        if last[0] and last[1]:
            print(f"pair {i + 1}/{a.pairs} seed {seed} ({'base' if order[0] == 0 else 'change'} first): "
                  + ", ".join(f"{m['name']} {fmt(last[0]['result']['metrics'][m['name']]['value'])}"
                              f" -> {fmt(last[1]['result']['metrics'][m['name']]['value'])}"
                              for m in spec["end_to_end"]), flush=True)
        with open(os.path.join(a.work, f"ab-{a.workload}.json"), "w") as f:
            json.dump({"base": sides[0][0], "change": sides[1][0], "workload": a.workload,
                       "seconds": seconds, "pairs": [{"seed": a.seed0 + j, "base": b, "change": c}
                                                     for j, (b, c) in enumerate(pairs)]}, f)
    report(spec, a.workload, pairs)


if __name__ == "__main__":
    main()
