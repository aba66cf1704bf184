#!/usr/bin/env python3
"""graft benchmark: one run of one workload against the library's public API.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the library and
the benchmark's JVM program from source with sbt (`graftbench/build.sbt`); later
runs reuse the build while the sources are unchanged. Each run generates
its inputs from the seed (gen.py), starts a fresh JVM on
`GraftSession.local(nproc)` with its own temp and warehouse directories
under `.bench_build/`, and prints, as its last stdout line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, the per-layer metrics with `--trace 1`.
The line before it holds the run's detail (per-class latencies, host
facts, failures; for a traced run the tracing overhead). Spans of a traced
run go to `.bench_build/traces/`. See graftbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170          # one run, build excluded
BUILD_LIMIT_S = 700        # the sbt build of a fresh checkout
HEAP = "2g"

sys.path.insert(0, HERE)

ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "graftbench/build.sbt",
            "graftbench/project/*.properties", "graftbench/src/**/*"]
    out = set()
    for p in pats:
        out.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                   if os.path.isfile(f))
    return sorted(out)


def source_stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile the library and the benchmark with sbt; returns the runtime
    classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f.read().splitlines()]
    cps = [l.removeprefix("[info] ") for l in lines
           if "graftbench" in l and "classes" in l and os.pathsep in l]
    if p.returncode != 0 or not cps:
        die(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def plant_wrong(truth_path, workload):
    """Corrupt one expectation (the benchmark's own test uses this to show
    a wrong answer is caught)."""
    with open(truth_path) as f:
        t = json.load(f)
    if workload == "query_mix":
        t["blocks"][0][0]["hash"] = "12345"
    else:
        t["batches"][0]["answers"][0]["hash"] = "12345"
    with open(truth_path, "w") as f:
        json.dump(t, f)


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_steal():
    """(steal, total) jiffies of the host's vCPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except OSError:
        return 0, 0


def overhead(result, workload, seed):
    """Traced vs untraced end-to-end metrics: traced / untraced - 1, against
    the latest untraced result of the same workload built from the same
    sources with the same scale and seconds (same seed first)."""
    host = result["host"]
    runs = []
    for r in sorted(glob.glob(os.path.join(BUILD, "results", f"{workload}-s*-t0-*.json")),
                    key=os.path.getmtime):
        with open(r) as f:
            h = json.load(f)["host"]
        if all(h.get(k) == host[k] for k in ("source_sha256", "scale", "seconds")):
            runs.append(r)
    same = [r for r in runs if f"-s{seed}-t0-" in os.path.basename(r)]
    pick = (same or runs)[-1:]
    if not pick:
        return {"against": None, "share": None,
                "reason": "no untraced result of these sources, scale and seconds: "
                          "run the same command with --trace 0 first"}
    with open(pick[0]) as f:
        base = json.load(f)
    return {"against": os.path.basename(pick[0]),
            "share": {k: (v / base["e2e"][k] - 1) if finite(v) and finite(base["e2e"].get(k))
                      and base["e2e"][k] else None
                      for k, v in result["e2e"].items()}}


def finite(v):
    return isinstance(v, (int, float)) and math.isfinite(v)


def pick_metrics(declared, source):
    """The declared metrics from the JVM's output, and whether each was
    there as a finite number (a missing or non-finite one reads 0 and
    fails the run)."""
    metrics, ok = {}, True
    for m in declared:
        v = source.get(m["name"])
        if not finite(v):
            ok, v = False, 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return metrics, ok


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see README.md)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a small one)")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one expectation; the run must then fail")
    a = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops its JVM (the `finally` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala",
                 "tools/gen_minidump.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} is missing: run from the root of a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    import gen  # after the checks: it imports tools/gen_minidump.py

    os.makedirs(BUILD, exist_ok=True)
    files = source_files()
    stamp = source_stamp(files)
    classpath = build(stamp)
    t_built = time.time()

    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(data)
    for d in ("results", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    stamp_s = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(work, "result.json")
    spans = os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}-{stamp_s}.jsonl")
    cmd = (["java", f"-Xmx{HEAP}"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--data", data, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", out, "--cpus", str(cpus)] +
           (["--spans", spans] if a.trace else []))
    log = os.path.join(work, "jvm.log")
    p = None
    steal0 = cpu_steal()
    try:
        # the JVM starts its session while the inputs are generated; it
        # waits for the READY marker before reading them
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            truth = gen.generate(a.workload, a.seed, data, a.scale)
            if a.plant_wrong:
                plant_wrong(os.path.join(data, "truth.json"), a.workload)
            open(os.path.join(data, "READY"), "w").close()
            try:
                code = p.wait(timeout=RUN_LIMIT_S - (time.time() - t_built))
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0 or not os.path.exists(out):
            with open(log) as lf:
                tail = lf.read()[-4000:]
            die(f"JVM run failed ({code}):\n{tail}")
        with open(out) as f:
            result = json.load(f)
    finally:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)

    steal1 = cpu_steal()
    result["host"].update({"cpu_steal_share": (steal1[0] - steal0[0]) /
                           max(1, steal1[1] - steal0[1]), "nproc": cpus, "git_sha": git_sha(),
                           "source_sha256": stamp, "seed": a.seed,
                           "workload": a.workload, "trace": a.trace,
                           "scale": a.scale, "seconds": a.seconds,
                           "build_s": t_built - t_start})
    result["selectivity"] = truth.get("selectivity")
    if a.trace:
        result["overhead"] = overhead(result, a.workload, a.seed)
        result["spans"] = os.path.relpath(spans, ROOT)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{stamp_s}.json"), "w") as f:
        json.dump(result, f)

    metrics, ok = pick_metrics(spec["per_layer"] if a.trace else spec["end_to_end"],
                               result["layers"] if a.trace else result["e2e"])
    attempted, failed = int(result["attempted"]), int(result["failed"])
    print(json.dumps({k: result.get(k) for k in
                      ("e2e", "detail", "host", "failures", "overhead", "selectivity")}))
    print(json.dumps({"correct": ok and failed == 0 and attempted > 0,
                      "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
