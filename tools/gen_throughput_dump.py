"""Generate the large synthetic dumps behind SURVEY §6's ETL throughput
numbers (231 MB / 1.02 GB): gen_minidump's entity generator at scale, same
framing. Usage: python3 tools/gen_throughput_dump.py <n_entities> <out>
(500000 -> ~231 MB, 2200000 -> ~1.02 GB). Per-phase ETL times (parse +
cache, sinks, jobs) come from the benchmark's traced query_mix run:
python3 graftbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 1"""
import sys, json, os
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_minidump as g

N = int(sys.argv[1]) if len(sys.argv) > 1 else 500000
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/dump.json"
with open(out, "w") as f:
    f.write("[\n")
    for i in range(N):
        f.write(json.dumps(g.gen_entity(i), separators=(",", ":")) + ",\n")
    f.write("]\n")
print("done")
