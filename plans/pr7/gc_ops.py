"""Which measured op each GC pause of a perfbench run fell in.

    JAVA_TOOL_OPTIONS="-Xlog:gc:file=gc.log:uptime" \
        python3 perfbench/run.py --workload ss_experiment --seed 111 --seconds 6 --trace 0
    python3 plans/pr7/gc_ops.py .bench_build/work/ss_experiment/out/summary.json gc.log

The JVM picks the option up from the environment, so the benchmark
runs unchanged. Prints the run's phase marks and op times (seconds
since JVM start), then every full collection and every pause that fell
inside a measured op, with the op it fell in.
"""
import json
import re
import sys

summary = json.load(open(sys.argv[1]))
t0 = summary["marks_ms"]["jvm_start"]
ops = [(o["index"], o["kind"], (o["start"] - t0) / 1000, (o["end"] - t0) / 1000)
       for o in summary["ops"] if not o["traced"]]
marks = {k: round((v - t0) / 1000, 1) for k, v in summary["marks_ms"].items()}
print("marks_s", marks)
print("ops", " ".join(f"{i}:{k}:{(e - s) * 1000:.0f}ms" for i, k, s, e in ops))
pause = re.compile(r"\[(\d+\.\d+)s\].*Pause (Full|Young) \((.*?)\).* (\d+\.\d+)ms")
for line in open(sys.argv[2]):
    m = pause.match(line)
    if not m:
        continue
    t = float(m.group(1))
    inside = [f"{i}:{k}" for i, k, s, e in ops if s <= t <= e]
    if inside or m.group(2) == "Full":
        print(f"  {t:7.2f}s {m.group(2):5s} ({m.group(3)}) {float(m.group(4)):6.1f} ms"
              f"  op {inside[0] if inside else '-'}")
