#!/usr/bin/env python3
"""The repository benchmark: one command per run.

    python3 perfbench/run.py --workload ss_experiment --seed 1 --seconds 10 --trace 0

Builds the library and the driver from source (once per source state,
under .bench_build/), generates the workload's inputs from the seed,
runs the closed loop in one driver JVM on local[nproc], checks every
op's output against an independent reference, and prints one JSON
object as the last line of stdout: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Details (input properties, sample counts, the per-layer self-time
table) go to stderr and to .bench_build/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ss_experiment", "ss_interactive", "curation_ingest")
# a first run may take 900 s: compile, record the class archive, run
BUILD_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 100
# a run must end within 180 s of its start (its build aside); the driver
# stops its loop and cancels the op in flight, which then counts as
# failed, once RUN_LIMIT_S - CHECK_RESERVE_S have passed, and is killed
# if it has not exited CHECK_RESERVE_S / 2 later
RUN_LIMIT_S = 170
CHECK_RESERVE_S = 30
# what SparkSession needs outside spark-submit on JDK 17
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the library and the driver; returns the run classpath
    and the digest of the sources it was built from."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found; run from a full checkout")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("build.sbt not found at the checkout root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "c*-*")):
        os.remove(old)  # classpaths, jars and archives of earlier sources
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in r.stdout.splitlines() if "perfbench" in ln and ".jar" in ln]
    if r.returncode != 0 or not lines:
        with open(log, "a") as out:
            out.write(r.stdout)
        fail(f"build failed (exit {r.returncode}); see {log}")
    # class directories go into jars: the JVM's class-data sharing
    # archive (which cuts each run's start-up) accepts jars only
    entries = []
    for n, entry in enumerate(lines[-1].strip().split(":")):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes-{stamp}-{n}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, names in sorted(os.walk(entry)):
                    for name in sorted(names):
                        p = os.path.join(d, name)
                        z.write(p, os.path.relpath(p, entry))
            entry = jar
        entries.append(entry)
    cp = ":".join(entries)
    record_class_archive(cp, stamp)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, stamp


def class_archive(stamp):
    return os.path.join(BUILD, f"cds-{stamp}.jsa")


def record_class_archive(cp, stamp):
    """Records the class-data sharing archive every run of this build
    maps, from an untimed launch of the shortest workload, so that all
    measured runs start the JVM the same way."""
    work = os.path.join(BUILD, "work", "class-archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inp = os.path.join(work, "in")
    gen.generate("ss_interactive", 0, inp)
    code = run_jvm(cp, ["--workload", "ss_interactive", "--seed", "0", "--seconds", "0",
                        "--trace", "0", "--in", inp, "--out", os.path.join(work, "out"),
                        "--cores", str(nproc()), "--deadline-ms", "0"],
                   work, f"-XX:ArchiveClassesAtExit={class_archive(stamp)}", ARCHIVE_TIMEOUT_S)
    if code != 0 or not os.path.exists(class_archive(stamp)):
        fail(f"class archive launch failed (exit {code}); see {work}/jvm.log")
    shutil.rmtree(work, ignore_errors=True)


def benchmark():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, args, work, share, timeout_s):
    """Runs the driver, logging to `work`/jvm.log; returns its exit code."""
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", share, f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            return subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                  timeout=timeout_s).returncode
        except subprocess.TimeoutExpired:
            fail(f"driver still running {timeout_s:.0f} s after its start; see {log}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    bench = benchmark()
    cp, stamp = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S - CHECK_RESERVE_S
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inp, out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    t = time.time()
    props = gen.generate(a.workload, a.seed, inp)
    gen_s = time.time() - t
    cores = nproc()
    code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace), "--in", inp,
                        "--out", out, "--cores", str(cores),
                        "--deadline-ms", str(int(deadline * 1000))],
                   work, f"-XX:SharedArchiveFile={class_archive(stamp)}",
                   deadline + CHECK_RESERVE_S / 2 - time.time())
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"driver exited {code}; see {work}/jvm.log\n{tail}")
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    t = time.time()
    ops = summary["ops"]
    verdicts = check.check(a.workload, inp, out, ops)
    for o in ops:
        if o["error"]:
            verdicts[o["index"]] = o["error"]
        elif o["index"] not in verdicts:
            verdicts[o["index"]] = "output not checked"
    check_s = time.time() - t
    failed = sorted(i for i, v in verdicts.items() if v)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "nproc": cores, "commit": git_commit(),
              "inputs": props, "generate_s": gen_s, "check_s": check_s,
              "setup_runs_s": summary["setup_s"], "marks_ms": summary["marks_ms"],
              "wall_s": time.time() - t_start,
              "ops": len([o for o in ops if not o["traced"]]),
              "traced_ops": len([o for o in ops if o["traced"]]),
              "failures": {str(i): verdicts[i] for i in failed[:20]}}
    if a.trace:
        values, table = metrics.per_layer(summary)
        record["layer_table"] = table
    else:
        values = metrics.end_to_end(summary, verdicts)
    units = {m["name"]: m["unit"] for m in bench["per_layer" if a.trace else "end_to_end"]}
    unknown = sorted(set(values) - set(units))
    if unknown:
        fail(f"metrics not declared in BENCHMARK.json: {unknown}")
    # a traced run cut by its deadline may leave layers unmeasured
    values = {k: values.get(k, 0.0) for k in units}
    record["metrics"] = values
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    print(f"# {a.workload} seed={a.seed} nproc={cores} commit={record['commit']} "
          f"ops={record['ops']} traced_ops={record['traced_ops']} inputs={json.dumps(props)}",
          file=sys.stderr)
    for i in failed[:5]:
        print(f"# op {i} FAILED: {verdicts[i]}", file=sys.stderr)
    if a.trace:
        print(f"# {'span':<36}{'count':>7}{'total_ms':>12}{'self_ms':>12}", file=sys.stderr)
        for name, r in sorted(record["layer_table"].items(), key=lambda kv: -kv[1]["self_ms"]):
            print(f"# {name:<36}{r['count']:>7}{r['total_ms']:>12.1f}{r['self_ms']:>12.1f}",
                  file=sys.stderr)
    attempted = len(ops)
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in values.items()}}))


if __name__ == "__main__":
    main()
