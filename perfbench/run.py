#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call compiles the repository
(perfbench/build.py). The run drives the KG layers from one JVM
(local[nproc], a single client), checks their outputs, and prints
{"correct", "attempted", "failed", "metrics"} as the last stdout line:
the end-to-end metrics named in BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1 (0 for a layer the workload does not
drive). Everything else a run measured
(inputs, per-workload figures, warm-up walls, errors, spans, host noise)
goes to .bench_out/<workload>-seed<seed>-trace<t>.json; the JVM log to
the .log beside it. Scratch data lives in .bench_work and is removed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("batch_build", "stream_fold")
TIMEOUT_S = 170
# what spark-submit would add on JDK 17 (build.sbt carries the same list)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return 0, 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build.build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        reported = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    artifact = os.path.join(out_dir, stem + ".json")
    if os.path.exists(artifact):
        os.remove(artifact)
    work = os.path.join(ROOT, ".bench_work", f"{stem}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    cmd = ["java", *OPENS, "-Xmx3g",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graft.perfbench.KgBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", os.path.join(work, "run"), "--artifact", artifact]
    steal0, total0 = cpu_times()
    load0 = os.getloadavg()
    with open(os.path.join(out_dir, stem + ".log"), "w") as log:
        # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir: keep
        # Spark's scratch inside the work dir either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"run: {stem} exceeded {TIMEOUT_S} s", file=sys.stderr)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_times()
    load1 = os.getloadavg()

    if p.returncode != 0 or not os.path.exists(artifact):
        print(f"run: the JVM exited with {p.returncode} and no result; see {log.name}",
              file=sys.stderr)
        sys.exit(1)
    with open(artifact) as fh:
        record = json.load(fh)
    measured = record["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": record["correct"], "attempted": record["ops_attempted"],
        "failed": record["ops_failed"],
        "metrics": {m["name"]: {"value": float(measured.get(m["name"]) or 0.0), "unit": m["unit"]}
                    for m in reported},
    }
    record["result"] = result
    record["host"] = {
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "loadavg_1m_start": load0[0], "loadavg_1m_end": load1[0],
        "loadavg_5m_end": load1[1], "nproc": os.cpu_count(),
    }
    with open(artifact, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
