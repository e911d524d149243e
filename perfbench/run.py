"""Benchmark command.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the program and harness if needed (perfbench/build.py), then runs
each requested workload in its own JVM (perfbench.Main) from the root of
the checkout. Everything it writes stays under .bench_build/. Every
metric is printed by name with its unit; the last stdout line is the
JSON summary of the (last) workload run.
"""
import argparse
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["detect_archive", "fuzzy_radius", "index_ingest"]
# One run must end within 180 s; the JVM is stopped before that.
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Module opens Spark needs on JDK 17 outside spark-submit (the list of
# the program's build.sbt).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_one(workload: str, args, work: Path) -> int:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={work / 'hadoop-tmp'}",
           f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'log4j2.properties'}"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work)]
    # Spark's scratch space and Hadoop's temp dir stay inside the work dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {workload} exceeded {RUN_TIMEOUT_S} s, stopped", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main() -> int:
    # a terminated run still stops its JVM (the finally in run_one)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    build.build()
    work = build.BUILD / "work"
    for w in WORKLOADS if args.workload == "all" else [args.workload]:
        code = run_one(w, args, work)
        if code != 0:
            print(f"perfbench: {w} failed (exit {code})", file=sys.stderr)
            return code or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
