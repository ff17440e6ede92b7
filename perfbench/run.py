"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine and the benchmark are compiled
from source on first use (see build.py); the run then starts one JVM that
generates the inputs from the seed, sets the workload up, warms it, measures
it for `--seconds` of timed passes and checks its outputs. Every metric is
printed by name with its unit; the last line is one JSON object
{"correct", "attempted", "failed", "metrics"} holding the end-to-end metrics
(`--trace 0`) or the per-layer metrics of a traced run (`--trace 1`).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("serve_mixed", "index_search")
RUN_TIMEOUT_S = 170
CPUS = 4
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def jvm_command(classes: Path, work: Path, args) -> list:
    jars = build.spark_jars()
    cpus = max(1, min(CPUS, os.cpu_count() or 1))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java(), *opens,
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}",
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--work", str(work),
            "--traces", str(build.BUILD_DIR / "traces")]


def main() -> int:
    args = parse_args()
    if args.seconds < 1:
        sys.stderr.write("--seconds must be at least 1\n")
        return 2
    root = Path.cwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        return 2
    work = root / build.BUILD_DIR / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        proc = subprocess.Popen(jvm_command(classes, work, args), cwd=root, env=env,
                                stdout=sys.stderr, start_new_session=True)
        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(3)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"run: no result within {RUN_TIMEOUT_S} s\n")
            stop()
        result_file = work / "result.json"
        if code != 0 or not result_file.exists():
            sys.stderr.write(f"run: benchmark JVM exited with code {code}\n")
            return 3
        result = json.loads(result_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in result["report"]:
        print(line)
    print(json.dumps(result["summary"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
