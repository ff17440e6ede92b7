"""Build file of the benchmark: compiles the engine's sources together with the
benchmark's own Scala sources into one class directory.

The compiler is the Scala compiler that ships among Spark's jars
(`$SPARK_HOME/jars/scala-compiler-*.jar`), so the build needs no build tool,
no network and no dependency cache. Output goes under `.bench_build/` of the
checkout, in a directory named after a digest of every source file, so an
unchanged tree is compiled once and a changed one is never served stale
classes. Run `python3 perfbench/build.py` to build without running.
"""

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
PROGRAM_SOURCES = Path("src") / "main" / "scala"
BENCH_SOURCES = HERE / "src"
BUILD_DIR = Path(".bench_build") / "perfbench"
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark install with a jars/ directory")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and JAVA_HOME unset")
    return found


def sources(root: Path) -> list:
    program = root / PROGRAM_SOURCES
    if not program.is_dir():
        raise BuildError(f"program sources not found under {PROGRAM_SOURCES}")
    srcs = sorted(program.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))
    if not srcs:
        raise BuildError("no Scala sources found")
    return srcs


def build(root: Path) -> Path:
    """Compile (or reuse) and return the class directory."""
    jars = spark_jars()
    srcs = sources(root)
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(b"\0")
        digest.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        digest.update(j.name.encode())
    out_root = root / BUILD_DIR
    out_root.mkdir(parents=True, exist_ok=True)
    classes = out_root / f"classes-{digest.hexdigest()[:16]}"
    with open(out_root / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (classes / ".complete").exists():
            return classes
        for stale in out_root.glob("classes-*"):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = out_root / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = out_root / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        cp = str(jars / "*")
        cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-d", str(tmp), "-classpath", cp, "-nowarn", f"@{argfile}"]
        try:
            done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                                  text=True, timeout=COMPILE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BuildError("compile timed out")
        if done.returncode != 0:
            sys.stderr.write(done.stdout)
            raise BuildError(f"compile failed with exit code {done.returncode}")
        (tmp / ".complete").write_text("ok\n")
        tmp.rename(classes)
        return classes


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(2)
