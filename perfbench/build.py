#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars
directory, into .bench_build/ at the repository root.

    python3 perfbench/build.py        # from the repository root

Rebuilds only when a source file changed (a digest of every source is kept
next to the classes). Prints the run classpath on success.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark installation: set SPARK_HOME")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = str(Path(home) / "bin" / "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java on PATH")
    return exe


def sources(root: Path):
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return engine, bench


def digest(root: Path, files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars: Path, out: Path, extra_cp: str, files) -> None:
    out.mkdir(parents=True)
    cp = str(jars / "*") + (os.pathsep + extra_cp if extra_cp else "")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out)] + [str(f) for f in files]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:] +
                         res.stderr[-4000:])


def build(root: Path) -> str:
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    engine, bench = sources(root)
    build_dir = root / BUILD_DIR
    stamp = build_dir / "stamp"
    want = digest(root, engine + bench)
    cp = os.pathsep.join([str(build_dir / "bench"), str(build_dir / "engine"),
                          str(jars / "*")])
    if stamp.exists() and stamp.read_text() == want:
        return cp
    if build_dir.exists():
        shutil.rmtree(build_dir)
    scalac(jars, build_dir / "engine", "", engine)
    scalac(jars, build_dir / "bench", str(build_dir / "engine"), bench)
    stamp.write_text(want)
    return cp


def main() -> int:
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
