"""Build file of the benchmark package.

Compiles graft's main sources together with the harness under
``perfbench/src`` into ``.bench_build/classes-<hash>``, using the Scala
compiler that ships among the Spark jars (the same jars graft's own
build.sbt compiles against). The output directory is keyed by a hash of
every source file, so an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_TIMEOUT_S = 600


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise SystemExit("perfbench: no java executable (set JAVA_HOME or put java on PATH)")
    return found


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(root: Path) -> list:
    main = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not main.is_dir() or not (root / "build.sbt").is_file():
        raise SystemExit(f"perfbench: {root} is not a graft checkout (no build.sbt and src/main/scala)")
    return sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build(root: Path) -> Path:
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for jar in sorted(p.name for p in jars.glob("*.jar")):
        h.update(jar.encode())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    out_root = root / ".bench_build"
    out = out_root / f"classes-{h.hexdigest()[:16]}"
    if (out / "BUILT").is_file():
        return out
    out_root.mkdir(exist_ok=True)
    for old in out_root.glob("classes-*"):
        shutil.rmtree(old)
    tmp = out_root / f"classes-{h.hexdigest()[:16]}.tmp"
    tmp.mkdir()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(s) for s in srcs]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    try:
        subprocess.run(cmd, check=True, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    except subprocess.CalledProcessError as e:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: build failed (scalac exit {e.returncode})")
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: build did not finish in {BUILD_TIMEOUT_S} s")
    (tmp / "BUILT").touch()
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build(Path(__file__).resolve().parent.parent))
