"""The benchmark's build: compiles the repository's main sources together
with the harness under perfbench/harness into .bench_build/, using the
Scala compiler that ships in the Spark distribution's jars. Output is
keyed by a hash of every source file, so an unchanged tree is not
rebuilt. Run it alone with `python3 perfbench/build.py`."""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


def spark_jars():
    """The Spark distribution's jars (they include scala-compiler):
    $SPARK_HOME/jars, else jars/ beside the first bin/spark-submit on PATH
    that has them."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if list(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: {main} not found; run from a checkout of the repository")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "harness").rglob("*.scala"))


def build():
    """Compiles if needed and returns the class directory."""
    srcs = sources()
    resources = ROOT / "src" / "main" / "resources"
    digest = hashlib.sha256()
    for f in srcs + (sorted(p for p in resources.rglob("*") if p.is_file())
                     if resources.is_dir() else []):
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    key = digest.hexdigest()[:16]
    out = BUILD / f"classes-{key}"
    if (out / ".complete").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old)
    tmp = BUILD / f"classes-{key}.partial"
    tmp.mkdir()
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(s) for s in srcs]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".complete").write_text(key)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
