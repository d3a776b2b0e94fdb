"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/src) with the Scala compiler shipped in the Spark
distribution, into <build>/classes. A build whose sources and compiler
are unchanged is reused.

    python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
HARNESS = ROOT / "perfbench" / "src"


def spark_jars() -> Path:
    """The Spark distribution's jars: $SPARK_HOME's, else those of the
    first Spark distribution whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = Path(home) / "jars"
        if home and any(jars.glob("spark-core_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def sources() -> list:
    engine = sorted(ENGINE.rglob("*.scala")) if ENGINE.is_dir() else []
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {ENGINE}")
    return engine + sorted(HARNESS.rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files + sorted(RESOURCES.rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in spark_jars().glob("*.jar"))).encode())
    return h.hexdigest()


def build(build_dir: Path) -> Path:
    files = sources()
    classes = build_dir / "classes"
    want = stamp(files)
    marker = classes / "BUILD_STAMP"
    if marker.is_file() and marker.read_text() == want:
        return classes
    jars = spark_jars()
    if not jars.is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    tmp = build_dir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    (tmp / "BUILD_STAMP").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build(Path(sys.argv[1] if len(sys.argv) > 1 else ".bench_build").resolve()))
