"""Build file of the OSM city-extract benchmark.

Compiles the engine's sources (src/main/scala at the repository root)
together with the benchmark's own (osmbench/src) using the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars), so
the build needs no dependency resolution. Output goes to
osmbench/.build/<source hash>/ and is reused while the sources are
unchanged.

    python3 osmbench/build.py      # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME", "")
    jars = Path(home) / "jars"
    if not home or not jars.is_dir():
        raise SystemExit("osmbench: SPARK_HOME must name a Spark 4 installation")
    return jars


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"osmbench: engine sources not found at {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src").glob("*.scala"))


def build() -> list:
    """Compiles if needed; returns the runtime classpath entries."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = HERE / ".build" / digest.hexdigest()[:16]
    classpath = [str(out), str(ROOT / "src" / "main" / "resources"), str(jars / "*")]
    if (out / ".done").exists():
        return classpath
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    scratch = HERE / ".work" / "tmp"
    scratch.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-cp", str(jars / "*")] + [str(s) for s in srcs]
    try:
        subprocess.run(cmd, check=True, timeout=840, stdout=sys.stderr)
    except subprocess.CalledProcessError as e:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"osmbench: scalac exited with code {e.returncode}")
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("osmbench: build timed out")
    (tmp / ".done").touch()
    for old in (HERE / ".build").iterdir():
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, out)
    return classpath


if __name__ == "__main__":
    print(os.pathsep.join(build()))
