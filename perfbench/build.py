"""Build file of the benchmark: compiles the program and the harness.

The program (src/main/scala) and the benchmark harness (perfbench/harness)
are compiled with the Scala compiler that ships in the Spark distribution's
jars, the same jars the program runs on (build.sbt's unmanagedBase). Output
goes to .bench_build/ in the checkout; each part is rebuilt only when one of
its sources changes.

    python3 perfbench/build.py        # prints the run classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no scala-compiler jar under {jars}; set SPARK_HOME")
    return jars


def _stamp(files, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(name: str, sources, classpath, extra: str = "") -> Path:
    out = BUILD / name
    stamp = _stamp(sources, extra)
    stamp_file = out / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return out
    tmp = BUILD / (name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(p) for p in classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp), "-nowarn"] + [str(s) for s in sorted(sources)]
    print(f"[build] compiling {name}: {len(sources)} files", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def build() -> list:
    """Compile what changed; return the classpath to run the harness."""
    src = ROOT / "src" / "main" / "scala"
    program_sources = list(src.rglob("*.scala")) if src.is_dir() else []
    if not program_sources:
        raise SystemExit(f"no program sources under {src}")
    jars = sorted(spark_jars().glob("*.jar"))
    program = _compile("program", program_sources, jars)
    harness = _compile("harness", list((ROOT / "perfbench" / "harness").glob("*.scala")),
                       jars + [program], extra=(program / ".stamp").read_text())
    return [harness, program] + jars


if __name__ == "__main__":
    print(os.pathsep.join(str(p) for p in build()))
