"""Build file of the benchmark package.

Compiles the library (src/main/scala) together with the benchmark sources
(perfbench/src) into .bench_build/perfbench.jar with the Scala compiler
that ships in Spark's jars directory; no sbt, no network. A stamp over
every source's content skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classpath on success
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
JAR = BUILD / "perfbench.jar"
STAMP = BUILD / "build.stamp"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars directory the sbt build compiles
    against (its `unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jars directory (set SPARK_HOME)")


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    if not lib.is_dir():
        raise SystemExit(f"perfbench: library sources missing under {lib}")
    found = sorted(lib.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    return [p for p in found if p.is_file()]


def resources() -> list:
    res = ROOT / "src" / "main" / "resources"
    return sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []


def stamp_of(files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_env() -> dict:
    env = dict(os.environ)
    env.pop("JAVA_TOOL_OPTIONS", None)
    env.pop("_JAVA_OPTIONS", None)
    return env


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    res = resources()
    stamp = stamp_of(srcs + res)
    classpath = f"{JAR}{os.pathsep}{jars}/*"
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return classpath
    BUILD.mkdir(exist_ok=True)
    STAMP.unlink(missing_ok=True)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp), f"@{argfile}"]
    done = subprocess.run(cmd, cwd=ROOT, env=java_env(), stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed ({done.returncode})")
    base = ROOT / "src" / "main" / "resources"
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(tmp.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(tmp).as_posix())
        for p in res:
            z.write(p, p.relative_to(base).as_posix())
    shutil.rmtree(tmp)
    STAMP.write_text(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
