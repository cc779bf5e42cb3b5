"""Build file of the benchmark's JVM package.

Compiles the program (`src/main/scala`) and the harness
(`perfbench/jvm/src`) against the Spark jar directory that `build.sbt`
names as its `unmanagedBase`, with the Scala compiler shipped there:
the same Scala and Spark the sbt build uses. Classes go under
`.bench_build/classes/<source hash>/`, so an unchanged tree is compiled
once per checkout.

    python3 perfbench/build.py            # build, print the classpath
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
HARNESS_SRC = HERE / "jvm" / "src"


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory the sbt build compiles against (`unmanagedBase`)."""
    sbt = Path(root) / "build.sbt"
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
    if not found:
        raise BuildError(f"no unmanagedBase jar directory in {sbt}")
    jars = Path(found.group(1))
    if not (jars / "scala-compiler-2.13.17.jar").exists():
        raise BuildError(f"no Scala 2.13.17 compiler among the jars in {jars}")
    return jars


def work_dir(root):
    return Path(root) / ".bench_build"


def _sources(root):
    program = Path(root) / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"no program sources under {program}")
    prog = sorted(program.rglob("*.scala"))
    harness = sorted(HARNESS_SRC.rglob("*.scala"))
    if not prog or not harness:
        raise BuildError("program or harness sources missing")
    return prog, harness


def _scalac(jars, out, classpath, files):
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{res.stdout[-4000:]}")


def ensure(root):
    """Compile if needed; return (runtime classpath, source hash)."""
    jars = spark_jars(root)
    prog, harness = _sources(root)
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(str(f.relative_to(root) if f.is_relative_to(root) else f.name).encode())
        h.update(f.read_bytes())
    key = h.hexdigest()[:16]
    base = work_dir(root) / "classes"
    out = base / key
    program, bench = out / "program", out / "harness"
    if not (out / ".ok").exists():
        if base.exists():
            for old in base.iterdir():
                shutil.rmtree(old, ignore_errors=True)
        _scalac(jars, program, f"{jars}/*", prog)
        _scalac(jars, bench, f"{program}:{jars}/*", harness)
        (out / ".ok").write_text(key)
    return f"{bench}:{program}:{jars}/*", key


if __name__ == "__main__":
    try:
        print(ensure(Path.cwd())[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
