"""Build the program and the benchmark harness from source.

The program is `src/main/scala` of the checkout, compiled the way its sbt
build does (Scala 2.13 against the Spark jars of the installation, no other
main dependencies, with the Scala compiler those jars ship); the harness is
`perfbench/harness` compiled against it.
Each output is cached under `.bench_build/` by a hash of its inputs, so only
the first run in a checkout compiles.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def _spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else the directory
    the sbt build compiles against (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    text = sbt.read_text() if sbt.is_file() else ""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return Path(m.group(1))


class BuildError(Exception):
    pass


def _jars():
    d = _spark_jars()
    jars = sorted(d.glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {d}")
    return jars


def _compiler(jars):
    names = ("scala-compiler-", "scala-library-", "scala-reflect-")
    found = [j for j in jars if j.name.startswith(names)]
    if len(found) != 3:
        raise BuildError("the Spark jars hold no Scala compiler")
    return found


def _sources(d):
    files = sorted(d.rglob("*.scala")) if d.is_dir() else []
    if not files:
        raise BuildError(f"no Scala sources under {d}")
    return files


def _digest(parts, files):
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _compile(name, files, classpath, jars):
    """Compile `files` into .bench_build/<name>/classes once; the directory
    only appears, by rename, after a successful compile."""
    dest = OUT / name
    if dest.is_dir():
        return dest / "classes"
    tmp = OUT / f".{name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(map(str, _compiler(jars))), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp / "classes"),
           "-classpath", os.pathsep.join(map(str, classpath))] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    tmp.rename(dest)
    return dest / "classes"


def build():
    """Compile (or reuse) program and harness; return the runtime classpath."""
    jars = _jars()
    program_files = _sources(ROOT / "src" / "main" / "scala")
    harness_files = _sources(ROOT / "perfbench" / "harness")
    OUT.mkdir(exist_ok=True)
    jar_names = [j.name for j in jars]
    program = _compile("program-" + _digest(jar_names, program_files), program_files, jars, jars)
    harness = _compile("harness-" + _digest([program.parent.name], harness_files),
                       harness_files, [program] + jars, jars)
    return [harness, program] + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(map(str, build())))
    except BuildError as e:
        sys.exit(f"build: {e}")
