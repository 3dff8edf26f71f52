"""Build file of the benchmark package: compiles the program's Scala
sources (src/main/scala) together with the benchmark's own (perfbench/src)
against the Spark jars the program's build.sbt names, with the Scala
compiler those jars ship. The output is keyed by a hash of every source, so a checkout builds
once and an edited source rebuilds.

    python3 perfbench/build.py      # prints the classpath it built
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def build_root():
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def spark_jars():
    """The Spark jars the program builds against: the `unmanagedBase`
    directory the repository's build.sbt names, else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m:
        jars = Path(m.group(1))
    elif "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        raise BuildError("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    if not jars.is_dir():
        raise BuildError(f"no Spark jars at {jars}")
    return jars


def _sources():
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def classpath():
    """Compile if needed; return the runtime classpath entries."""
    jars = spark_jars()
    files = _sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = build_root() / "perfbench" / f"classes-{h.hexdigest()[:16]}"
    if not (out / ".complete").exists():
        compiler = [str(p) for p in sorted(jars.glob("scala-*.jar"))
                    if p.name.split("-2.")[0] in ("scala-compiler", "scala-library", "scala-reflect")]
        if len(compiler) != 3:
            raise BuildError(f"Scala compiler jars not found in {jars}")
        tmp = out.with_name(out.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx1536m",
               "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(tmp),
               "-cp", str(jars / "*")] + [str(f) for f in files]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        (tmp / ".complete").touch()
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
        for old in glob.glob(str(out.parent / "classes-*")):
            if Path(old) != out:
                shutil.rmtree(old, ignore_errors=True)
    return [str(out), str(RESOURCES), str(jars / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(classpath()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
