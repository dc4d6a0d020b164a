"""Build file of the benchmark.

Compiles the program's sources (`src/main/scala`, plus `src/main/resources`)
together with the benchmark's own (`perfbench/src`) into one class
directory, `<CARGO_TARGET_DIR or .bench_build>/classes` under the checkout.
The Scala compiler and every library come from the Spark installation
(`$SPARK_HOME/jars`, or the one `spark-submit` on PATH belongs to), the
same jars the program's own sbt build compiles against. A content hash
of all inputs is kept next to the classes, so an unchanged tree is not
rebuilt.

    python3 perfbench/build.py     # from the checkout root
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

PROGRAM_SOURCES = ("src", "main", "scala")
PROGRAM_RESOURCES = ("src", "main", "resources")
BENCH_SOURCES = ("perfbench", "src")


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not Path(home, "jars").is_dir():
        sys.exit("perfbench: no Spark installation found; set SPARK_HOME")
    return Path(home, "jars")


def out_dir(root: Path) -> Path:
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def _tree(root: Path, parts) -> list:
    base = root.joinpath(*parts)
    return sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else []


def _digest(root: Path, files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root: Path) -> Path:
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    sources = [f for f in _tree(root, PROGRAM_SOURCES) + _tree(root, BENCH_SOURCES)
               if f.suffix == ".scala"]
    resources = _tree(root, PROGRAM_RESOURCES)
    if not any(f.is_relative_to(root.joinpath(*PROGRAM_SOURCES)) for f in sources):
        sys.exit(f"perfbench: no program sources under {root}")
    out = out_dir(root)
    classes, stamp = out / "classes", out / "classes.sha256"
    digest = _digest(root, sources + resources)
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes

    compiler = [next(iter(sorted(jars.glob(f"scala-{n}-2.13.*.jar"))), None)
                for n in ("compiler", "library", "reflect")]
    if None in compiler:
        sys.exit(f"perfbench: no Scala 2.13 compiler jars in {jars}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    classpath = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr, flush=True)
    rc = subprocess.run(
        [str(java), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(map(str, compiler)),
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", classpath,
         f"@{argfile}"],
        stdout=sys.stderr).returncode
    if rc != 0:
        sys.exit(f"perfbench: compilation failed ({rc})")
    for f in resources:
        dest = tmp / f.relative_to(root.joinpath(*PROGRAM_RESOURCES))
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    print(build(Path.cwd()))
