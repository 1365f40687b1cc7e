"""Build file of the benchmark: compiles the repo's Scala sources together
with the harness under perfbench/scala into one class directory.

It calls the Scala compiler that ships in Spark's jar directory (the same
jars the repo's build.sbt compiles against), so a build needs no sbt and
no dependency resolution. The output is reused while no source changes.

    python3 perfbench/build.py [OUT_DIR]      # default: $CARGO_TARGET_DIR or .bench_build
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources(root: Path) -> list:
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"no {main}: run from the root of a checkout of the repo")
    return sorted(main.rglob("*.scala")) + sorted((root / "perfbench" / "scala").rglob("*.scala"))


def build(root: Path, out: Path) -> Path:
    """Returns the class directory, compiling first if any source changed."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    classes, stamp = out / "classes", out / "classes.sha256"
    if classes.is_dir() and stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    (out / "tmp").mkdir(exist_ok=True)
    cp = str(spark_jars() / "*")
    subprocess.run([java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out / 'tmp'}",
                    "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", cp, "-d", str(tmp), *map(str, srcs)],
                   check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    target = Path(sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    print(build(Path.cwd(), target.resolve()))
