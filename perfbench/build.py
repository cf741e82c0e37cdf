#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jars, into .bench_build/classes-<source hash>/.

No sbt and no network: the classpath is the jars of the local Spark
install ($SPARK_HOME, or the one whose spark-submit is on PATH). A build
whose sources are unchanged is reused.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
BENCH = Path(__file__).resolve().parent


def spark_jars():
    """Jars of the Spark install that ships the Scala compiler: $SPARK_HOME,
    else the install of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [str(Path(d, "spark-submit").resolve().parent.parent)
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return sorted(jars.glob("*.jar"))
    raise SystemExit("no Spark jars with a Scala compiler: set SPARK_HOME to a Spark 4 install")


def sources():
    main = ROOT / "src" / "main"
    scala = sorted((main / "scala").rglob("*.scala")) if main.is_dir() else []
    if not scala:
        raise SystemExit(f"no program sources under {main / 'scala'}: "
                         "run from the root of a graft checkout")
    resources = sorted(p for p in (main / "resources").rglob("*") if p.is_file())
    harness = sorted((BENCH / "src").rglob("*.scala"))
    return scala + harness, resources


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Returns the classes directory, compiling it first if needed."""
    scala, resources = sources()
    out = BUILD / f"classes-{source_hash(scala + resources)}"
    if (out / ".complete").exists():
        return out
    tmp = BUILD / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in scala) + "\n")
    cp = ":".join(str(j) for j in spark_jars())
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {len(scala)} sources into {out}", file=sys.stderr)
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr)
    finally:
        argfile.unlink(missing_ok=True)
    for r in resources:
        dst = tmp / r.relative_to(ROOT / "src" / "main" / "resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def classpath(classes):
    return ":".join([str(classes)] + [str(j) for j in spark_jars()])


if __name__ == "__main__":
    print(build())
