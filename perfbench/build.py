#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/scala) in one scalac run, against the
Spark jars the program's own build uses ($SPARK_HOME/jars, else the
`unmanagedBase` of build.sbt; the Scala compiler ships among them).

Output goes to .bench_build/perfbench-<key>/classes in the checkout, where
<key> hashes every source and resource file, so an unchanged tree is built
once. Usage: python3 perfbench/build.py  (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"
BUILD_DIR = ROOT / ".bench_build"


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = (ROOT / "build.sbt").read_text() if (ROOT / "build.sbt").exists() else ""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return Path(m.group(1))


def source_files():
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def source_key():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = source_files() + sorted(p for p in RESOURCES.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath(classes):
    return os.pathsep.join([str(classes), str(RESOURCES), str(spark_jars() / "*")])


def build():
    """Returns the class directory, compiling first if the tree changed."""
    for d in SOURCES:
        if not d.is_dir():
            raise SystemExit(f"perfbench: {d} is missing; run from a full checkout")
    if not spark_jars().is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {spark_jars()}")
    out = BUILD_DIR / f"perfbench-{source_key()}"
    classes = out / "classes"
    if (out / "ok").exists():
        return classes
    if out.exists():
        shutil.rmtree(out)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in source_files()))
    jars = str(spark_jars() / "*")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", str(classes), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    (out / "ok").write_text("")
    for old in BUILD_DIR.glob("perfbench-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
