"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM side (perfbench/src) into one jar, with the Scala
compiler that ships in the Spark distribution's jars.

    python3 perfbench/build.py        # from the repository root

The output goes to .bench_build/perfbench.jar and is reused while no
source file changes (the stamp is a hash of every compiled file). A jar,
not a class directory, so that the JVM can keep a class-data-sharing
archive of the run's classes (see run.py).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
SCALA = "2.13.17"


def spark_jars(root: str = ".") -> str:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the repository's build.sbt compiles against."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    for d in dirs:
        if os.path.isfile(os.path.join(d, f"scala-compiler-{SCALA}.jar")):
            return d
    raise SystemExit("perfbench: no Spark jars with scala-compiler-%s "
                     "(set SPARK_HOME)" % SCALA)


def sources(root: str) -> list:
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        raise SystemExit("perfbench: no program sources under src/main/scala "
                         "(run from the repository root)")
    return files + sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                                    recursive=True))


def build(root: str = ".", log=sys.stderr) -> tuple:
    """Compile if needed; returns (jar path, Spark jars dir)."""
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(root, BUILD_DIR)
    jar, stamp = os.path.join(base, "perfbench.jar"), os.path.join(base, "build.stamp")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar, jars
    out, tmp = os.path.join(base, "classes"), os.path.join(base, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    for old in glob.glob(os.path.join(base, "*.jsa")):
        os.remove(old)  # class-data archives of the previous build
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    print(f"perfbench: compiling {len(srcs)} files", file=log)
    subprocess.run(["java", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*")] + srcs,
                   check=True, stdout=log, stderr=log)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(glob.glob(os.path.join(out, "**/*.class"), recursive=True)):
            z.write(f, os.path.relpath(f, out))
    shutil.rmtree(out)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return jar, jars


if __name__ == "__main__":
    print(build()[0])
