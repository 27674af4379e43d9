"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark harness (`perfbench/src`) with the Scala
compiler that ships in Spark's jars, packs the classes and the engine's
resources into `<build>/perfbench.jar`, and dumps the classes a run loads
into a class-data-sharing archive, `<build>/perfbench.jsa`, which roughly
halves the JVM and session start of every run.

    python3 perfbench/build.py          # from the repository root

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`.
A stamp over every source file skips the build when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    resources = sorted(glob.glob(os.path.join(root, "src/main/resources/*")))
    return engine + harness, resources


def build(root):
    """Build if needed; returns (classpath, JVM options) for benchmark runs."""
    jars = spark_jars()
    srcs, resources = sources(root)
    digest = hashlib.sha256(jars.encode())
    for f in srcs + resources:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = build_dir(root)
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "perfbench.jsa")
    stamp_file = os.path.join(out, "perfbench.stamp")
    classpath = f"{jar}{os.pathsep}{jars}"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        compile_jar(out, srcs, resources, jars, jar)
        train(out, classpath, archive)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    opts = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    return classpath, opts


def compile_jar(out, srcs, resources, jars, jar):
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss16m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
                        "-classpath", jars, "-d", classes, "-nowarn", "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
        for f in resources:
            z.write(f, os.path.basename(f))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)


def train(out, classpath, archive):
    """Dump the archive from a short run; without one, runs start slower."""
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(out, "train")
    r = subprocess.run(["java", f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:disable",
                        f"-Djava.io.tmpdir={out}", "-cp", classpath] + add_opens()
                       + ["perfbench.Train", work],
                       stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        print(f"[perfbench] no class-data archive: {r.stderr[-2000:]}", file=sys.stderr)


def add_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in pkgs]


if __name__ == "__main__":
    try:
        classpath, opts = build(os.getcwd())
        print(" ".join(opts + ["-cp", classpath]))
    except BuildError as e:
        sys.exit(f"[perfbench] {e}")
