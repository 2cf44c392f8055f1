"""Build step of the benchmark: compile graft and the harness with scalac.

The Scala compiler and every runtime dependency ship in Spark's own jar
directory (`$SPARK_HOME/jars`), so the build needs no dependency
resolution and writes nothing outside the build directory. It

1. compiles `src/main/scala` and `perfbench/src` into one jar;
2. records a JVM class-data-sharing archive of a session start and a
   calibration probe. Each run maps it instead of loading and verifying
   Spark's classes again, which halves the JVM's start-up on 4 cores.

A stamp of the source tree skips both when nothing changed.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA_JARS = ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("SPARK_HOME must point at a Spark install with jars/")
    return os.path.join(home, "jars")


def sources(root: str) -> list:
    main = os.path.join(root, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not files:
        raise RuntimeError(f"no engine sources under {main}")
    return files + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def stamp(files: list, jars: str) -> str:
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "build.py"), os.path.join(HERE, "gen.py")]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def java(classpath: list, archive: str, main: list, tmp: str,
         record: bool = False) -> list:
    """The harness JVM command line, shared by the build and every run."""
    flag = "ArchiveClassesAtExit" if record else "SharedArchiveFile"
    return (["java", "-Xmx2g", f"-XX:{flag}={archive}", f"-Djava.io.tmpdir={tmp}"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
            + ["-cp", ":".join(classpath)] + main)


def _run(cmd: list, what: str, cwd: str = None) -> None:
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise RuntimeError(f"{what} failed")


def ensure(root: str, build_dir: str):
    """Build if the sources changed; return (classpath, archive path)."""
    jars = spark_jars()
    files = sources(root)
    classes = os.path.join(build_dir, "classes")
    jar = os.path.join(build_dir, "graft-bench.jar")
    archive = os.path.join(build_dir, "graft-bench.jsa")
    stamp_file = os.path.join(build_dir, "build.stamp")
    classpath = [jar] + sorted(glob.glob(os.path.join(jars, "*.jar")))
    want = stamp(files, jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath, archive

    for p in (classes, stamp_file, archive):
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    os.makedirs(classes)
    compiler = [p for pat in SCALA_JARS for p in glob.glob(os.path.join(jars, pat))]
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    _run(["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
          "scala.tools.nsc.Main", "-nowarn", "-d", classes,
          "-classpath", os.path.join(jars, "*"), "@" + argfile], "scalac")
    # class-data sharing maps classes from jars only, not directories
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))

    sys.path.insert(0, HERE)
    import gen
    work = os.path.join(build_dir, "archive_run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen.calibration(work)
    _run(java(classpath, archive,
              ["perfbench.Harness", "archive", work, work, "0", "0", "0", "-"],
              os.path.join(work, "tmp"), record=True), "class archive run", cwd=work)
    shutil.rmtree(work)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classpath, archive


if __name__ == "__main__":
    root = os.path.dirname(HERE)
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(root, ".bench_build")
    print(ensure(root, out)[1])
