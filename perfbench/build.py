"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in the Spark
distribution's jar directory ($SPARK_HOME/jars, or else the unmanagedBase
of build.sbt), and packs the classes into one jar. The
program has no dependency beyond those jars, so no build tool or network is
needed. It then runs the benchmark's self-test once with
-XX:ArchiveClassesAtExit, which leaves a class-data-sharing archive that
later JVMs map instead of loading and verifying every Spark class again;
without it a run spends more of its set-up in class loading. A run works
without the archive too.

The output goes to <build dir>/perfbench, where the build dir is
$CARGO_TARGET_DIR when set and .bench_build otherwise, relative to the
checkout root. A stamp over every source file lets later runs reuse the
build until a source changes.

    python3 perfbench/build.py        # build (or confirm the build is fresh)
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def out_dir():
    d = pathlib.Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, or else the
    unmanagedBase the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        d = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        if not m:
            raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
        d = pathlib.Path(m.group(1))
    jars = sorted(d.glob("*.jar"))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {d}")
    return jars


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"build: program sources not found at {program}")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + [pathlib.Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("|".join(j.name for j in jars).encode())
    return h.hexdigest()


def java_cmd(main, args, work, archive=None, dump=None):
    """The JVM command that runs `main` from the built jar; `work` holds its
    temporary files."""
    out = out_dir()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    if dump:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    classpath = [str(out / "app.jar")] + [str(j) for j in spark_jars()]
    return cmd + ["-cp", os.pathsep.join(classpath), main,
                  "--work", str(work), "--out", str(out)] + args


def compile_jar(files, jars, out):
    compiler = []
    for name in SCALA_JARS:
        found = [j for j in jars if j.name.startswith(name + "-2.13")]
        if not found:
            raise SystemExit(f"build: {name} jar missing from {jars[0].parent}")
        compiler.append(str(found[0]))
    classes = out / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(str(j) for j in jars),
           "-d", str(classes)] + [str(f) for f in files]
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    with zipfile.ZipFile(out / "app.jar", "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)


def archive_classes(out):
    """Writes the class-data-sharing archive from one self-test run."""
    work = out / "work" / "archive"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    print("build: writing the class-data-sharing archive", file=sys.stderr, flush=True)
    try:
        res = subprocess.run(java_cmd("graft.perfbench.SelfTest", [], work, dump=out / "app.jsa"),
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                             timeout=600)
        ok = res.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not ok:
        (out / "app.jsa").unlink(missing_ok=True)
        print("build: self-test failed; running without the archive", file=sys.stderr)


def build():
    """Returns the archive path (or None), building first when stale."""
    files = sources()
    jars = spark_jars()
    out = out_dir()
    want = stamp(files, jars)
    stamp_file = out / "stamp"
    if not (stamp_file.is_file() and stamp_file.read_text() == want):
        stamp_file.unlink(missing_ok=True)
        (out / "app.jsa").unlink(missing_ok=True)
        out.mkdir(parents=True, exist_ok=True)
        compile_jar(files, jars, out)
        archive_classes(out)
        stamp_file.write_text(want)
    archive = out / "app.jsa"
    return archive if archive.is_file() else None


if __name__ == "__main__":
    print(build() or "built without a class-data-sharing archive")
