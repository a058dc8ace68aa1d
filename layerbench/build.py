"""Build of the layered benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (layerbench/scala) with the Scala compiler that ships in the
Spark distribution, packs the classes into one jar under .bench_build/, and
records a class-data-sharing archive of the classes a run loads, which
halves the JVM's start-up. A build is keyed by a digest of every source file
(the benchmark's own scripts included), the Spark jars and the JVM, and is
skipped when that digest has been built.

    python3 layerbench/build.py      # build, print the jar's path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "layerbench"
WORK = ROOT / ".bench_work"


# The module opens Spark needs on JDK 17 when it is not started by
# spark-submit; the same list as build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "-Xmx3g"
# The parallel collector with a young generation of fixed size: under G1,
# the catalog's peak resident set differed by a sixth from run to run on
# the same entries, as old regions were placed in untouched memory or not;
# the parallel collector's old generation grows contiguously, and its runs
# differed by a twentieth. Left to ergonomics, the young generation's size,
# and with it the resident set and the GC's share of a run, varies too.
GC = "-XX:+UseParallelGC"
YOUNG = "-Xmn768m"
# Every JVM here: no hsperfdata file in the system's temporary directory,
# which lies outside the checkout.
NO_PERF = "-XX:-UsePerfData"


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of SPARK_HOME, else of the first Spark distribution whose
    bin/spark-submit is on PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        if (home / "jars").is_dir():
            return home / "jars"
    raise BuildError("no Spark distribution found; set SPARK_HOME")


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"no program sources at {program.relative_to(ROOT)}; "
                         "run the benchmark from the root of a full checkout")
    own = ROOT / "layerbench"
    return (sorted(program.rglob("*.scala")) + sorted((own / "scala").rglob("*.scala")) +
            sorted(own.glob("*.py")))


def java_version():
    out = subprocess.run(["java", NO_PERF, "-version"], capture_output=True, text=True)
    return out.stderr.strip()


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    for j in sorted(p.name for p in spark_jars().glob("*.jar")):
        h.update(j.encode() + b"\0")
    h.update(java_version().encode())
    return h.hexdigest()


def jvm_args(out):
    """JVM options of every benchmark JVM started from build `out`."""
    args = [HEAP, GC, YOUNG, NO_PERF, "-Xss8m"]
    for p in ADD_OPENS:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    args += [
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={ROOT / 'layerbench' / 'log4j2.properties'}",
        f"-Djava.io.tmpdir={WORK / 'tmp'}",
    ]
    archive = out / "classes.jsa"
    if archive.exists():
        args.append(f"-XX:SharedArchiveFile={archive}")
    return args


def classpath(out):
    return f"{out / 'layerbench.jar'}:{spark_jars()}/*"


def build(cores, log=sys.stderr):
    """Build unless this source digest is built; return the build directory."""
    files = sources()
    key = digest(files)
    out = BUILD / key[:16]
    if (out / "done").exists():
        return out, key
    if BUILD.exists():
        shutil.rmtree(BUILD)
    classes = out / "classes"
    classes.mkdir(parents=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    argfile = out / "sources.txt"
    scala = [f for f in files if f.suffix == ".scala"]
    argfile.write_text("\n".join(str(f) for f in scala) + "\n")
    print(f"layerbench: compiling {len(scala)} sources", file=log, flush=True)
    cp = f"{spark_jars()}/*"
    r = subprocess.run(["java", HEAP, NO_PERF, "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-d", str(classes), "-classpath", cp, "-nowarn", f"@{argfile}"],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    with zipfile.ZipFile(out / "layerbench.jar", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    print("layerbench: recording the class-data-sharing archive", file=log, flush=True)
    r = subprocess.run(["java"] + jvm_args(out) +
                       [f"-XX:ArchiveClassesAtExit={out / 'classes.jsa'}",
                        "-cp", classpath(out), "layerbench.Train", str(ROOT), str(cores)],
                       stdout=subprocess.DEVNULL, stderr=log, cwd=ROOT)
    if r.returncode != 0:
        raise BuildError("class-data-sharing training run failed")
    (out / "done").write_text(key + "\n")
    return out, key


if __name__ == "__main__":
    try:
        out, _ = build(len(os.sched_getaffinity(0)))
    except BuildError as e:
        print(f"layerbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(out / "layerbench.jar")
