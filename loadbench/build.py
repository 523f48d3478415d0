"""Compiles the engine and the benchmark's JVM side from source.

The Scala compiler that ships with the Spark jars compiles
``src/main/scala`` and ``loadbench/src`` in one pass into one jar. A
short run then records a class-data-sharing archive of the classes it
loads. Both go into a directory keyed by a fingerprint of the sources,
so a checkout builds once and later runs reuse the build.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import zipfile

import jvm

HERE = os.path.dirname(os.path.abspath(__file__))

# The class archive is recorded from golden checks of these queries,
# which between them load the planner, the parquet reader, codegen and
# the streaming driver.
TRAIN_SCALE = "sf0.001"
TRAIN_MIX = ("q03_region_revenue", "q39_dedup_clusters",
             "q117d_stream_gram_append")


def jars_dir(root):
    """The Spark jars directory the project's own build compiles against
    (``unmanagedBase`` in build.sbt)."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build.sbt names no existing unmanagedBase directory")
    return m.group(1)


def jar_path(jars):
    return os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))


def _sources(root):
    scala = sorted(
        glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
        + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    resources = sorted(
        p for p in glob.glob(os.path.join(root, "src/main/resources/**"),
                             recursive=True) if os.path.isfile(p))
    return scala, resources


def _fingerprint(root, files, jars):
    h = hashlib.sha256()
    for p in sorted(files, key=lambda p: os.path.relpath(p, root)):
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\0".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:20]


def data_dir(root, scale):
    """The fixture directory of one scale, as TESTDATA.md lists it."""
    with open(os.path.join(root, "TESTDATA.md")) as f:
        for line in f:
            m = re.match(r"\|\s*([0-9.]+)\s*\|\s*`([^`]+)`", line)
            if m and f"sf{m.group(1)}" == scale:
                return m.group(2).rstrip("/")
    raise SystemExit(f"TESTDATA.md lists no directory for {scale}")


class Engine:
    """A finished build: the classpath to run and its class-data-sharing
    archive."""

    def __init__(self, target, jars):
        self.jar = os.path.join(target, "engine.jar")
        self.archive = os.path.join(target, "classes.jsa")
        self.classpath = os.pathsep.join([self.jar, jar_path(jars)])


def _compile(jars, scala, out):
    compiler = [sorted(glob.glob(os.path.join(jars, f"scala-{m}-*.jar")))[-1]
                for m in ("compiler", "library", "reflect")]
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath",
                           jar_path(jars)] + scala))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    os.remove(argfile)
    if proc.returncode != 0:
        raise SystemExit("compile failed:\n" + proc.stdout[-4000:])


def _jar(classes, root, resources, jar):
    # class-data sharing maps classes only from jar files
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
        res_root = os.path.join(root, "src/main/resources")
        for p in resources:
            z.write(p, os.path.relpath(p, res_root))


def _train(engine, root, into):
    """Archives the classes a short run loads, so every later run starts
    without loading and verifying them again."""
    small = data_dir(root, TRAIN_SCALE)
    work = os.path.join(into, f"train{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = os.path.join(work, "plan.txt")
    jvm.write_plan(plan, {
        "workload": "train", "mix": ",".join(TRAIN_MIX),
        "data_dir": small, "ingest": "", "warm_passes": 0, "min_passes": 0,
        "seconds": 0, "trace": 0,
        "orders": ",".join(str(i) for i in range(len(TRAIN_MIX))),
        "out": os.path.join(work, "records.jsonl"),
    })
    partial = engine.archive + f".tmp{os.getpid()}"
    code = jvm.run(engine.classpath, work, plan, 600,
                   ("ArchiveClassesAtExit", partial))
    if code != 0 or not os.path.isfile(partial):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            raise SystemExit("class archive run failed:\n" + f.read()[-4000:])
    os.replace(partial, engine.archive)
    shutil.rmtree(work)


def engine(root, log):
    """Returns the built engine, building it first if the sources
    changed."""
    jars = jars_dir(root)
    scala, resources = _sources(root)
    if not scala:
        raise SystemExit("no Scala sources under src/main/scala")
    out = os.path.join(HERE, "out", "build")
    recipe = [os.path.join(HERE, f) for f in ("build.py", "jvm.py")]
    target = os.path.join(
        out, _fingerprint(root, scala + resources + recipe, jars))
    if not os.path.isdir(target):
        tmp = f"{target}.tmp{os.getpid()}"
        classes = os.path.join(tmp, "classes")
        os.makedirs(classes)
        try:
            log(f"compiling {len(scala)} Scala sources")
            _compile(jars, scala, classes)
            _jar(classes, root, resources, os.path.join(tmp, "engine.jar"))
            shutil.rmtree(classes)
            os.rename(tmp, target)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    built = Engine(target, jars)
    # the archive is only valid for the jar path it was recorded with,
    # so it is recorded in place
    if not os.path.isfile(built.archive):
        log("archiving loaded classes")
        _train(built, root, target)
    return built
