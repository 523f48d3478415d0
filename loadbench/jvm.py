"""Starts the benchmark's JVM side: one fresh JVM per run."""

import os
import signal
import subprocess

# Fixed heap: -Xms equals -Xmx, so heap sizing never moves timings.
HEAP = "3g"
# local[N]: at most this many cores, and never more than the machine has.
MAX_CPUS = 4

JDK17_OPENS = (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
)


def cpus():
    return min(MAX_CPUS, len(os.sched_getaffinity(0)))


def write_plan(path, kv):
    """The JVM side's input: ``key=value`` lines."""
    with open(path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in kv.items())


def run(classpath, work, plan, limit_s, cds):
    """Runs ``loadbench.Main`` on ``plan`` with its temp, warehouse and
    Spark local directories under ``work``. ``cds`` is a pair
    (option, archive path) for the class-data-sharing archive, or None.
    Returns the exit code, or None when the JVM overran ``limit_s`` and
    was killed."""
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for d in ("tmp", "wh", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    if cds:
        cmd.append(f"-XX:{cds[0]}={cds[1]}")
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'tmp')}",
        f"-Dgraft.warehouse={os.path.join(work, 'wh')}",
        "-cp", classpath, "loadbench.Main", plan,
    ]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
