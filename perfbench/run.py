#!/usr/bin/env python3
"""Replication benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the benchmark program from source with sbt (perfbench/build.sbt), records
a class-data archive from a short training run, and caches both under
perfbench/.build; later runs start the JVM directly. Inputs are
generated from the seed inside perfbench/.work, which is wiped before
and after every run.

The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics of a traced run with --trace 1. The full
record of each run (run labels such as the CPU-anchor drift, and the
span log of traced runs) lands in perfbench/.work/results.

Exit codes: 0 ok, 1 correctness gate failed, 2 usage or missing
sources, 3 build failed, 4 the run failed or timed out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
WORKLOADS = ("cdc_tail_flat", "cdc_churn_bucketed", "curation_pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 550  # build + training run + first run stay under 900 s
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside the
    spark-submit on PATH; None when neither exists."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else None
    return jars if jars and os.path.isdir(jars) else None


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout,
    and when this script is interrupted or terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def terminate(signum, _frame):
        raise SystemExit(128 + signum)

    previous = signal.signal(signal.SIGTERM, terminate)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        signal.signal(signal.SIGTERM, previous)


def java_cmd(cp, tmp, *extra):
    """The JVM command line. Extra JIT compiler threads let the JIT
    finish warming on cores the (mostly planning-bound) workloads leave
    idle; with the default count, how far the backlog had got when
    timing started varied the timed figures by a quarter between runs."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:CICompilerCount=6",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + list(extra) + opens + ["-cp", cp, "perfbench.Main"])


def build():
    """Builds engine + benchmark once per source state.

    Returns (classpath, class-data archive or None). The archive is
    recorded from a short training run over every workload's code paths
    and cuts JVM start-up in the measured runs; without it the runs
    still work, only slower to start.
    """
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    archive = os.path.join(BUILD_DIR, "classes.jsa")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip(), archive if os.path.exists(archive) else None
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    jars = spark_jars()
    if jars is None:
        log("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        sys.exit(3)
    env = dict(os.environ, SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # the launcher's lock file is the one thing a build would write
    # outside the checkout
    opts += " -Dsbt.boot.lock=false"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log("building engine and benchmark (first run in this checkout)")
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspathAsJars"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in (out or "").splitlines() if ".jar" in l and l.count(os.pathsep) > 10]
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        log("build failed" if code is not None else "build timed out")
        sys.exit(3)
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    train_dir = os.path.join(WORK_DIR, "train")
    shutil.rmtree(train_dir, ignore_errors=True)
    os.makedirs(os.path.join(train_dir, "tmp"))
    log("recording the class-data archive")
    code, _ = run_bounded(
        java_cmd(cp, os.path.join(train_dir, "tmp"), f"-XX:ArchiveClassesAtExit={archive}",
                 "-Xlog:cds=off", "-Xlog:cds+dynamic=off")
        + ["--train", "--work", train_dir],
        RUN_TIMEOUT_S, cwd=train_dir, stdout=subprocess.DEVNULL, stdin=subprocess.DEVNULL)
    shutil.rmtree(train_dir, ignore_errors=True)
    if code != 0 and os.path.exists(archive):
        os.remove(archive)
    if not os.path.exists(archive):
        log("no class-data archive; runs start without one")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp, archive if os.path.exists(archive) else None


def expected_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
        sys.exit(2)
    cp, archive = build()

    run_dir = os.path.join(WORK_DIR, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cds = [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off"] if archive else []
    cmd = java_cmd(cp, tmp, *cds) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", run_dir]
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    result = None
    for line in reversed((out or "").splitlines()):
        if line.startswith("{"):
            result = json.loads(line)
            break
    if result is None or code not in (0, 1):
        sys.stderr.write(out or "")
        log(f"run failed (exit {code})")
        sys.exit(4)
    want = expected_metrics(a.trace)
    if want is not None and set(result["metrics"]) != want:
        log("metric set differs from BENCHMARK.json: "
            f"{sorted(set(result['metrics']) ^ want)}")
        sys.exit(4)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
