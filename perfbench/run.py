#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload etl_relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while
the sources are unchanged. The JVM is launched directly (no `sbt run`),
with `local[N]`, N = the machine's processor count.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). Everything else about the run -- per-operation samples,
the tail percentile and its sample count, host load, per-task and
per-area figures of daily_ingest, per-layer self times -- goes to a
summary on standard output before that line and to the run record,
perfbench/records/<workload>-s<seed>-t<trace>-<time>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("etl_relational", "daily_ingest")
DEADLINE_S = 175          # a run must end within 180 s
BUILD_DEADLINE_S = 850    # the first run in a checkout may take 900 s
SPARK_JARS = BENCH / "target" / "spark-jars.txt"
# tools/runjava.sh defaults to 8 GB; the benchmark retains under 100 MB
# and runs on hosts whose memory other jobs share
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the library and the harness unless the last build matches.
    Returns whether it compiled."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no graft sources at {ROOT}: run from the root of a graft checkout")
    stamp_file = BENCH / "target" / "perfbench.stamp"
    stamp = source_stamp()
    if stamp_file.is_file() and stamp_file.read_text() == stamp and SPARK_JARS.is_file():
        return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log = BENCH / "target" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "writeSparkJars"],
                                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                timeout=BUILD_DEADLINE_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    stamp_file.write_text(stamp)
    return True


def java_cmd(work, args):
    # tools/runjava.sh's classpath: the classes, then the Spark jars the
    # library compiles against (its build's unmanagedBase, which the build
    # step writes down)
    cp = os.pathsep.join([
        str(BENCH / "target" / "scala-2.13" / "classes"),
        str(ROOT / "target" / "scala-2.13" / "classes"),
        os.path.join(SPARK_JARS.read_text().strip(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.stream.error.file={work / 'derby.log'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", cp, "graftbench.Main", *args]


def run_jvm(args, work, deadline):
    """Run the harness; returns its record, or exits without a result."""
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    record = work / "record.json"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    log = work / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(java_cmd(work, [*args, "--work", str(work),
                                                "--record", str(record)]),
                                cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its deadline; log in {log}")
    if rc != 0 or not record.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness exited {rc}; log in {log}")
    return json.loads(record.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=str(BENCH / "data" / "bench"),
                    help="input set: tables/, ingest/ and expected/ (default: "
                    "perfbench/data/bench; perfbench/data/smoke is the small one)")
    ap.add_argument("--expected", help="expected query outputs "
                    "(default: <data>/expected/<workload>.txt)")
    ap.add_argument("--write-expected", help="write the query outputs' digests here "
                    "instead of checking them")
    ap.add_argument("--catchup-parity", action="store_true",
                    help="daily_ingest: after the run, catch up the same dates with "
                    "LlmIngestDag.catchup itself and fail unless the days and task "
                    "outcomes match the benchmark's own catch-up (smoke test)")
    a = ap.parse_args()
    start = time.monotonic()

    built = build()
    work = BENCH / ".work" / a.workload
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", a.data]
    if a.workload == "daily_ingest":
        if a.catchup_parity:
            args += ["--catchup-parity", "1"]
    elif a.write_expected:
        args += ["--write-expected", a.write_expected]
    else:
        args += ["--expected", a.expected or str(Path(a.data) / "expected" / f"{a.workload}.txt")]
    # a run that builds gets the first-run allowance; the harness gets the rest
    deadline = start + (BUILD_DEADLINE_S if built else DEADLINE_S)
    rec = run_jvm(args, work, deadline)
    if a.workload == "daily_ingest":
        shutil.rmtree(work / "ingest", ignore_errors=True)

    result = metrics.summarize(rec)
    records = BENCH / "records"
    records.mkdir(exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    rec["summary"] = result
    (records / name).write_text(json.dumps(rec))

    for line in metrics.report(rec, result):
        print(line)
    keys = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": result["metrics"][k][0], "unit": result["metrics"][k][1]}
                    for k in keys}}))


if __name__ == "__main__":
    main()
