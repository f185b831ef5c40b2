#!/usr/bin/env python3
"""Benchmark of the graft conversion, archive-serving and text layers.

Run from the root of a checkout:

    python3 perfbench/run.py --workload convert --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

* ``convert``       -- ``graft.Cli.convert`` of a seeded Fixtures chain into
                       a strategy-0 ``.dat`` archive, over and over.
* ``archive_serve`` -- one closed-loop client: block-range appends, as-of
                       lookups checked against the chain oracle, compaction.
* ``llm_text``      -- five text registry entries over a fixed corpus, every
                       output column written to the noop sink.

The script builds the harness (``perfbench/build.sbt``, which compiles the
checkout's ``src/main/scala`` with the harness sources into one jar) when
the sources changed, runs it in one JVM with a ``local[N]`` Spark session (N = CPUs),
checks text results against their DuckDB oracles, and prints a readable
summary followed by one JSON line: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (which also writes ``perfbench/.work/trace.json``,
the run's spans).

Everything the run writes stays under ``perfbench/``: ``.build/`` and
``target/`` for the build (the harness jar and an archive of the classes
the JVM loads), ``.work/`` for seed-keyed fixture worlds, converted
archives and Spark scratch space.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "perfbench.jar")
# classes every workload loads, archived once per build: without it each
# run spends ~10 s of its start loading and verifying Spark's classes
CLASS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
CORPUS = os.path.join(HERE, "data")
SPARK_JARS = "/opt/spark/jars"
DEADLINE_S = 170
BUILD_DEADLINE_S = 890

WORKLOADS = ("convert", "archive_serve", "llm_text")
TEXT_ENTRIES = ("l13_subword_fingerprint", "l42_quality_classifier",
                "l53_pii_redact", "l09_quality_langid", "l23_repetition")

END_TO_END = {
    "work_per_s": "1/s",
    "op_p50_ms": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "fixtures.generate_s": "s",
    "fixtures.changeset_rows": "count",
    "full_history.exec_s": "s",
    "full_history.jobs": "count",
    "full_history.shuffle_write_bytes": "B",
    "full_history.spill_bytes": "B",
    "full_history.cpu_s": "s",
    "full_history.parallelism": "cores",
    "full_history.output_rows": "count",
    "full_history.non_advancing_s": "s",
    "state_files.write_s": "s",
    "state_files.write_parallelism": "cores",
    "state_files.dat_bytes": "B",
    "state_files.idx_bytes": "B",
    "state_files.files": "count",
    "state_files.bytes_per_item": "B",
    "state_files.append_s": "s",
    "state_files.compact_s": "s",
    "state_files.compact_shuffle_bytes": "B",
    "cli.convert_s": "s",
    "cli.first_convert_s": "s",
    "cli.convert_residual_s": "s",
    "codec.writer_mb_s": "MB/s",
    "codec.reader_mb_s": "MB/s",
    "codec.bytes_per_item_s0": "B",
    "codec.bytes_per_item_s1": "B",
    "codec.bytes_per_item_s3": "B",
    "dat_source.plan_ms": "ms",
    "dat_source.exec_ms": "ms",
    "dat_source.first_lookup_ms": "ms",
    "dat_source.lookup_p90_ms": "ms",
    "dat_source.pages_decoded_per_lookup": "count",
    "dat_source.pages_skipped_per_lookup": "count",
    "dat_source.tasks_per_lookup": "count",
    "dat_source.jobs_per_lookup": "count",
    **{f"text.{e.split('_')[0]}_{m}": u
       for e in TEXT_ENTRIES
       for m, u in (("s", "s"), ("tasks", "count"), ("parallelism", "cores"))},
    "text.first_round_s": "s",
    "text.l13_count_only_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "trace.overhead_share": "share",
    "bench.failed_op_share": "share",
    "bench.op_cpu_ms": "ms",
    "bench.work_per_cpu_s": "1/s",
    "host.steal_share": "share",
}

JVM_OPENS = [
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


def sources_digest():
    """Digest of every input of the harness build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles the harness and the program unless nothing changed, then
    archives the classes a run of every layer loads."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(JAR) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return False
    log("building harness and program sources with sbt")
    for f in (stamp, CLASS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "package"], cwd=HERE, env=env, stdout=sys.stderr,
                       stdin=subprocess.DEVNULL,
                       timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    log(f"built in {time.time() - t0:.1f} s; archiving classes")
    harness(["--workload", "prime", "--seed", "0", "--seconds", "1",
             "--trace", "1", "--addresses", "40", "--blocks", "120"],
            os.path.join(WORK, "prime.json"), deadline,
            [f"-XX:ArchiveClassesAtExit={CLASS_ARCHIVE}"])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"build done in {time.time() - t0:.1f} s")
    return True


def harness(args, report_path, deadline, jvm_extra=()):
    """Runs the harness JVM in the work directory; returns its report."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    if os.path.exists(report_path):
        os.remove(report_path)
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_HOME", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    # a fixed, pre-touched heap: peak RSS then moves with off-heap and
    # native memory, not with when the collector last ran
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC", "-XX:-UsePerfData", *jvm_extra,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{JAR}:{SPARK_JARS}/*", "graft.perfbench.Main", *args,
            "--out", report_path, "--corpus", CORPUS]
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("harness ran past the deadline")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"harness failed (exit {code})")
    with open(report_path) as f:
        return json.load(f)


def canon(df):
    return df[sorted(df.columns)].reset_index(drop=True)


def check_text(report):
    """Compares each entry's dumped result with its DuckDB oracle."""
    import duckdb
    import pandas as pd
    out = os.path.join(WORK, "text-out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(CORPUS, 'documents.parquet')}'")
    for name in TEXT_ENTRIES:
        report["attempted"] += 1
        why = None
        try:
            want = canon(con.sql(oracle[name]).df())
            got = canon(pd.read_parquet(os.path.join(out, name)))
            if list(want.columns) != list(got.columns):
                why = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(want) != len(got):
                why = f"rows {len(got)} != {len(want)}"
            else:
                for c in want.columns:
                    if not (want[c].astype(str) == got[c].astype(str)).all():
                        why = f"column {c} differs"
                        break
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            report["failed"] += 1
            report["notes"].append(f"FAILED: {name} vs oracle: {why}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="",
                    help="test faults: wrong_answer, corrupt_page")
    args = ap.parse_args(argv)
    start = time.time()
    deadline = start + DEADLINE_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"program sources not found under {ROOT}/src")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java are required")
    # the first run in a checkout builds, and may take up to 900 s
    if build(start + BUILD_DEADLINE_S - DEADLINE_S):
        deadline = min(start + BUILD_DEADLINE_S, time.time() + DEADLINE_S)
    hargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.inject:
        hargs += ["--inject", args.inject]
    jvm = ([f"-XX:SharedArchiveFile={CLASS_ARCHIVE}"]
           if os.path.exists(CLASS_ARCHIVE) else [])
    report = harness(hargs, os.path.join(WORK, "report.json"), deadline, jvm)
    if args.workload == "llm_text":
        check_text(report)
    report["metrics"]["bench.failed_op_share"] = {
        "value": report["failed"] / max(1, report["attempted"]),
        "unit": "share"}

    wanted = PER_LAYER if args.trace else END_TO_END
    missing = [m for m in wanted if report["metrics"].get(m, {})
               .get("value") is None]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    for note in report["notes"]:
        print(f"note: {note}")
    spreads = report.get("spreads", {})
    for name in wanted:
        m = report["metrics"][name]
        extra = f"  ({spreads[name]})" if name in spreads else ""
        print(f"{name:40s} {m['value']:>14.6g} {m['unit']}{extra}")
    print(f"attempted {report['attempted']}, failed {report['failed']}")
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": report["metrics"][k]["value"], "unit": u}
                    for k, u in wanted.items()},
    }))


if __name__ == "__main__":
    main()
