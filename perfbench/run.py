#!/usr/bin/env python3
"""Benchmark of the trade pipeline and the query board.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use (sbt, offline,
into perfbench/target; the classpath and a class-data archive are kept
under .bench_build/), runs
one workload in a fresh JVM, checks its outputs, and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (spans are written to .bench_build/work/<workload>/spans.jsonl).
Everything else goes to standard error. Workloads and metrics are
described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ["ingest_stream", "trends_serving", "query_board"]

BOARD = ["fk_orphans_curated", "ivf_probe_sweep", "source_confusion",
         "key_uniqueness", "tfidf_cosine_pairs", "user_communities"]

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
}

PER_LAYER = {
    "ingest.parse_rows_per_s": "1/s",
    "ingest.parse_rows_per_s_1task": "1/s",
    "ingest.reject_share": "share",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.batch_ms_max": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.commit_overhead_ms_p50": "ms",
    "streaming.backlog_rows_max": "count",
    "streaming.source_reads_per_stored_row": "ratio",
    "streaming.lag_ms_p50": "ms",
    "streaming.lag_ms_p99": "ms",
    "streaming.ratelimit_batch_ms_p50": "ms",
    "streaming.ratelimit_denied": "count",
    "store.files": "count",
    "store.files_per_batch": "count",
    "store.files_scanned_per_query": "count",
    "store.rows_scanned_per_row_returned": "ratio",
    "store.bytes_per_row": "B",
    "operators.trends_ms_p50": "ms",
    "operators.trends_ms_p90": "ms",
    "operators.windows_per_query": "count",
    "serving.hit_ratio": "share",
    "serving.hit_us_p50": "us",
    "serving.miss_ms_p50": "ms",
    "serving.computes_per_missed_key": "ratio",
    "serving.page_us_p50": "us",
    "registry.board_s": "s",
    "registry.jobs": "count",
    "registry.stages": "count",
    "registry.tasks": "count",
    "registry.shuffle_write_bytes": "B",
}
PER_LAYER.update({f"registry.jobs.{q}": "count" for q in BOARD})
PER_LAYER.update({f"registry.query_s.{q}": "s" for q in BOARD})
PER_LAYER.update({f"{l}.self_ms_per_op": "ms" for l in
                  ["ingest", "streaming", "store", "operators", "serving", "registry"]})
PER_LAYER.update({
    "spark.jobs_per_op": "count",
    "jvm.heap_peak_mb": "MB",
    "jvm.gc_ms": "ms",
    "gen.late_ms_p99": "ms",
    "trace.spans": "count",
    "trace.overhead_pct": "%",
})

SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")

ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "run.py"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(cp, work, args, jvm_flags):
    """The JVM command line of one harness run."""
    return (["java", "-Xmx3g", *jvm_flags, *ADD_OPENS, "-Djava.io.tmpdir=" + work,
             "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", "--work", work]
            + args)


def build():
    """Compiles program + harness into one jar once per source state and
    records a class-data archive of a short run, so each benchmark JVM
    starts without re-reading Spark's classes. Returns (classpath, the JVM
    flags that use the archive)."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    archive = os.path.join(BUILD, "classes.jsa")
    use_archive = ["-XX:SharedArchiveFile=" + archive]
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), use_archive if os.path.exists(archive) else []
    log("[perfbench] building program and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                        "export Runtime/fullClasspathAsJars"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    lines = [l.strip() for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        log(p.stdout[-4000:])
        raise SystemExit("[perfbench] build printed no classpath")
    cp = lines[-1]
    # the archive is an optimization only: without it the JVM loads classes
    # from the jars as usual
    work = os.path.join(BUILD, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if os.path.exists(archive):
        os.remove(archive)
    try:
        subprocess.run(java_cmd(cp, work, ["--workload", "trends_serving", "--seed", "0",
                                           "--seconds", "1", "--trace", "0", "--scale", "0.05",
                                           "--out", os.path.join(work, "report.json")],
                                ["-XX:ArchiveClassesAtExit=" + archive, "-Xlog:disable"]),
                       cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=170)
    except subprocess.TimeoutExpired:
        log("[perfbench] class-data archive run timed out; running without it")
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(archive):
        use_archive = []
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, use_archive


def oracle_check(results):
    """Each board result (results/<query>, written after the timed pass)
    against its DuckDB oracle over the same tables: columns sorted by name,
    rows sorted by all columns, cells compared as text. Returns (checked,
    failed names)."""
    import duckdb
    data = os.path.join(os.path.dirname(results), "data")
    con = duckdb.connect()
    for t in ["events", "lineitem", "orders", "customer", "supplier", "part",
              "nation", "region", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")

    def canon(sql):
        df = con.sql(sql).df()
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df):
            df = df.sort_values(by=list(df.columns), kind="mergesort",
                                na_position="first").reset_index(drop=True)
        return df.astype(str)

    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = []
    for name in BOARD:
        out = os.path.join(results, name)
        sql = oracles.get(name, "")
        try:
            ok = bool(glob.glob(os.path.join(out, "*.parquet"))) and bool(sql) and \
                canon(f"SELECT * FROM read_parquet('{out}/*.parquet')").equals(canon(sql))
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"[perfbench] oracle {name}: {e}")
            ok = False
        if not ok:
            bad.append(name)
    return len(BOARD), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-check runs tiny inputs)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        raise SystemExit("[perfbench] program sources not found at src/main/scala; "
                         "run from the root of a full checkout")
    cp, jvm_flags = build()

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "report.json")
    if a.workload == "query_board":
        import boarddata
        boarddata.write(os.path.join(work, "data"), a.seed, 0.01 * a.scale)
    cmd = java_cmd(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--out", out, "--scale", str(a.scale)], jvm_flags)
    p = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=170)
    if p.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"[perfbench] workload run failed (exit {p.returncode})")
    with open(out) as f:
        rep = json.load(f)
    for n in rep.pop("notes", []):
        log("[perfbench] check failed:", n)
    attempted, failed = rep["attempted"], rep["failed"]
    if a.workload == "query_board":
        checked, bad = oracle_check(os.path.join(work, "results"))
        attempted += checked
        failed += len(bad)
        for n in bad:
            log("[perfbench] oracle mismatch:", n)

    want = PER_LAYER if a.trace else END_TO_END
    got = rep["metrics"]
    metrics = {}
    for name, unit in want.items():
        if name in got:
            metrics[name] = {"value": got[name]["value"], "unit": unit}
        elif a.trace:
            # this workload does not run that layer: no work was measured
            metrics[name] = {"value": 0, "unit": unit}
        else:
            raise SystemExit(f"[perfbench] workload reported no {name}")
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
