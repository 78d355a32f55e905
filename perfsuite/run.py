"""Run one benchmark workload and print its metrics.

    python3 perfsuite/run.py --workload flagship_quantiles --seed 1 --seconds 4 --trace 0

Run from the root of a checkout; the benchmark generates its inputs from
the seed, computes exact answers with DuckDB, sets up a Spark session
several times, then runs the workload's job back to back for the given
number of seconds, checking every job's output. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see README.md). Everything the run writes goes under
``.perfsuite_work/`` in the checkout; a JSON artifact per run (machine
probes, CPU steal, every job's timing and check) stays in
``.perfsuite_work/artifacts/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import procstat
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)
SETUPS = 3

END_TO_END = ["job_s", "rows_per_s", "cpu_s", "setup_s", "peak_rss_mb",
              "err_ratio_max", "dedup_recall", "pass_frac"]
SPANS = [
    "sources.read_transcripts", "features.with_inter_turn_latency",
    "agg.udds_bucket_counts", "agg.udds_states_from_buckets", "agg.quantile_table",
    "agg.partial_sketches", "agg.merge_grouped", "state_write", "sqlfns.regroup",
    "sqlfns.fill", "text.normalize_exact", "dedup.minhash_signatures",
    "dedup.lsh_candidate_pairs", "dedup.dedup_survivors",
]
COUNTS = ["agg.bucket_rows", "agg.groups", "agg.partial_rows", "agg.state_mb",
          "dedup.candidate_pairs", "dedup.signature_mb", "dedup.pair_yield"]
UNITS = {
    "job_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB", "err_ratio_max": "ratio", "dedup_recall": "ratio",
    "pass_frac": "ratio", "agg.bucket_rows": "count", "agg.groups": "count",
    "agg.partial_rows": "count", "agg.state_mb": "MB", "dedup.candidate_pairs": "count",
    "dedup.signature_mb": "MB", "dedup.pair_yield": "ratio", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.task_wait_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.cpu_busy_frac": "ratio",
    "spark.input_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.shuffle_records": "count",
    "spark.python_sent_mb": "MB", "spark.python_returned_mb": "MB",
    "spark.python_run_s": "s", "spark.python_start_s": "s", "spark.python_init_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB", "trace.overhead": "ratio", "trace.span_coverage": "ratio",
    **{f"{s}.s": "s" for s in SPANS},
}


def per_layer_names() -> list[str]:
    return ([f"{s}.s" for s in SPANS] + COUNTS + tracing.SPARK_COUNTERS
            + ["spark.cpu_busy_frac", "trace.overhead", "trace.span_coverage"])


def new_session(run_dir: str, event_log: str | None = None):
    """A fresh SparkSession on ``local[CORES]`` whose files stay in run_dir."""
    from puddsketch_spark.spark.session import get_spark

    conf = {
        # a fixed, pre-touched heap keeps peak RSS from following the
        # collector's heap sizing; the metric then moves with off-heap and
        # Python-worker memory
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfsuite", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _timed(fn, *args):
    t0 = time.perf_counter()
    return fn(*args), time.perf_counter() - t0


def _job(workload, spark, data, run_dir, truth, tracer=None) -> dict:
    """Run one job, then check it; the check is not timed."""
    cpu0, t0 = procstat.tree_cpu_s(), time.perf_counter()
    try:
        out = (workload.run(spark, data, run_dir) if tracer is None
               else workload.run_traced(spark, data, run_dir, tracer))
        error = None
    except Exception:  # a failed job is counted, recorded and survived
        out, error = None, traceback.format_exc(limit=5)
    rec = {"wall_s": time.perf_counter() - t0, "cpu_s": procstat.tree_cpu_s() - cpu0,
           "traced": tracer is not None, "error": error}
    rec.update(ok=False, problems=["raised"], err_ratio_max=None, recall=None)
    if out is not None:
        try:
            chk = workload.check(out, truth)
        except Exception:  # a malformed output fails its check
            rec["problems"] = [traceback.format_exc(limit=3)]
            return rec
        rec.update(ok=chk.ok, problems=chk.problems[:5],
                   err_ratio_max=chk.err_ratio_max, recall=chk.recall)
    return rec


def measure(workload, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    """One benchmark run. Returns the result object and the run artifact."""
    import duckdb
    from bench import _machine_probe

    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    artifact = {"workload": workload.name, "seed": seed, "seconds": seconds,
                "trace": trace, "cores": CORES,
                "probe_start": _machine_probe(), "steal_start_s": procstat.steal_s()}
    data = os.path.join(run_dir, "data")

    # launch the JVM and SparkContext while DuckDB writes the inputs and
    # the exact answers; each timed setup below is a new session on it
    log = os.path.join(run_dir, "eventlog") if trace else None
    with ThreadPoolExecutor(1) as pool:
        launched = pool.submit(_timed, new_session, run_dir, log)
        con = duckdb.connect()
        con.execute(f"SET threads={CORES}; SET memory_limit='2GB'; SET TimeZone='UTC'; "
                    f"SET temp_directory='{os.path.join(run_dir, 'duckdb')}'")
        t0 = time.perf_counter()
        rows = workload.generate(con, seed, data)
        t1 = time.perf_counter()
        truth = workload.oracle(con, data)
        con.close()
        t2 = time.perf_counter()
        context, launch_s = launched.result()
    artifact.update(generate_s=t1 - t0, oracle_s=t2 - t1, launch_s=launch_s)

    jobs, setups = [], []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = context.newSession()
        workload.prepare(spark, data)
        rec = _job(workload, spark, data, run_dir, truth)
        setups.append(time.perf_counter() - t0)
        jobs.append(dict(rec, phase="setup"))

    # with --trace 1, plain and traced jobs alternate, plain first
    timed = []
    with procstat.PeakRss() as rss:
        deadline = time.perf_counter() + seconds
        while True:
            tracer = None
            if trace and len(timed) % 2 == 1:
                tracer = tracing.Tracer(spark, f"t{len(timed)}")
            rec = _job(workload, spark, data, run_dir, truth, tracer)
            if tracer is not None:
                tracer.close()
                rec.update(spans=tracer.spans, counts=tracer.counts, tag=tracer.tag)
            timed.append(rec)
            if time.perf_counter() >= deadline and (not trace or len(timed) > 1):
                break
    spark.stop()
    jobs += [dict(r, phase="timed") for r in timed]

    passed = [r for r in timed if r["ok"]] or timed
    attempted, failed = len(jobs), sum(not r["ok"] for r in jobs)
    if trace:
        metrics = _per_layer(timed, tracing.event_log_counters(log))
    else:
        job_s = statistics.median(r["wall_s"] for r in passed)
        ratios = [r["err_ratio_max"] for r in jobs if r["err_ratio_max"] is not None]
        recalls = [r["recall"] for r in jobs if r["recall"] is not None]
        metrics = {
            "job_s": job_s,
            "rows_per_s": rows / job_s,
            "cpu_s": statistics.median(r["cpu_s"] for r in passed),
            "setup_s": statistics.median(setups),
            "peak_rss_mb": rss.peak_mb,
            # a workload without error-bounded estimates reports the bound
            # itself, and one without planted duplicates a complete recall
            "err_ratio_max": max(ratios) if ratios else 1.0,
            "dedup_recall": min(recalls) if recalls else 1.0,
            "pass_frac": (attempted - failed) / attempted,
        }
    artifact.update(rows=rows, setups_s=setups, jobs=jobs, metrics=metrics,
                    peak_jvm_rss_mb=rss.peak_jvm_mb,
                    probe_end=_machine_probe(), steal_end_s=procstat.steal_s())
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}}
    return {"result": result, "artifact": artifact}


def _per_layer(timed: list[dict], counters: dict) -> dict:
    traced = [r for r in timed if r["traced"]]
    plain = [r for r in timed if not r["traced"]]
    med = statistics.median
    out = {f"{s}.s": med(r["spans"].get(s, 0.0) for r in traced) for s in SPANS}
    out.update({c: med(r["counts"].get(c, 0.0) for r in traced) for c in COUNTS})
    per_job = []
    for r in traced:
        c = dict(counters.get(r["tag"], {}))
        c["spark.cpu_busy_frac"] = c.get("spark.executor_cpu_s", 0.0) / (r["wall_s"] * CORES)
        per_job.append(c)
    out.update(tracing.median_by_key(per_job, [*tracing.SPARK_COUNTERS, "spark.cpu_busy_frac"]))
    out["trace.overhead"] = med(r["wall_s"] for r in traced) / med(r["wall_s"] for r in plain)
    out["trace.span_coverage"] = med(sum(r["spans"].values()) / r["wall_s"] for r in traced)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "puddsketch_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"error: {ROOT} is not a puddsketch_spark checkout "
              "(no puddsketch_spark/ or bench.py)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfsuite_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        res = measure(workloads.WORKLOADS[args.workload], args.seed, args.seconds,
                      bool(args.trace), run_dir)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(work, "artifacts"), exist_ok=True)
    path = os.path.join(work, "artifacts",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(res["artifact"], f, indent=1, default=str)
    print(f"artifact: {os.path.relpath(path, ROOT)}")
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
