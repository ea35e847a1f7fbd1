"""One workload run inside its own Spark session.

Started by ``run.py`` as ``python3 child.py <job.json>``; writes
``<job.json>.out`` with every timing it took. Times are taken here, around
calls into the package's public functions; the harness turns them into
metrics and checks the outputs they left on disk.

A run is: session start, one cold operation, one warm-up operation, then
warm operations until ``seconds`` have passed. A traced run adds the staged
layer timings (and, for the filter, streaming drains) after the warm loop.
The session is stopped and the JVM waited for on every path.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from qfbench.gen import du

# streaming drains in a traced run that give the stream.* metrics, after
# one drain that warms the streaming plan up
N_WARM_DRAINS = 1


class Runner:
    def __init__(self, spark, job: dict, out: dict):
        self.spark = spark
        self.job = job
        self.out = out
        self.work = job["work"]
        self.ops: list[dict] = out.setdefault("ops", [])

    def group(self, name: str) -> None:
        # event-log job properties carry no Python call site; the group id
        # is how the harness attributes jobs to benchmark phases
        self.spark.sparkContext.setJobGroup(f"qfbench:{name}", name)

    def timed(self, name: str, fn) -> dict:
        """Run one operation; a raise is recorded as a failed operation."""
        self.group(name)
        rec = {"name": name, "start_mono": time.monotonic()}
        t0 = time.perf_counter()
        try:
            rec.update(fn(name) or {})
        except Exception:  # noqa: BLE001 — recorded as a failed operation
            rec["error"] = traceback.format_exc(limit=5)
        rec["secs"] = time.perf_counter() - t0
        rec["end_mono"] = time.monotonic()
        if "out" in rec:
            rec["out_bytes"] = du(rec["out"])
        self.ops.append(rec)
        return rec

    def cold_and_warm(self, op) -> None:
        self.timed("cold", op)
        # the second operation still runs ~15% slower than the ones after it
        self.timed("warmup", op)
        t_end = time.perf_counter() + self.job["seconds"]
        i = 0
        while time.perf_counter() < t_end:
            rec = self.timed(f"warm-{i}", op)
            i += 1
            if "error" in rec and i >= 3 and all("error" in r for r in self.ops[-3:]):
                break

    # -- workloads ---------------------------------------------------------
    def filter_batch(self) -> None:
        from data_quality_spark.pipeline.quality_filter import run_pipeline

        def op(name):
            out = os.path.join(self.work, "out", name)
            stats = run_pipeline(self.spark, self.job["pages"], out, n_buckets=8)
            return {"out": out, "rows_kept": stats["rows_kept"]}

        self.cold_and_warm(op)
        if self.job["trace"]:
            from qfbench import layers

            self.out["layers"] = layers.filter_layers(self)
            self.stream_drains()

    def stream_drains(self) -> None:
        """Drain the same corpus, re-split into small files, through the
        streaming front-end: one drain to warm its plan up, then
        ``N_WARM_DRAINS`` whose micro-batch progress gives the stream.*
        layer metrics."""
        from data_quality_spark.streaming.quality_stream import stream_quality_filter

        def op(name):
            out = os.path.join(self.work, "out", name)
            q = stream_quality_filter(
                self.spark, self.job["backlog"], out,
                os.path.join(self.work, "checkpoint", name),
                max_files_per_trigger=self.job["files_per_trigger"],
                available_now=True,
            )
            q.awaitTermination()
            batches = [
                {"rows": p.numInputRows,
                 "trigger_ms": p.durationMs.get("triggerExecution", 0),
                 "add_batch_ms": p.durationMs.get("addBatch", 0)}
                for p in q.recentProgress if p.numInputRows > 0
            ]
            return {"out": out, "batches": batches}

        for name in ["stream-cold"] + [f"stream-{i}" for i in range(N_WARM_DRAINS)]:
            self.timed(name, op)

    def rulecheck_tables(self) -> None:
        from data_quality_spark.report import export_details
        from qfbench import rulecheck

        fact = self.spark.read.parquet(self.job["fact"])
        dim = self.spark.read.parquet(self.job["dim"])

        last = {}

        def op(_):
            last["session"], summary = rulecheck.run_suite(self.spark, fact, dim)
            return summary

        self.cold_and_warm(op)
        # the last operation's KO-row report, written once by the package's
        # report.export_details, outside the timed operations: its size
        # gives out_bytes_per_in_byte
        self.group("report")
        report = os.path.join(self.work, "out", "report")
        t0 = time.perf_counter()
        export_details(last["session"], report)
        self.out["report"] = {"secs": time.perf_counter() - t0, "out_bytes": du(report)}
        if self.job["trace"]:
            self.out["layers"] = rulecheck.family_layers(self, fact, dim)


def stop(spark) -> None:
    """Stop the session, then close the Py4J gateway and wait for the JVM:
    the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(job_path: str) -> int:
    with open(job_path) as f:
        job = json.load(f)
    out: dict = {"workload": job["workload"]}
    spark = None
    try:
        t0 = time.perf_counter()
        from data_quality_spark.session import get_spark

        t1 = time.perf_counter()
        spark = get_spark(app_name=f"qfbench-{job['workload']}", extra_conf=job["conf"])
        out["session_start_s"] = time.perf_counter() - t1
        out["import_s"] = t1 - t0
        out["session_ready_mono"] = time.monotonic()
        out["app_id"] = spark.sparkContext.applicationId
        getattr(Runner(spark, job, out), job["workload"])()
    except Exception:  # noqa: BLE001 — reported to the harness as a failed run
        out["error"] = traceback.format_exc()
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            stop(spark)
            out["stop_s"] = time.perf_counter() - t0
        with open(job_path + ".out", "w") as f:
            json.dump(out, f)
    return 1 if "error" in out else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
