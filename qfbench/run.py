"""Benchmark for the quality filter: one command, two workloads.

    python3 qfbench/run.py --workload filter_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` into a
scratch directory under ``qfbench/.work`` that is removed at exit. Each
workload runs in a child process with its own Spark session on
local[<cores>]; every process of that child is killed and reaped before the
harness exits. Outputs are checked against an independent oracle outside
the timed region. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (see README.md). Earlier lines carry the machine record
and the raw timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "qfbench")

# Input sizes, fixed so every run of a workload does the same work.
BATCH_PAGES, BATCH_FILES = 16000, 8
# traced runs also drain the batch corpus, re-split into small files, as a
# stream: 10 micro-batches of 400 rows
BACKLOG_FILES, BACKLOG_FILES_PER_TRIGGER = 40, 4
FACT_ROWS = 200_000
DRIVER_MEM = "2g"
# The whole invocation must end well inside 180 s.
DEADLINE_S = 170.0
CHECK_RESERVE_S = 15.0

PER_LAYER_NAMES = [
    "session.start_s", "models.build_s",
    "scan.self_s", "extract.self_s", "textstats.self_s", "models.self_s",
    "rules.self_s", "scrub.self_s", "quality_filter.write_self_s",
    "models.langid_us_per_doc", "models.ppl_us_per_doc",
    "rules.rowwise_s", "rules.join_s", "rules.window_s", "rules.ko_rows_s",
    "stream.add_batch_ms_p50", "stream.overhead_ms_p50", "stream.batches",
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_cpu_s", "spark.executor_run_s", "spark.gc_s", "spark.cpu_util",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.output_bytes", "spark.task_skew",
    "trace.rows_per_s",
]


class Interrupted(Exception):
    pass


def _on_sigterm(signum, frame):
    raise Interrupted(f"signal {signum}")


def machine_record(cores: int) -> dict:
    import bench
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=60)
    return {
        "nproc": cores,
        "pyspark": pyspark.__version__,
        "java": (java.stderr.strip().splitlines() or ["?"])[0],
        "cpu_canary": bench.cpu_canary(),
    }


def models_build_s() -> float:
    """langid.profiles() + perplexity.model() in a fresh interpreter."""
    code = ("import time; from data_quality_spark.functions import langid, perplexity; "
            "t = time.perf_counter(); langid.profiles(); perplexity.model(); "
            "print(time.perf_counter() - t)")
    env = dict(os.environ, PYTHONPATH=ROOT)
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, env=env,
                       check=True, timeout=120)
    return float(r.stdout.strip().splitlines()[-1])


class Harness:
    def __init__(self, args):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.t0 = time.monotonic()
        self.work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
        self.inputs = os.path.join(self.work, "inputs")
        self.failed = 0
        self.attempted = 0
        self.problems: list[str] = []

    # -- inputs ------------------------------------------------------------
    def generate(self) -> dict:
        """Inputs for this workload, cached by (kind, seed, size)."""
        from data_quality_spark.pipeline import pages
        from qfbench import gen
        from qfbench.gen import du

        wl, seed = self.args.workload, self.args.seed
        if wl == "filter_batch":
            path = os.path.join(self.inputs, f"pages-s{seed}-n{BATCH_PAGES}")
            if not os.path.isdir(path):
                pages.write_parquet(path, BATCH_PAGES, seed=seed, n_files=BATCH_FILES)
            out = {"pages": path, "rows": BATCH_PAGES, "in_bytes": du(path)}
            if self.args.trace:
                backlog = os.path.join(self.inputs, f"backlog-s{seed}-n{BATCH_PAGES}")
                gen.resplit(path, backlog, BACKLOG_FILES)
                out.update(backlog=backlog, files_per_trigger=BACKLOG_FILES_PER_TRIGGER)
            return out
        root = os.path.join(self.inputs, f"tables-s{seed}-n{FACT_ROWS}")
        t = gen.write_rule_tables(root, FACT_ROWS, seed)
        return {"fact": t["fact"], "dim": t["dim"], "expected": t["expected"], "rows": FACT_ROWS,
                "in_bytes": du(t["fact"]) + du(t["dim"])}

    # -- one child ---------------------------------------------------------
    def child(self, name: str, inputs: dict, trace: bool) -> dict:
        from qfbench import procs

        work = os.path.join(self.work, name)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if trace:
            events = os.path.join(work, "events")
            os.makedirs(events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        job = dict(inputs, workload=self.args.workload, seconds=self.args.seconds,
                   trace=trace, work=work, conf=conf)
        job_path = os.path.join(work, "job.json")
        with open(job_path, "w") as f:
            json.dump(job, f)
        env = dict(os.environ)
        env.update({
            # the Python workers import the package too, not just the driver
            "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(self.cores),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": conf["spark.local.dir"],
            "TMPDIR": tmp,
        })
        timeout = max(1.0, DEADLINE_S - (time.monotonic() - self.t0) - CHECK_RESERVE_S)
        run = procs.run_child([sys.executable, os.path.join(HERE, "child.py"), job_path],
                              env, os.path.join(work, "child.log"), timeout)
        out = {}
        if os.path.exists(job_path + ".out"):
            with open(job_path + ".out") as f:
                out = json.load(f)
        out["run"] = run
        out["work"] = work
        ops = out.get("ops", [])
        bad = [op for op in ops if "error" in op]
        self.attempted += len(ops)
        self.failed += len(bad)
        for op in bad:
            self.problems.append(f"{name}/{op['name']}: {op['error'].strip().splitlines()[-1]}")
        if run.timed_out or run.returncode != 0 or run.leftovers or not ops:
            # the run itself raised, timed out, was killed or left processes
            # behind: one more failed operation
            self.attempted += 1
            self.failed += 1
            self.problems.append(
                f"{name}: rc={run.returncode} timed_out={run.timed_out} "
                f"leftovers={run.leftovers} error={out.get('error', '').strip()[-300:]}")
            self.dump_log(os.path.join(work, "child.log"))
        return out

    @staticmethod
    def dump_log(path: str, n: int = 40) -> None:
        try:
            with open(path, errors="replace") as f:
                lines = f.readlines()[-n:]
        except OSError:
            return
        sys.stderr.write("".join(lines))

    # -- checks ------------------------------------------------------------
    def check(self, inputs: dict, res: dict, orc) -> None:
        from qfbench import verify

        wl = self.args.workload
        if wl == "rulecheck_tables":
            recount = verify.duckdb_counts(inputs["fact"], inputs["dim"])
            if "report" in res:
                self.attempted += 1
                probs = verify.check_report(recount, os.path.join(res["work"], "out", "report"))
                if probs:
                    self.failed += 1
                    self.problems += [f"report: {p}" for p in probs]
        for op in res.get("ops", []):
            if "error" in op:
                continue
            if op["name"].startswith("stream"):
                probs = verify.check_stream(orc, op)
            elif wl == "filter_batch":
                probs = verify.check_batch(orc, op)
            else:
                probs = verify.check_rules(inputs["expected"], recount, op)
            if probs:
                self.failed += 1
                self.problems += [f"{op['name']}: {p}" for p in probs]
        keep = (res.get("layers") or {}).get("keep_count")
        if keep is not None:
            expected = int(orc["keep"].sum())
            self.attempted += 1
            if keep != expected:
                self.failed += 1
                self.problems.append(f"layer keep-count {keep} != oracle {expected}")

    # -- metrics -----------------------------------------------------------
    def end_to_end(self, inputs: dict, res: dict, gen_s: float) -> tuple[dict, dict]:
        ops = [op for op in res.get("ops", []) if "error" not in op]
        cold = next((op for op in ops if op["name"] == "cold"), None)
        warmup = next((op for op in ops if op["name"] == "warmup"), None)
        warm = [op for op in ops if op["name"].startswith("warm-")]
        report = res.get("report") if self.args.workload == "rulecheck_tables" else {}
        if cold is None or warmup is None or not warm or report is None:
            return {}, {}
        run = res["run"]
        # the filter's operation writes its output; the rule suite's report
        # is written once, after the warm loop
        out_bytes = report["out_bytes"] if report else statistics.median(op["out_bytes"] for op in warm)
        # peak PSS during each warm operation: the run's whole peak also
        # holds the cold operation's transients (worker spawn, model build)
        peaks = [max((v for t, v in run.pss_samples if op["start_mono"] <= t <= op["end_mono"]), default=0)
                 / 2**20 for op in warm]
        return {
            "setup_s": gen_s + (res["session_ready_mono"] - run.spawn_mono) + cold["secs"] + warmup["secs"],
            "rows_per_s": statistics.median(inputs["rows"] / op["secs"] for op in warm),
            "cold_run_s": cold["secs"],
            "peak_rss_mb": statistics.median(peaks),
            "out_bytes_per_in_byte": out_bytes / inputs["in_bytes"],
        }, {"warm_secs": [op["secs"] for op in warm], "gen_s": gen_s,
            "warm_peak_pss_mb": peaks, "run_peak_pss_mb": run.peak_pss_bytes / 2**20,
            "session_start_s": res["session_start_s"]}

    def per_layer(self, inputs: dict, res: dict, orc) -> dict:
        from qfbench import eventlog

        m = {k: 0.0 for k in PER_LAYER_NAMES}
        m["session.start_s"] = res["session_start_s"]
        m["models.build_s"] = models_build_s()
        layers = res.get("layers", {})
        for k, v in layers.items():
            if k in m:
                m[k] = v
        if orc is not None:
            import pandas as pd

            from data_quality_spark.functions import langid, perplexity

            texts = pd.Series(orc["text_extracted"].tolist(), dtype=object)
            t0 = time.perf_counter()
            langid.predict_batch(texts)
            m["models.langid_us_per_doc"] = (time.perf_counter() - t0) / len(texts) * 1e6
            t0 = time.perf_counter()
            perplexity.ppl_batch(texts)
            m["models.ppl_us_per_doc"] = (time.perf_counter() - t0) / len(texts) * 1e6
        ok = [op for op in res.get("ops", []) if "error" not in op]
        warm = [op for op in ok if op["name"].startswith("warm-")]
        drains = [op for op in ok if op["name"].startswith("stream-") and op["name"] != "stream-cold"]
        if drains:
            b = [x for op in drains for x in op["batches"]]
            m["stream.add_batch_ms_p50"] = statistics.median(x["add_batch_ms"] for x in b)
            m["stream.overhead_ms_p50"] = statistics.median(x["trigger_ms"] - x["add_batch_ms"] for x in b)
            m["stream.batches"] = len(b) / len(drains)
        groups = {f"qfbench:{op['name']}" for op in warm}
        m.update(eventlog.spark_metrics(os.path.join(res["work"], "events"), groups, len(warm),
                                        sum(op["secs"] for op in warm), self.cores))
        # against the untraced runs' rows_per_s this gives the tracing overhead
        m["trace.rows_per_s"] = statistics.median(inputs["rows"] / op["secs"] for op in warm)
        return m

    # -- main --------------------------------------------------------------
    def run(self) -> dict:
        from qfbench import procs

        procs.become_subreaper()
        os.makedirs(self.inputs)
        print(json.dumps({"machine": machine_record(self.cores)}), flush=True)
        phases = {"harness_start_s": time.monotonic() - self.t0}
        t = time.perf_counter()
        inputs = self.generate()
        gen_s = time.perf_counter() - t
        trace = bool(self.args.trace)
        res = self.child("traced" if trace else "untraced", inputs, trace=trace)
        phases["child_s"] = res["run"].wall_s
        t = time.perf_counter()
        orc = None
        if self.args.workload == "filter_batch":
            from qfbench import verify

            orc = verify.oracle(inputs["pages"], self.cores)
        self.check(inputs, res, orc)
        phases["check_s"] = time.perf_counter() - t
        e2e, detail = self.end_to_end(inputs, res, gen_s)
        detail["phases"] = phases
        print(json.dumps({"workload": self.args.workload, "seed": self.args.seed, "trace": trace,
                          "detail": detail, "layers": res.get("layers"),
                          "problems": self.problems[:20]}, default=str), flush=True)
        if trace and e2e:
            return self.per_layer(inputs, res, orc)
        return e2e


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["filter_batch", "rulecheck_tables"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_quality_spark")):
        print(f"qfbench: no data_quality_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, _on_sigterm)
    h = Harness(args)
    try:
        metrics = h.run()
    except (Interrupted, KeyboardInterrupt) as e:
        print(f"qfbench: interrupted ({e!r}); all child processes were stopped", file=sys.stderr)
        return 130
    finally:
        shutil.rmtree(h.work, ignore_errors=True)
    if not metrics:
        for p in h.problems:
            print(p, file=sys.stderr)
        print("qfbench: no measurement completed", file=sys.stderr)
        return 1
    for p in h.problems:
        print(p, file=sys.stderr)
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "1/s"
    for suffix, unit in (("_us_per_doc", "us"), ("_ms_p50", "ms"), ("_mb", "MB"),
                         ("_bytes", "bytes"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    if name in ("out_bytes_per_in_byte", "spark.cpu_util", "spark.task_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
