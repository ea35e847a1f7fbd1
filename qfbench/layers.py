"""Staged layer timings for the filter workload.

Each stage re-runs the chain up to and including one more layer over the
same input and forces that layer's columns into one aggregate, so a
layer's self time is the difference between two consecutive stages. The
stages run once each, after the warm loop, so the JIT has warmed up.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

FEATURES = ["f_n_chars", "f_n_words", "f_mean_word_len", "f_symbol_ratio",
            "f_repeated_line_fraction", "f_stopword_density"]


def _sum_of(cols) -> F.Column:
    return F.sum(sum((F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in cols), F.lit(0.0)))


def filter_layers(runner) -> dict:
    from data_quality_spark.functions import textstats
    from data_quality_spark.pipeline import extract
    from data_quality_spark.pipeline.quality_filter import (
        DEFAULT_CONFIG,
        annotate_pages,
        run_pipeline,
        with_model_scores,
    )

    spark = runner.spark
    path = runner.job["pages"]

    def read():
        return spark.read.parquet(path)

    def extracted():
        return extract.with_extracted(read(), "html", "text_extracted", "text")

    def featured():
        return textstats.with_features(extracted(), "text_extracted")

    def scored():
        return with_model_scores(featured(), DEFAULT_CONFIG)

    def write(name):
        run_pipeline(spark, path, os.path.join(runner.work, "out", name), n_buckets=8)

    stages = [
        ("scan", lambda _: read().agg(F.sum(F.length("html"))).collect()),
        ("extract", lambda _: extracted().agg(F.sum(F.length("text_extracted"))).collect()),
        ("textstats", lambda _: featured().agg(_sum_of(FEATURES)).collect()),
        ("models", lambda _: scored().agg(
            _sum_of(FEATURES + ["ppl", "lang_margin"]), F.sum(F.length("lang_pred"))).collect()),
        # count_if, not where(keep).count(): the Filter form inlines the
        # whole extract/feature chain into the predicate and runs ~4x slower
        ("rules", lambda _: annotate_pages(read()).agg(F.count_if(F.col("keep"))).collect()[0][0]),
        ("scrub", lambda _: annotate_pages(read()).agg(
            F.sum(F.length("text_scrubbed")), F.count_if(F.col("keep"))).collect()),
        ("write", write),
    ]
    cum: dict[str, float] = {}
    results = {}
    for stage, fn in stages:
        runner.group(f"layer-{stage}")
        t0 = time.perf_counter()
        results[stage] = fn(f"layer-{stage}")
        cum[stage] = time.perf_counter() - t0
    order = [s for s, _ in stages]
    # the rules stage's keep-count doubles as a correctness probe
    out = {"cumulative_s": cum, "keep_count": results["rules"]}
    for prev, stage in zip([None] + order, order):
        self_s = cum[stage] - (cum[prev] if prev else 0.0)
        key = "quality_filter.write_self_s" if stage == "write" else f"{stage}.self_s"
        out[key] = self_s
    return out
