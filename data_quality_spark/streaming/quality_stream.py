"""Structured Streaming front-end for the quality filter.

The reference engine is strictly batch (no streaming anywhere in
/root/reference — SURVEY.md §2 'not present'), so this module is an
EXTENSION, not parity: the same per-row stages (extract → features → fused
model UDF → heuristic rules → scrub) applied to a stream of pages via
``readStream`` → ``writeStream``, with checkpointing for exactly-once sinks.

What transfers and what doesn't:
  * All per-row stages transfer verbatim — ``annotate_stream`` builds the
    exact same Catalyst expressions + Arrow UDF as ``annotate_pages`` minus
    the cross-row pieces, so batch and stream keep/drop agree wherever both
    are defined.
  * The duplicate-url rule is cross-row state. In streaming it would need
    ``dropDuplicatesWithinWatermark`` (bounded state); unbounded exact dedup
    is a batch/compaction concern. Here the stream emits ``keep`` WITHOUT
    the dup rule and the nightly batch pass (run_pipeline) remains the
    source of truth for dedup — the standard lambda split for 10^12-doc
    ingestion. Two bounded dedup aids exist on the stream itself:
    ``dedup_within`` (watermarked url state) and ``bloom`` (stateless
    probe of the batch layer's persisted kept-text Bloom filter).
  * Late data: ``warc_ts`` watermark on the windowed metrics stream.

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch size; the sink is
partitioned parquet with a checkpoint dir (resume = restart with the same
checkpointLocation — Spark replays the source offsets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_quality_spark.pipeline.quality_filter import (
    DEFAULT_CONFIG,
    QFConfig,
    annotate_rowwise,
    quality_rules,
    rule_hit_aggs,
)

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def streaming_rules(cfg: QFConfig = DEFAULT_CONFIG):
    """The batch rule set minus cross-row rules (duplicate_url needs
    unbounded state — batch's job). The pii rule reads the shared
    'pii_found' column annotate_stream computes (one detector scan)."""
    return [
        r
        for r in quality_rules(cfg, pii_col="pii_found")
        if r.rule_id != "duplicate_url"
    ]


def annotate_stream(df: DataFrame, cfg: QFConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-row annotation, streaming-safe (no shuffles, no state): the
    SAME ``annotate_rowwise`` chain the batch plane runs (one definition —
    parity is structural, not a parallel-edit discipline), minus the
    cross-row pieces (dup-url keys, repartition) and with the streaming
    rule set (no duplicate_url)."""
    df = df.withColumn("src_file", F.input_file_name())
    return annotate_rowwise(df, cfg, streaming_rules(cfg))


def stream_quality_filter(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    cfg: QFConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int = 8,
    available_now: bool = False,
    dedup_within: str | None = None,
    bloom: str | DataFrame | None = None,
    bloom_m: int | None = None,
):
    """readStream(pages parquet dir) → annotate → writeStream(kept parquet).

    Returns the started StreamingQuery. ``available_now=True`` drains
    whatever exists and stops (batch-like run with streaming checkpoints —
    also how the tests drive it).

    ``dedup_within`` (e.g. "1 hour"): BOUNDED-STATE url dedup via
    ``dropDuplicatesWithinWatermark`` — a same-url page arriving within the
    watermark window of an already-emitted one is suppressed; state for a
    url is evictable once the watermark passes its event time, so state
    stays O(urls-per-window), not O(stream). Near-real-time consumers get
    dup suppression without waiting for the nightly batch (which remains
    the source of truth for exact global dedup — the lambda split).

    ``bloom``: a persisted kept-text Bloom filter. Pass the PATH of
    run_pipeline's bloom_index artifact (its ``_bloom_meta.json`` sidecar
    supplies the geometry; any Hadoop-supported URI works — the sidecar
    is read through pipeline.fsio). A raw [word_idx, bits] DataFrame is the
    advanced form: its geometry CANNOT be inferred, so ``bloom_m`` must
    match the build (defaults to ``ops.dedup.BLOOM_M`` — bloom_build's
    default, NOT the pipeline artifact's) — an oversized build fails
    loudly in the bitmap collect, an undersized one cannot be detected.
    Rows whose scrubbed text is maybe-seen are suppressed by a STATELESS
    map-only probe of the broadcast bitmap (no streaming state at all —
    the complement of dedup_within's url-keyed state). The bitmap is
    snapshotted at stream start; restart the query to pick up the batch
    layer's newer filter."""
    src = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_path)
    )
    ann = annotate_stream(src, cfg)
    kept = ann.where(F.col("keep")).select(
        "url", "warc_ts", "lang", "lang_pred", "ppl",
        "text_scrubbed", "fired_rules", "part_id", "src_file",
    )
    if bloom is not None:
        from data_quality_spark.ops import dedup as D

        if isinstance(bloom, str):
            # a pipeline artifact carries its (m, k); reuse/validate it —
            # the sidecar probe goes through the fsio Hadoop-FS shim, so
            # the artifact may live on any Hadoop-supported URI (the old
            # _require_local local-only restriction is retired)
            from data_quality_spark.pipeline.quality_filter import (
                _resolve_bloom_m,
            )

            bdf = spark.read.parquet(bloom)
            bm = _resolve_bloom_m(spark, bloom, bloom_m, D.BLOOM_K)
        else:
            bdf = bloom
            bm = bloom_m if bloom_m is not None else D.BLOOM_M
        kept = D.bloom_maybe_seen(kept, bdf, "text_scrubbed", m=bm)
        kept = kept.where(~F.col("maybe_seen")).drop("maybe_seen")
    if dedup_within is not None:
        kept = kept.withWatermark("warc_ts", dedup_within)
        kept = kept.dropDuplicatesWithinWatermark(["url"])
    writer = (
        kept.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def host_quota_stream(
    pages: DataFrame,
    quota: int,
    host_col: str = "host",
    order_col: str | None = None,
) -> DataFrame:
    """CUSTOM STATEFUL streaming operator via applyInPandasWithState:
    per-host admission cap across the whole stream — each host contributes
    at most `quota` documents, with the admitted count carried in group
    state between micro-batches (the streaming twin of the batch
    `ops.textops.group_quota`; batch uses a rank window, a stream needs
    true cross-batch state).

    Admission order: ACROSS micro-batches it is stream order (state is
    cumulative); WITHIN a micro-batch the post-shuffle row order is not
    guaranteed, so pass `order_col` (e.g. warc_ts) to pin which rows of a
    same-batch overflow are admitted — without it the admitted COUNT per
    host is exact but the member set within one batch is
    arrival-nondeterministic (like any streaming ingest).

    Input must already carry `host_col` (e.g. parse_url(url, 'HOST')).
    Returns the admitted-rows stream (append semantics). State per host is
    ONE long — 10^9 hosts ≈ a few GB of state store, fine for RocksDB state
    backends at scale."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = pages.schema
    fields = [f.name for f in out_schema.fields]

    def admit(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        if order_col is None:
            for pdf in pdfs:
                room = quota - n
                if room <= 0:
                    continue  # keep draining the iterator; nothing admitted
                sel = pdf.iloc[:room]
                n += len(sel)
                yield sel[fields]
        else:
            # deterministic within-batch admission: buffer this group's
            # batch (bounded by maxFilesPerTrigger sizing), order, then cut
            chunks = list(pdfs)
            whole = pd.concat(chunks) if chunks else None
            if whole is not None and len(whole):
                whole = whole.sort_values(order_col, kind="mergesort")
                room = max(0, quota - n)
                sel = whole.iloc[:room]
                n += len(sel)
                if len(sel):
                    yield sel[fields]
        state.update((n,))

    return (
        pages.groupBy(host_col)
        .applyInPandasWithState(
            admit,
            outputStructType=out_schema,
            stateStructType="n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def latest_snapshot_stream(
    pages: DataFrame,
    key_col: str,
    ts_col: str,
    payload_cols: list[str],
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``ops.textops.latest_snapshot``: one winner row
    per key per event-time window — the max (ts, payload...) STRUCT, so
    out-of-order revisions inside the window resolve to the newest one and
    ties on the timestamp break exactly like the batch op (lexicographic
    max payload struct — the documented, oracle-pinned rule).

    Built-in windowed aggregation, not custom state: watermark + window
    grouping makes it APPEND-compatible (a window's winner is emitted
    once, when the watermark passes its end) and bounds state at one
    struct per live (key, window) — revisions arriving later than the
    watermark are dropped, the standard lambda split (the nightly batch
    latest_snapshot over the lake remains the exact-final source of
    truth). Output: (key, window_start, ts, payloads...)."""
    m = F.max(
        F.struct(F.col(ts_col), *[F.col(c) for c in payload_cols])
    ).alias("__m")
    return (
        pages.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(m)
        .select(
            key_col,
            F.col("w.start").alias("window_start"),
            *[F.col(f"__m.{c}").alias(c) for c in [ts_col] + payload_cols],
        )
    )


def distinct_hll_stream(
    pages: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "warc_ts",
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``ops.sketches.distinct_hll``: per-key
    distinct-value cardinality per event-time window — e.g. distinct
    URLs per host per day over a live crawl feed.

    ONE stateful windowed aggregation (append-compatible): the 64 HLL
    registers become 64 conditional MAX aggregates, so state is exactly
    64 small ints per live (window, key) — never a distinct-set. The
    register→s_units collapse and the estimate are STATELESS projections
    after the agg, and use the same exact-bigint arithmetic as the batch
    op, so a window's emitted row equals the batch distinct_hll over
    that window's rows bit-for-bit (test-pinned). NULL values are
    skipped, matching batch/COUNT DISTINCT semantics."""
    from data_quality_spark.ops.graph import (
        HLL_EST_C,
        HLL_M,
        HLL_RHO_CAP,
        _hll_bucket_rho,
    )

    bucket, rho = _hll_bucket_rho(F.col(value_col))
    agg = (
        pages.where(F.col(value_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            F.col(key_col),
            bucket.alias("__b"),
            rho.alias("__r"),
        )
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            *[
                F.max(F.when(F.col("__b") == j, F.col("__r"))).alias(f"r{j}")
                for j in range(HLL_M)
            ]
        )
    )
    # stateless collapse: absent register (no row hit bucket j) = rho 0
    s = None
    for j in range(HLL_M):
        term = F.pow(
            F.lit(2.0),
            F.lit(HLL_RHO_CAP) - F.coalesce(F.col(f"r{j}"), F.lit(0)),
        ).cast("bigint")
        s = term if s is None else s + term
    return agg.select(
        key_col,
        F.col("w.start").alias("window_start"),
        s.alias("s_units"),
    ).withColumn(
        "distinct_est", F.lit(HLL_EST_C) / F.col("s_units").cast("double")
    )


def stream_rule_metrics(
    spark: SparkSession,
    in_path: str,
    cfg: QFConfig = DEFAULT_CONFIG,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed per-rule hit counts over event time (warc_ts) with a
    watermark for late pages — the streaming twin of metrics_by_partition.
    Returns the unstarted aggregated stream (caller picks the sink)."""
    src = spark.readStream.schema(PAGES_SCHEMA).parquet(in_path)
    ann = annotate_stream(src, cfg)
    return (
        ann.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(*rule_hit_aggs(streaming_rules(cfg)))
    )


def host_keep_stats_stream(
    pages: DataFrame,
    host_col: str = "host",
    keep_col: str = "keep",
    min_docs: int = None,
    max_keep_rate: float = None,
) -> DataFrame:
    """Streaming twin of ``ops.textops.host_keep_stats``: running per-host
    keep/drop counts across the whole stream, with the induced blocklist
    flag live — the crawl feedback loop (consistently-failing hosts get
    promoted to the URL blocklist) evaluated as pages arrive instead of
    in the nightly batch.

    Built-in unwindowed stateful aggregation (update/complete output):
    state is exactly two longs per host — the same bound as
    host_quota_stream's counter, RocksDB-friendly at web host
    cardinality. The keep_rate / blocked arithmetic is the SAME exact
    bigint-division expression as the batch op, so a snapshot of this
    stream's complete output equals host_keep_stats over the union of all
    micro-batches (test-pinned parity)."""
    from data_quality_spark.ops.textops import (
        HOST_BLOCK_MAX_KEEP,
        HOST_BLOCK_MIN_DOCS,
    )

    if min_docs is None:
        min_docs = HOST_BLOCK_MIN_DOCS
    if max_keep_rate is None:
        max_keep_rate = HOST_BLOCK_MAX_KEEP
    agg = pages.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(keep_col).cast("bigint")).alias("n_keep"),
    )
    rate = F.col("n_keep") / F.col("n_docs")
    return agg.select(
        "host",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_keep").cast("bigint").alias("n_keep"),
        rate.alias("keep_rate"),
        ((F.col("n_docs") >= F.lit(min_docs))
         & (rate <= F.lit(float(max_keep_rate)))).alias("blocked"),
    )
