"""Streaming front-end: availableNow drain must agree with the batch
pipeline on every shared (non-stateful) stage, and resume from the
checkpoint must not duplicate output."""

import os

import pytest
from pyspark.sql import functions as F

from data_quality_spark.pipeline import pages
from data_quality_spark.pipeline.quality_filter import annotate_pages
from data_quality_spark.streaming.quality_stream import (
    stream_quality_filter,
    streaming_rules,
)

N_ROWS = 600


@pytest.fixture(scope="module")
def stream_in(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_pages")
    p = d / "pages"
    pages.write_parquet(str(p), N_ROWS, seed=7, n_files=4)
    return str(p)


def test_stream_matches_batch(spark, stream_in, tmp_path):
    out = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    q = stream_quality_filter(
        spark, stream_in, out, ckpt, available_now=True, max_files_per_trigger=2
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    # batch twin WITHOUT the dup-url rule (stream has no cross-row state)
    batch = annotate_pages(spark.read.parquet(stream_in).drop("fault_class"))
    # recompute keep excluding duplicate_url (stream has no cross-row state)
    rules = [r.rule_id for r in streaming_rules() if r.severity == "fail"]
    batch_keep = batch.withColumn(
        "keep_stream",
        F.size(
            F.array_intersect(F.col("fired_rules"), F.array(*[F.lit(r) for r in rules]))
        )
        == 0,
    )
    exp = {
        r["url"]: r["keep_stream"]
        for r in batch_keep.select("url", "keep_stream").collect()
    }
    got_urls = {r["url"] for r in got.select("url").collect()}
    exp_urls = {u for u, k in exp.items() if k}
    assert got_urls == exp_urls
    # scrubbed text byte-equal to batch for kept rows
    b = {r["url"]: r["text_scrubbed"] for r in batch.select("url", "text_scrubbed")
         .collect()}
    for r in got.select("url", "text_scrubbed").collect():
        assert r["text_scrubbed"] == b[r["url"]]


def test_host_quota_stream_stateful(spark, stream_in, tmp_path):
    """applyInPandasWithState admission cap: per-host state persists across
    micro-batches (maxFilesPerTrigger=1 forces 4 batches), so each host
    admits at most `quota` docs over the WHOLE stream, in arrival order."""
    from data_quality_spark.streaming.quality_stream import (
        PAGES_SCHEMA,
        host_quota_stream,
    )

    QUOTA = 5
    src = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_in)
        .withColumn("host", F.expr("parse_url(url, 'HOST')"))
    )
    admitted = host_quota_stream(src, QUOTA)
    out = str(tmp_path / "quota_out")
    q = (
        admitted.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "quota_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    per_host = {
        r["host"]: r["n"]
        for r in got.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    src_counts = {
        r["host"]: r["n"]
        for r in spark.read.parquet(stream_in)
        .withColumn("host", F.expr("parse_url(url, 'HOST')"))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_host  # something admitted
    for host, n in per_host.items():
        assert n == min(QUOTA, src_counts[host]), host
    # skewed hosts really got capped
    assert any(n > QUOTA for n in src_counts.values())
    assert max(per_host.values()) == QUOTA


def test_host_quota_stream_ordered_deterministic(spark, stream_in, tmp_path):
    """With order_col set, the ADMITTED MEMBER SET within each micro-batch
    is deterministic: two independent drains admit exactly the same urls."""
    from data_quality_spark.streaming.quality_stream import (
        PAGES_SCHEMA,
        host_quota_stream,
    )

    def drain(tag):
        src = (
            spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(stream_in)
            .withColumn("host", F.expr("parse_url(url, 'HOST')"))
        )
        out = str(tmp_path / f"q_{tag}")
        q = (
            host_quota_stream(src, 5, order_col="url")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"c_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return sorted(r["url"] for r in spark.read.parquet(out).collect())

    a, b = drain("a"), drain("b")
    assert a == b and len(a) > 0


def test_stream_rule_metrics_windowed(spark, stream_in, tmp_path):
    """Watermarked windowed per-rule metrics: an availableNow drain into a
    complete-mode memory sink must account for every input row exactly once
    across event-time windows, with per-rule hit counts present."""
    from data_quality_spark.streaming.quality_stream import stream_rule_metrics

    agg = stream_rule_metrics(spark, stream_in, window="10 minutes",
                              watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("qf_metrics_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    m = spark.sql("SELECT * FROM qf_metrics_test").toPandas()
    assert m["n_rows"].sum() == N_ROWS  # every page in exactly one window
    assert (m["n_dropped"] <= m["n_rows"]).all()
    assert "symbol_ratio" in m.columns and m["symbol_ratio"].sum() > 0
    assert len(m) > 1  # 600 rows span ~70 min → several 10-min windows


def test_stream_resume_no_duplicates(spark, stream_in, tmp_path):
    out = str(tmp_path / "kept2")
    ckpt = str(tmp_path / "ckpt2")
    q = stream_quality_filter(spark, stream_in, out, ckpt, available_now=True)
    q.awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    # restart with same checkpoint: source offsets replayed, nothing re-emitted
    q2 = stream_quality_filter(spark, stream_in, out, ckpt, available_now=True)
    q2.awaitTermination(300)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0
    assert os.path.isdir(ckpt)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dedup_within: a same-url page arriving inside the watermark window
    of an already-emitted one is suppressed (bounded-state streaming dedup);
    distinct urls pass untouched."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_spark.pipeline.pages import gen_row

    # two clean rows + an exact same-url replay 10 minutes later (well
    # inside the 1-hour watermark) + a distinct third url
    r1 = gen_row(0, seed=11)          # clean class
    r2 = dict(r1)
    r2["warc_ts"] = r1["warc_ts"] + dt.timedelta(minutes=10)
    r3 = gen_row(100, seed=11)        # different url, clean class
    assert r1["fault_class"] == "clean" and r3["fault_class"] == "clean"
    src_dir = str(tmp_path / "dup_pages")
    os.makedirs(src_dir, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    rows = [{k: r[k] for k in schema.names} for r in (r1, r2, r3)]
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(src_dir, "p.parquet"))

    out = str(tmp_path / "kept_dedup")
    q = stream_quality_filter(
        spark, src_dir, out, str(tmp_path / "ckpt_dedup"),
        available_now=True, dedup_within="1 hour",
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).select("url").collect()
    urls = [r["url"] for r in got]
    assert sorted(set(urls)) == sorted({r1["url"], r3["url"]})
    assert urls.count(r1["url"]) == 1  # the replay was suppressed
    assert len(urls) == 2


def test_latest_snapshot_stream_out_of_order(spark, tmp_path):
    """Streaming latest-snapshot keeper (r4 verdict #8): out-of-order
    revisions of a url inside one window resolve to the newest (struct-max,
    identical to batch latest_snapshot); the winner row is APPENDED once
    the watermark passes the window end (advanced here by a later sentinel
    file in a second micro-batch)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_spark.ops.textops import latest_snapshot
    from data_quality_spark.streaming.quality_stream import (
        latest_snapshot_stream,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("text", pa.string())])
    # u1's NEWEST revision arrives FIRST (out of order); u2 single row;
    # u3 has a timestamp TIE → lexicographic max text must win
    revs = [
        {"url": "u1", "warc_ts": base + dt.timedelta(minutes=30), "text": "v3"},
        {"url": "u1", "warc_ts": base + dt.timedelta(minutes=10), "text": "v1"},
        {"url": "u1", "warc_ts": base + dt.timedelta(minutes=20), "text": "v2"},
        {"url": "u2", "warc_ts": base + dt.timedelta(minutes=5), "text": "only"},
        {"url": "u3", "warc_ts": base + dt.timedelta(minutes=7), "text": "aa"},
        {"url": "u3", "warc_ts": base + dt.timedelta(minutes=7), "text": "bb"},
    ]
    sentinel = [{"url": "zz-flush", "warc_ts": base + dt.timedelta(days=3),
                 "text": "advances the watermark past window 1"}]
    src = str(tmp_path / "snap_src")
    os.makedirs(src, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(revs, schema=schema),
                   os.path.join(src, "a_revs.parquet"))
    pq.write_table(pa.Table.from_pylist(sentinel, schema=schema),
                   os.path.join(src, "b_flush.parquet"))

    sschema = "url string, warc_ts timestamp, text string"
    stream = (spark.readStream.schema(sschema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = latest_snapshot_stream(stream, "url", "warc_ts", ["text"],
                                 window="1 day", watermark="1 hour")
    out = str(tmp_path / "snap_out")
    q = (agg.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "snap_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {r["url"]: (r["warc_ts"], r["text"])
           for r in spark.read.parquet(out).collect()}
    # the sentinel's own window never closes → exactly the 3 real urls
    assert set(got) == {"u1", "u2", "u3"}
    assert got["u1"] == (base + dt.timedelta(minutes=30), "v3")
    assert got["u2"] == (base + dt.timedelta(minutes=5), "only")
    assert got["u3"] == (base + dt.timedelta(minutes=7), "bb")  # tie → max text
    # exact batch parity on the same rows (struct-max tie rule shared)
    batch = {r["url"]: (r["warc_ts"], r["text"]) for r in latest_snapshot(
        spark.createDataFrame([tuple(r.values()) for r in revs], sschema),
        "url", "warc_ts", ["text"]).collect()}
    assert batch == got


def test_stream_bloom_suppression(spark, stream_in, tmp_path):
    """Static Bloom filter of the batch layer's kept texts suppresses
    re-crawled content in the stream with ZERO streaming state."""
    from data_quality_spark.ops import dedup as D

    out1 = str(tmp_path / "kept1")
    q = stream_quality_filter(
        spark, stream_in, out1, str(tmp_path / "c1"), available_now=True
    )
    q.awaitTermination(300)
    kept1 = spark.read.parquet(out1)
    n1 = kept1.count()
    assert n1 > 0

    bloom = D.bloom_build(kept1, "text_scrubbed")
    out2 = str(tmp_path / "kept2")
    q2 = stream_quality_filter(
        spark, stream_in, out2, str(tmp_path / "c2"),
        available_now=True, bloom=bloom,
    )
    q2.awaitTermination(300)
    import glob

    n2 = (spark.read.parquet(out2).count()
          if glob.glob(os.path.join(out2, "*.parquet")) else 0)
    assert n2 == 0  # every kept text is in the filter


def test_stream_clf_stage_matches_batch(spark, stream_in, tmp_path):
    """The fused classifier gate streams unchanged: kept-url sets agree
    with the batch pipeline under the same clf config (modulo the
    stateless rule set)."""
    from data_quality_spark.ops import textops as T
    from data_quality_spark.pipeline.quality_filter import QFConfig

    docs = spark.read.parquet(stream_in)
    w = T.train_nb_classifier(docs, "url", "text", F.col("lang") == "en")
    wpath = str(tmp_path / "clf_w")
    w.write.parquet(wpath)
    cfg = QFConfig(clf_weights_path=wpath)

    out = str(tmp_path / "kept_clf")
    q = stream_quality_filter(
        spark, stream_in, out, str(tmp_path / "ckpt_clf"),
        cfg=cfg, available_now=True,
    )
    q.awaitTermination(300)
    got_urls = {r["url"] for r in spark.read.parquet(out).select("url").collect()}

    batch = annotate_pages(
        spark.read.parquet(stream_in).drop("fault_class"), cfg
    )
    rules = [r.rule_id for r in streaming_rules(cfg) if r.severity == "fail"]
    assert "clf_low_quality" in rules
    exp_urls = {
        r["url"]
        for r in batch.withColumn(
            "keep_stream",
            F.size(F.array_intersect(
                F.col("fired_rules"), F.array(*[F.lit(x) for x in rules])
            )) == 0,
        ).where(F.col("keep_stream")).select("url").collect()
    }
    assert got_urls == exp_urls
    # the gate actually constrains the stream output
    assert any(
        "clf_low_quality" in r["fired_rules"]
        for r in batch.select("fired_rules").collect()
    )


def test_stream_badwords_rule(spark, stream_in, tmp_path):
    """QFConfig.badwords composes into the stream unchanged (stateless
    rlike rule): a blocklist word drawn from the batch-kept corpus drops
    those pages from the streamed kept set."""
    from data_quality_spark.pipeline.quality_filter import QFConfig

    base = str(tmp_path / "kept_base")
    q = stream_quality_filter(
        spark, stream_in, base, str(tmp_path / "cb"), available_now=True
    )
    q.awaitTermination(300)
    kept = spark.read.parquet(base)
    text = kept.where("length(text_scrubbed) > 20").first()["text_scrubbed"]
    word = next(w.lower() for w in text.split()
                if len(w) >= 4 and w.isascii() and w.isalnum())

    out = str(tmp_path / "kept_bw")
    q2 = stream_quality_filter(
        spark, stream_in, out, str(tmp_path / "cw"), available_now=True,
        cfg=QFConfig(badwords=(word,)),
    )
    q2.awaitTermination(300)
    import glob
    import re

    got = (spark.read.parquet(out)
           if glob.glob(os.path.join(out, "*.parquet"))
           else spark.createDataFrame([], kept.schema))
    rx = re.compile(r"(?i)\b(?:" + word + r")\b", re.ASCII)
    # every surviving text is clean, and at least the sampled doc dropped
    assert got.count() < kept.count()
    for r in got.select("text_scrubbed").collect():
        assert not rx.search(r["text_scrubbed"] or "")


def test_stream_url_spam_rule_in_set(spark):
    """The soft URL spam rule is per-row/stateless, so it must ride into
    the streaming rule set when configured and stay absent by default."""
    from data_quality_spark.pipeline.quality_filter import QFConfig

    assert "url_spam" not in {r.rule_id for r in streaming_rules()}
    cfg = QFConfig(spam_fragments=(("casino", 100),))
    by_id = {r.rule_id: r for r in streaming_rules(cfg)}
    assert "url_spam" in by_id and by_id["url_spam"].severity == "fail"


def test_stream_host_rank_rule_in_set(spark, tmp_path):
    """host_low_rank is a stream-static broadcast lookup + per-row compare:
    it must ride into the streaming rule set when configured, and
    annotate_stream must produce the host_rank column it reads."""
    from data_quality_spark.pipeline.quality_filter import QFConfig
    from data_quality_spark.streaming.quality_stream import annotate_stream

    rank_path = str(tmp_path / "ranks.parquet")
    spark.createDataFrame(
        [("low.example", 1000, 0.000000001)],
        "host string, rank_units bigint, rank double",
    ).write.parquet(rank_path)
    cfg = QFConfig(host_rank_path=rank_path, min_host_rank=0.5)
    assert "host_low_rank" not in {r.rule_id for r in streaming_rules()}
    assert "host_low_rank" in {r.rule_id for r in streaming_rules(cfg)}
    # batch-shaped frame through the streaming annotate path: the joined
    # host_rank column feeds the rule exactly as in batch
    df = spark.createDataFrame(
        [("https://low.example/a", None, None, "some text here ok", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    row = annotate_stream(df, cfg).select("host_rank", "fired_rules").first()
    assert row["host_rank"] is not None and row["host_rank"] < 0.5
    assert "host_low_rank" in row["fired_rules"]


def test_distinct_hll_stream_matches_batch(spark, tmp_path):
    """Streaming per-window HLL distinct (distinct_hll_stream) must equal
    the batch sketch (ops.sketches.distinct_hll) bit-for-bit over the same
    window's rows — registers, s_units, and the float estimate."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_spark.ops.sketches import distinct_hll
    from data_quality_spark.streaming.quality_stream import (
        distinct_hll_stream,
    )

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    schema = pa.schema([("host", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("url", pa.string())])
    rows = [
        {"host": f"h{i % 3}", "warc_ts": base + dt.timedelta(minutes=i),
         "url": f"http://h{i % 3}.example/p{i % 37}"}
        for i in range(240)
    ] + [{"host": "h0", "warc_ts": base + dt.timedelta(minutes=5),
          "url": None}]
    sentinel = [{"host": "zz", "warc_ts": base + dt.timedelta(days=3),
                 "url": "http://zz.example/"}]
    src = str(tmp_path / "hll_src")
    os.makedirs(src, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(src, "a_rows.parquet"))
    pq.write_table(pa.Table.from_pylist(sentinel, schema=schema),
                   os.path.join(src, "b_flush.parquet"))

    sschema = "host string, warc_ts timestamp, url string"
    stream = (spark.readStream.schema(sschema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = distinct_hll_stream(stream, "host", "url",
                              window="1 day", watermark="1 hour")
    out = str(tmp_path / "hll_out")
    q = (agg.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r["host"]: r for r in spark.read.parquet(out).collect()
           if r["host"] != "zz"}
    batch_df = spark.createDataFrame(
        [(r["host"], r["url"]) for r in rows], "host string, url string"
    )
    expect = {r["host"]: r for r in distinct_hll(batch_df, "host", "url").collect()}
    assert set(got) == {"h0", "h1", "h2"} == set(expect)
    for h in expect:
        assert got[h]["s_units"] == expect[h]["s_units"], h
        assert got[h]["distinct_est"] == expect[h]["distinct_est"], h
        # truth: 37 urls spread over 3 hosts -> 12-13 distinct per host
        assert got[h]["distinct_est"] > 0


def test_host_keep_stats_stream_batch_parity(spark, tmp_path):
    """Running per-host keep-rate aggregation over a 2-batch stream: the
    complete-mode snapshot after the drain must equal the batch
    host_keep_stats over the union of all micro-batches — same counts,
    same exact-division rates, same induced blocklist."""
    from pyspark.sql import functions as F

    from data_quality_spark.ops.textops import host_keep_stats
    from data_quality_spark.streaming.quality_stream import (
        host_keep_stats_stream,
    )

    rows = []
    for i in range(40):
        rows.append((f"b{i}", "bad.example", i % 12 == 0))   # rate < 0.1
        rows.append((f"g{i}", "good.example", i % 4 != 0))   # rate 0.75
    rows += [(f"t{i}", "tiny.example", False) for i in range(3)]
    src_dir = str(tmp_path / "pages_in")
    df = spark.createDataFrame(rows, "url string, host string, keep boolean")
    # two files → at least two micro-batches with maxFilesPerTrigger=1
    df.where(F.length("url") % 2 == 0).write.parquet(src_dir)
    df.where(F.length("url") % 2 == 1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    q = (
        host_keep_stats_stream(stream, min_docs=5, max_keep_rate=0.5)
        .writeStream.format("memory")
        .queryName("host_keep_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["host"]: (r["n_docs"], r["n_keep"], r["keep_rate"], r["blocked"])
        for r in spark.sql("SELECT * FROM host_keep_test").collect()
    }
    want = {
        r["host"]: (r["n_docs"], r["n_keep"], r["keep_rate"], r["blocked"])
        for r in host_keep_stats(
            df, "host", "keep", min_docs=5, max_keep_rate=0.5
        ).collect()
    }
    assert got == want
    assert got["bad.example"][3] and not got["good.example"][3]
    assert not got["tiny.example"][3]  # evidence floor
