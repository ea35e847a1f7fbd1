"""Output checks, run by the harness after the child has exited.

The filter workloads are checked against the package's pandas oracle
(``pipeline.oracle.annotate_pandas``); the rule-check workload against the
generator's injected fault counts and an independent DuckDB recount. Each
check returns a list of problems; an empty list means the output is right.
"""

from __future__ import annotations

import json
import os
import zlib
from collections import Counter

import pyarrow.parquet as pq

from qfbench.gen import AMOUNT_MAX, SKU_REGEX, STATUSES

SAMPLE_CAP = 100  # QualityTable's default n_max_rows_output
REPORT_CAP = 10_000  # report.export_details' default max_rows_per_table
# columns of run_pipeline's metrics table that are not counts
METRICS_KEYS = {"bucket", "part_id", "src_files"}


def _annotate(pdf):
    from data_quality_spark.pipeline.oracle import annotate_pandas

    return annotate_pandas(pdf)


def oracle(pages_path: str, workers: int):
    """``pipeline.oracle.annotate_pandas`` over the corpus, in ``workers``
    processes. Its only cross-row state is the url count behind
    duplicate_url, so the rows are split by a hash of the url: every copy
    of a url lands in the same part and each part's answer is exact."""
    import multiprocessing

    import pandas as pd

    pdf = pq.read_table(pages_path).to_pandas()
    part = [zlib.crc32(str(u).encode()) % workers for u in pdf["url"]]
    parts = [pdf[[p == i for p in part]] for i in range(workers)]
    with multiprocessing.get_context("fork").Pool(workers) as pool:
        out = pool.map(_annotate, parts)
    return pd.concat(out)


def expected_rows(orc) -> Counter:
    """Multiset of (url, text_scrubbed, fired_rules) that ``run_pipeline``
    must keep: the oracle's kept rows."""
    return Counter(
        (url, text, tuple(fired))
        for url, text, fired, keep in zip(orc["url"], orc["text_scrubbed"], orc["fired_rules"], orc["keep"])
        if keep
    )


def expected_stream_rows(orc) -> Counter:
    """The same for the streaming front-end, whose rule set has no
    duplicate_url: a row is kept if the oracle keeps it, or if duplicate_url
    is its only failing rule. A rule fails a row unless it is a warning,
    and the warnings are the rules that fire on rows the oracle keeps."""
    warnings = {r for fired, keep in zip(orc["fired_rules"], orc["keep"]) if keep for r in fired}
    kept = Counter()
    for url, text, fired, keep in zip(orc["url"], orc["text_scrubbed"], orc["fired_rules"], orc["keep"]):
        rest = tuple(r for r in fired if r != "duplicate_url")
        if keep or set(rest) <= warnings:
            kept[(url, text, rest)] += 1
    return kept


def _got_rows(table) -> Counter:
    return Counter(
        (url, text, tuple(fired or ()))
        for url, text, fired in zip(table.column("url").to_pylist(),
                                    table.column("text_scrubbed").to_pylist(),
                                    table.column("fired_rules").to_pylist())
    )


def _compare(expected: Counter, got: Counter) -> list[str]:
    """Kept rows must match exactly: F1 = 1.0 on the keep decision, with
    byte-identical scrubbed text and the same fired (warning) rules."""
    exp_urls = Counter(k[0] for k in expected.elements())
    got_urls = Counter(k[0] for k in got.elements())
    tp = sum((exp_urls & got_urls).values())
    probs = []
    if tp != sum(exp_urls.values()) or tp != sum(got_urls.values()):
        probs.append(f"keep F1 != 1: tp={tp} expected={sum(exp_urls.values())} got={sum(got_urls.values())}")
    elif expected != got:
        bad = list((expected - got).keys())[:3]
        probs.append(f"kept rows differ in scrubbed text or fired rules, e.g. url={[b[0] for b in bad]}")
    return probs


def check_batch(orc, op: dict) -> list[str]:
    out = op["out"]
    kept = pq.read_table(os.path.join(out, "kept"), columns=["url", "text_scrubbed", "fired_rules"])
    expected = expected_rows(orc)
    probs = _compare(expected, _got_rows(kept))
    with open(os.path.join(out, "_manifest.json")) as f:
        manifest = json.load(f)
    n_manifest = sum(v["rows_kept"] for k, v in manifest.items() if k.startswith("bucket="))
    if n_manifest != kept.num_rows:
        probs.append(f"manifest rows_kept {n_manifest} != kept parquet rows {kept.num_rows}")
    metrics = pq.read_table(os.path.join(out, "metrics")).to_pandas()
    want = Counter(r for rules in orc["fired_rules"] for r in rules)
    want["n_rows"] = len(orc)
    want["n_dropped"] = len(orc) - sum(expected.values())
    counted = [c for c in metrics.columns if c not in METRICS_KEYS]
    for name in sorted(set(want) | set(counted)):
        got = int(metrics[name].sum()) if name in metrics else None
        if got != want[name]:
            probs.append(f"metrics {name}: {got} != oracle {want[name]}")
    return probs


def check_stream(orc, op: dict) -> list[str]:
    kept = pq.read_table(op["out"], columns=["url", "text_scrubbed", "fired_rules"])
    return _compare(expected_stream_rows(orc), _got_rows(kept))


def duckdb_counts(fact: str, dim: str) -> dict:
    """Independent recount of every check's KO rows, and of the rows that
    fail any check (the rows of the KO-row report)."""
    import duckdb

    statuses = ", ".join(f"'{s}'" for s in STATUSES)
    flags = {
        "index_not_null": "order_id IS NULL",
        "duplicate_index": """order_id IN (SELECT order_id FROM f WHERE order_id IS NOT NULL
            GROUP BY order_id HAVING count(*) > 1)""",
        "not_empty": "customer_id IS NULL OR customer_id = ''",
        "datetime_format": "order_date <> '' AND try_strptime(order_date, '%Y-%m-%d') IS NULL",
        "between_values": f"amount < 0 OR amount > {AMOUNT_MAX}",
        "values_in_list": f"status <> '' AND status NOT IN ({statuses})",
        "match_regex": f"sku <> '' AND NOT regexp_matches(sku, '{SKU_REGEX}')",
        "match_dimension": "product_id IS NOT NULL AND product_id NOT IN (SELECT product_id FROM d)",
        "values_order_dimension": "NOT (amount <= max_amount)",
        "period_intersection": """hit OR lead(hit) OVER (PARTITION BY account_id
            ORDER BY valid_from, valid_to)""",
    }
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW f AS SELECT * FROM read_parquet('{fact}/*.parquet')")
        con.execute(f"CREATE VIEW d AS SELECT * FROM read_parquet('{dim}/*.parquet')")
        # one row per fact row, one KO flag per check
        cols = ", ".join(f"coalesce({sql}, false) AS {name}" for name, sql in flags.items())
        con.execute(f"""CREATE VIEW k AS SELECT {cols}
            FROM (SELECT f.*, d.max_amount, coalesce(lag(valid_to) OVER (PARTITION BY account_id
                         ORDER BY valid_from, valid_to) > valid_from, false) AS hit
                  FROM f LEFT JOIN d USING (product_id))""")
        counts = ", ".join(f"count_if({name})" for name in flags)
        row = con.execute(f"SELECT {counts}, count_if({' OR '.join(flags)}) FROM k").fetchone()
        return dict(zip(list(flags) + ["any"], row))
    finally:
        con.close()


def check_report(recount: dict, path: str) -> list[str]:
    """The KO-row report has one row per fact row that fails any check."""
    import pandas as pd

    got = len(pd.read_csv(os.path.join(path, "orders_ko_rows.csv")))
    want = min(recount["any"], REPORT_CAP)
    return [] if got == want else [f"report has {got} KO rows, duckdb counts {want}"]


def check_rules(expected: dict, recount: dict, op: dict) -> list[str]:
    probs = []
    for name, n in expected.items():
        got = op["n_ko"].get(name)
        if not (got == n == recount[name]):
            probs.append(f"{name}: engine {got}, generator {n}, duckdb {recount[name]}")
        if op["sample_rows"].get(name) != min(n, SAMPLE_CAP):
            probs.append(f"{name}: {op['sample_rows'].get(name)} sample rows for {n} KO rows")
    return probs
