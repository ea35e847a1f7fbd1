"""The rule-check suite of the ``rulecheck_tables`` workload.

One ``QualitySession`` / ``QualityTable`` suite over the generated fact and
dimension tables, covering the engine's three check families: row-wise
predicates, join-shaped checks (duplicate index, dimension match and order)
and the window-shaped period intersection.
"""

from __future__ import annotations

import time

from qfbench.gen import AMOUNT_MAX, DATE_FMT, SKU_REGEX, STATUSES

# rule_id prefix (the part before "__") -> check name used by gen.expected
CHECK_NAMES = {
    "index_not_null": "index_not_null",
    "duplicate_index": "duplicate_index",
    "not_empty": "not_empty",
    "datetime_format": "datetime_format",
    "between_values": "between_values",
    "values_in_list": "values_in_list",
    "match_regex": "match_regex",
    "match_dimension": "match_dimension",
    "values_order_dim": "values_order_dimension",
    "period_intersection": "period_intersection",
}
LAYER_REPS = 2
FAMILIES = {
    "rowwise": ["index_not_null", "not_empty", "datetime_format",
                "between_values", "values_in_list", "match_regex"],
    "join": ["duplicate_index", "match_dimension", "values_order_dimension"],
    "window": ["period_intersection"],
}


def build_suite(spark, fact, dim):
    from data_quality_spark.session import QualitySession

    qs = QualitySession(spark)
    t = qs.table_from_df(fact, "orders", index_column="order_id")
    d = qs.table_from_df(dim, "products", index_column="product_id")
    t.check_index_not_null()
    t.check_duplicate_index()
    t.check_not_empty_column("customer_id")
    t.check_datetime_format("order_date", fmt=DATE_FMT)
    t.check_columns_between_values("amount", min_value=0, max_value=AMOUNT_MAX)
    t.check_values_in_list("status", STATUSES)
    t.check_column_match_regex("sku", SKU_REGEX)
    t.check_match_dimension_table(d, "product_id")
    t.check_values_order_dimension_table(d, "product_id", "product_id", "amount", "max_amount", operator="<=")
    t.check_period_intersection_rows("valid_from", "valid_to", id_columns=["account_id"])
    return qs, t


def check_name(rule_id: str) -> str:
    return CHECK_NAMES[rule_id.split("__")[0]]


def run_suite(spark, fact, dim):
    """One operation: run every check with KO-row samples. Returns the
    session and a summary of its results."""
    qs, t = build_suite(spark, fact, dim)
    results = t.run(get_rows_flag=True)
    return qs, {
        "n_ko": {check_name(r.rule_id): r.n_ko for r in results},
        "n_rows": results[0].n_rows,
        "sample_rows": {check_name(r.rule_id): 0 if r.ko_rows is None else len(r.ko_rows) for r in results},
    }


def family_layers(runner, fact, dim) -> dict:
    """Per-family ``RuleEngine.metrics`` time and the cost of KO-row
    sampling, ``run(get_rows_flag=True)`` minus ``run()``; each the fastest
    of ``LAYER_REPS`` runs."""
    from data_quality_spark.rules.core import RuleEngine

    rules = build_suite(runner.spark, fact, dim)[1].rules
    out = {}
    for fam, names in FAMILIES.items():
        eng = RuleEngine([r for r in rules if check_name(r.rule_id) in names])
        secs = []
        for i in range(LAYER_REPS):
            runner.group(f"layer-{fam}-{i}")
            t0 = time.perf_counter()
            eng.metrics(fact).collect()
            secs.append(time.perf_counter() - t0)
        out[f"rules.{fam}_s"] = min(secs)
    flagged, plain = [], []
    for i in range(LAYER_REPS):
        for flag, acc in ((True, flagged), (False, plain)):
            runner.group(f"layer-suite-{flag}-{i}")
            t = build_suite(runner.spark, fact, dim)[1]
            t0 = time.perf_counter()
            t.run(get_rows_flag=flag)
            acc.append(time.perf_counter() - t0)
    out["rules.ko_rows_s"] = min(flagged) - min(plain)
    out["raw"] = {"suite_with_rows_s": flagged, "suite_s": plain}
    return out
