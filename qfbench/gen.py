"""Seeded inputs for the benchmark's workloads.

Every input is a pure function of (seed, size). The pages corpus comes from
the package's own generator (``pipeline.pages.write_parquet``); this module
re-splits it into a backlog of small files for the stream drains. The
rule-check tables are built here with faults injected into disjoint row
sets, so the number of rows each check must flag is known exactly at
generation time.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Per-check fault counts, as a share of the fact rows. Each fault class gets
# its own rows (a disjoint slice of one seeded permutation), so one check's
# faults never change another check's count.
FAULT_RATES = {
    "index_null": 0.001,
    "index_dup": 0.002,  # pairs: each pair puts two rows in the KO set
    "customer_empty": 0.003,
    "date_bad": 0.002,
    "amount_negative": 0.004,
    "status_unknown": 0.005,
    "sku_bad": 0.003,
    "product_missing": 0.002,
    "amount_over_dim": 0.002,
}
PERIOD_FAULT_RATE = 0.001  # overlapping period pairs, per fact row
PERIODS_PER_ACCOUNT = 20
STATUSES = ["NEW", "PAID", "SHIPPED", "CLOSED"]
_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
SKU_REGEX = r"^[A-Z]{3}-[0-9]{4}$"
DATE_FMT = "yyyy-MM-dd"
AMOUNT_MAX = 10000.0


def _codes(prefix: str, ints: np.ndarray, width: int) -> np.ndarray:
    """``prefix`` + zero-padded ``ints``, as an object array of str."""
    digits = pc.utf8_lpad(pa.array(ints).cast(pa.string()), width, "0")
    return np.asarray(pc.binary_join_element_wise(prefix, digits, "").to_numpy(zero_copy_only=False))


def du(path: str) -> int:
    """Bytes in the files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def resplit(src: str, dst: str, n_files: int) -> str:
    """The corpus at ``src`` rewritten as ``n_files`` equal parquet parts, in
    row order: a backlog of small files for the streaming front-end."""
    table = pq.read_table(src)
    os.makedirs(dst, exist_ok=True)
    step = (table.num_rows + n_files - 1) // n_files
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(dst, f"part-{i:05d}.parquet"))
    return dst


def _period_columns(rng: np.random.Generator, n: int):
    """Per-account runs of disjoint 5-day periods 10 days apart, with a few
    isolated overlaps: an overlap stretches period k to end 2 days into
    period k+1, which flags both rows (the check marks a row and its
    predecessor). Only even k are stretched, so no two overlaps share a
    row and the KO count is exactly 2 per overlap."""
    account = np.arange(n) // PERIODS_PER_ACCOUNT
    k = np.arange(n) % PERIODS_PER_ACCOUNT
    base = np.datetime64("2020-01-01T00:00:00", "us")
    day = np.timedelta64(86_400_000_000, "us")
    start = base + (account % 97) * day + k * 10 * day
    end = start + 5 * day
    candidates = np.flatnonzero((k % 2 == 0) & (k < PERIODS_PER_ACCOUNT - 1))
    n_faults = int(n * PERIOD_FAULT_RATE)
    stretched = rng.choice(candidates, size=n_faults, replace=False)
    end[stretched] = start[stretched + 1] + 2 * day
    accounts = _codes("A", account, 6)
    return accounts, start, end, 2 * n_faults


def write_rule_tables(root: str, n_rows: int, seed: int) -> dict:
    """Fact table ``orders`` (``n_rows`` rows, 4 parquet parts) and dimension
    table ``products`` under ``root``. Returns the paths and, per check
    name, the exact number of fact rows the check must flag."""
    rng = np.random.default_rng(seed)
    n = n_rows
    n_products = max(100, n // 100)
    counts = {name: int(n * rate) for name, rate in FAULT_RATES.items()}
    perm = rng.permutation(n)
    rows: dict[str, np.ndarray] = {}
    at = 0
    for name, c in counts.items():
        rows[name] = perm[at : at + c]
        at += c
    dup_sources = perm[at : at + counts["index_dup"]]

    order_id = np.arange(1, n + 1, dtype=np.int64)
    order_id[rows["index_dup"]] = order_id[dup_sources]
    order_id_valid = np.ones(n, dtype=bool)
    order_id_valid[rows["index_null"]] = False

    customer = _codes("C", rng.integers(0, 50_000, n), 6)
    empties = rows["customer_empty"]
    customer[empties[::2]] = None
    customer[empties[1::2]] = ""

    calendar = (np.datetime64("2023-01-01") + np.arange(700)).astype(str).astype(object)
    dates = calendar[rng.integers(0, len(calendar), n)]
    bad_dates = ["31/12/2024", "n/a", "2024.05.06", "12-31-2024"]
    for j, r in enumerate(rows["date_bad"]):
        dates[r] = bad_dates[j % len(bad_dates)]

    product = rng.integers(1, n_products + 1, n).astype(np.int64)
    product[rows["product_missing"]] = n_products + 1 + rng.integers(0, 1000, counts["product_missing"])
    max_amount = np.round(rng.uniform(5000.0, 6000.0, n_products), 2)

    amount = np.round(rng.uniform(1.0, 5000.0, n), 2)
    amount[rows["amount_negative"]] = -np.round(rng.uniform(1.0, 100.0, counts["amount_negative"]), 2)
    over = rows["amount_over_dim"]
    amount[over] = max_amount[product[over] - 1] + np.round(rng.uniform(1.0, 3000.0, len(over)), 2)

    status = np.array(STATUSES, dtype=object)[rng.integers(0, len(STATUSES), n)]
    status[rows["status_unknown"]] = "LOST"

    triples = np.array([a + b + c for a in _LETTERS for b in _LETTERS for c in _LETTERS], dtype=object)
    sku = pc.binary_join_element_wise(
        pa.array(triples[rng.integers(0, len(triples), n)], type=pa.string()),
        pc.utf8_lpad(pa.array(rng.integers(0, 10_000, n)).cast(pa.string()), 4, "0"),
        "-",
    ).to_numpy(zero_copy_only=False)
    sku[rows["sku_bad"]] = "ab-12"

    accounts, start, end, n_overlap = _period_columns(rng, n)
    # rows are written in a seeded shuffled order, so the period window has
    # a real sort to do
    order = rng.permutation(n)
    fact = pa.table(
        {
            "order_id": pa.array(order_id[order], mask=~order_id_valid[order]),
            "customer_id": pa.array(customer[order], type=pa.string()),
            "order_date": pa.array(dates[order], type=pa.string()),
            "amount": pa.array(amount[order]),
            "status": pa.array(status[order], type=pa.string()),
            "sku": pa.array(sku[order], type=pa.string()),
            "product_id": pa.array(product[order]),
            "account_id": pa.array(accounts[order], type=pa.string()),
            "valid_from": pa.array(start[order], type=pa.timestamp("us")),
            "valid_to": pa.array(end[order], type=pa.timestamp("us")),
        }
    )
    dim = pa.table(
        {
            "product_id": pa.array(np.arange(1, n_products + 1, dtype=np.int64)),
            "max_amount": pa.array(max_amount),
            "created": pa.array([datetime(2022, 1, 1)] * n_products, type=pa.timestamp("us")),
        }
    )
    fact_path = os.path.join(root, "orders")
    dim_path = os.path.join(root, "products")
    os.makedirs(fact_path, exist_ok=True)
    os.makedirs(dim_path, exist_ok=True)
    n_parts = 4
    step = (n + n_parts - 1) // n_parts
    for i in range(n_parts):
        pq.write_table(fact.slice(i * step, step), os.path.join(fact_path, f"part-{i:05d}.parquet"))
    pq.write_table(dim, os.path.join(dim_path, "part-00000.parquet"))
    expected = {
        "index_not_null": counts["index_null"],
        "duplicate_index": 2 * counts["index_dup"],
        "not_empty": counts["customer_empty"],
        "datetime_format": counts["date_bad"],
        "between_values": counts["amount_negative"],
        "values_in_list": counts["status_unknown"],
        "match_regex": counts["sku_bad"],
        "match_dimension": counts["product_missing"],
        "values_order_dimension": counts["amount_over_dim"],
        "period_intersection": n_overlap,
    }
    return {"fact": fact_path, "dim": dim_path, "expected": expected}
