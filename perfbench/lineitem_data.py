"""Seeded TPC-H-shaped ``lineitem``/``orders`` tables with injected
violations.

Rows are generated with numpy from ``(seed, row index)`` and written with
pyarrow, so set-up launches no Spark job. Violations are injected at
fixed rates on seeded residues (``i mod M == r``); the expected count of
every rule is taken from the final arrays, and the run re-derives the
same counts with plain DataFrame filters (:func:`filter_counts`).
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
FLAGS = ["A", "N", "R"]
STATUSES = ["O", "F"]
WORDS = "carefully final deposits quickly ironic packages regular requests".split()

SPEC = {
    "required": ["l_orderkey", "l_linenumber", "l_shipmode"],
    "properties": {
        "l_quantity": {"type": "integer", "minimum": 1, "maximum": 50},
        "l_extendedprice": {"minimum": 0},
        "l_discount": {"minimum": 0, "maximum": 0.1},
        "l_tax": {"minimum": 0, "maximum": 0.08},
        "l_returnflag": {"enum": FLAGS},
        "l_linestatus": {"enum": STATUSES},
        "l_shipmode": {"enum": SHIPMODES},
        "l_comment": {"type": "string", "minLength": 1, "maxLength": 44},
    },
}
KEY = ["l_orderkey", "l_linenumber"]
PROFILE_COLUMNS = ["l_quantity", "l_extendedprice", "l_discount", "l_shipmode"]
# epoch seconds of the first row; one row per second of event time
T0 = 1_700_000_000

# injection schedules: name -> modulus (residues come from the seed)
_MODULI = {
    "qty_low": 997, "qty_high": 991, "discount": 983, "flag": 977,
    "shipmode_null": 971, "comment_long": 967, "comment_empty": 953,
    "dup_key": 947, "orphan": 941,
}

ARROW_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.int32()),
    ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
    ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()),
    ("l_shipmode", pa.string()),
    ("l_comment", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _residues(seed: int) -> dict[str, int]:
    rng = np.random.default_rng([seed, 7])
    return {k: int(rng.integers(0, m)) for k, m in _MODULI.items()}


def generate(seed: int, start: int, n: int) -> pa.Table:
    """Rows ``start .. start+n-1``; a pure function of (seed, index)."""
    i = np.arange(start, start + n, dtype=np.int64)
    res = _residues(seed)
    hit = {k: (i % m) == res[k] for k, m in _MODULI.items()}

    def u(salt: int) -> np.ndarray:
        # splitmix64 finaliser of (seed, salt, absolute row index): the
        # same row gets the same values however the table is split
        off = np.uint64((seed * 0x9E3779B97F4A7C15 + salt * 0xD1B54A32D192ED03) % 2**64)
        z = i.astype(np.uint64) + off
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    orderkey = i // 4 + 1
    linenumber = (i % 4 + 1).astype(np.int32)
    quantity = (u(1) % np.uint64(50) + np.uint64(1)).astype(np.int32)
    price = (u(2) % np.uint64(10_000_000)).astype(np.float64) / 100.0
    discount = (u(3) % np.uint64(11)).astype(np.float64) / 100.0
    tax = (u(4) % np.uint64(9)).astype(np.float64) / 100.0
    flag = np.array(FLAGS, dtype=object)[(u(5) % np.uint64(3)).astype(np.int64)]
    status = np.array(STATUSES, dtype=object)[(u(6) % np.uint64(2)).astype(np.int64)]
    shipmode = np.array(SHIPMODES, dtype=object)[(u(7) % np.uint64(7)).astype(np.int64)]
    nw = (u(8) % np.uint64(4) + np.uint64(2)).astype(np.int64)
    w0 = (u(9) % np.uint64(len(WORDS))).astype(np.int64)
    comment = np.array(
        [" ".join(WORDS[(a + k) % len(WORDS)] for k in range(b)) for a, b in zip(w0, nw)],
        dtype=object,
    )

    quantity[hit["qty_low"]] = 0
    quantity[hit["qty_high"]] = 51
    discount[hit["discount"]] = 0.5
    flag[hit["flag"]] = "X"
    shipmode[hit["shipmode_null"]] = None
    comment[hit["comment_long"]] = "x" * 60
    comment[hit["comment_empty"]] = ""
    orderkey[hit["orphan"]] = 10**12 + i[hit["orphan"]]
    dup = hit["dup_key"] & (i > 0)
    # the duplicated key is the previous row's final key
    prev_key = (i - 1) // 4 + 1
    prev_orphan = ((i - 1) % _MODULI["orphan"]) == res["orphan"]
    orderkey[dup] = np.where(prev_orphan[dup], 10**12 + i[dup] - 1, prev_key[dup])
    linenumber[dup] = ((i[dup] - 1) % 4 + 1).astype(np.int32)

    ts = (T0 + i) * 1_000_000
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": (u(10) % np.uint64(20000) + np.uint64(1)).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": price,
            "l_discount": discount,
            "l_tax": tax,
            "l_returnflag": flag,
            "l_linestatus": status,
            "l_shipmode": shipmode,
            "l_comment": comment,
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        },
        schema=ARROW_SCHEMA,
    )


def expected_counts(t: pa.Table, n_orders: int) -> dict[str, int]:
    """``rule_id -> n_failed`` for every rule of :data:`SPEC`, plus the
    uniqueness and referential rules, from the generated arrays."""
    c = {name: t.column(name).to_numpy(zero_copy_only=False) for name in t.column_names}
    shipmode_null = np.array([v is None for v in c["l_shipmode"]])
    comment_len = np.array([len(v) for v in c["l_comment"]])
    ok_mode = np.isin(c["l_shipmode"].astype(str), SHIPMODES) | shipmode_null
    keys = Counter(zip(c["l_orderkey"].tolist(), c["l_linenumber"].tolist()))
    return {
        "required:$.l_orderkey": 0,
        "required:$.l_linenumber": 0,
        "required:$.l_shipmode": int(shipmode_null.sum()),
        "type:$.l_quantity": 0,
        "minimum:$.l_quantity": int((c["l_quantity"] < 1).sum()),
        "maximum:$.l_quantity": int((c["l_quantity"] > 50).sum()),
        "minimum:$.l_extendedprice": int((c["l_extendedprice"] < 0).sum()),
        "minimum:$.l_discount": int((c["l_discount"] < 0).sum()),
        "maximum:$.l_discount": int((c["l_discount"] > 0.1).sum()),
        "minimum:$.l_tax": int((c["l_tax"] < 0).sum()),
        "maximum:$.l_tax": int((c["l_tax"] > 0.08).sum()),
        "enum:$.l_returnflag": int((~np.isin(c["l_returnflag"].astype(str), FLAGS)).sum()),
        "enum:$.l_linestatus": int((~np.isin(c["l_linestatus"].astype(str), STATUSES)).sum()),
        "enum:$.l_shipmode": int((~ok_mode).sum()),
        "type:$.l_comment": 0,
        "minLength:$.l_comment": int((comment_len < 1).sum()),
        "maxLength:$.l_comment": int((comment_len > 44).sum()),
        "unique:l_orderkey,l_linenumber": sum(v for v in keys.values() if v > 1),
        "ref:l_orderkey->orders": int(
            ((c["l_orderkey"] < 1) | (c["l_orderkey"] > n_orders)).sum()
        ),
    }


def spec_rules(expected: dict[str, int]) -> dict[str, int]:
    """The engine's own rules (no table-level uniqueness/referential)."""
    return {k: v for k, v in expected.items() if not k.startswith(("unique:", "ref:"))}


def rule_predicates(n_orders: int) -> dict:
    """``rule_id -> Column`` true on the rows that violate the rule, in
    plain DataFrame terms (no package code)."""
    from pyspark.sql import functions as F

    col = F.col
    return {
        "required:$.l_orderkey": col("l_orderkey").isNull(),
        "required:$.l_linenumber": col("l_linenumber").isNull(),
        "required:$.l_shipmode": col("l_shipmode").isNull(),
        "type:$.l_quantity": F.lit(False),
        "minimum:$.l_quantity": col("l_quantity") < 1,
        "maximum:$.l_quantity": col("l_quantity") > 50,
        "minimum:$.l_extendedprice": col("l_extendedprice") < 0,
        "minimum:$.l_discount": col("l_discount") < 0,
        "maximum:$.l_discount": col("l_discount") > 0.1,
        "minimum:$.l_tax": col("l_tax") < 0,
        "maximum:$.l_tax": col("l_tax") > 0.08,
        "enum:$.l_returnflag": ~col("l_returnflag").isin(FLAGS),
        "enum:$.l_linestatus": ~col("l_linestatus").isin(STATUSES),
        "enum:$.l_shipmode": ~col("l_shipmode").isin(SHIPMODES),
        "type:$.l_comment": F.lit(False),
        "minLength:$.l_comment": F.length("l_comment") < 1,
        "maxLength:$.l_comment": F.length("l_comment") > 44,
        "ref:l_orderkey->orders": (col("l_orderkey") < 1) | (col("l_orderkey") > n_orders),
    }


def failure_sums(preds: dict) -> list:
    """One ``sum`` aggregate per rule, NULL predicates counting as pass."""
    from pyspark.sql import functions as F

    return [
        F.coalesce(F.sum(F.coalesce(p, F.lit(False)).cast("long")), F.lit(0)).alias(k)
        for k, p in preds.items()
    ]


def filter_counts(df, n_orders: int) -> dict[str, int]:
    """The generator's counts recomputed in Spark with plain filters."""
    from pyspark.sql import functions as F

    preds = rule_predicates(n_orders)
    row = df.agg(*failure_sums(preds)).collect()[0]
    out = {k: int(row[k]) for k in preds}
    dup = (
        df.groupBy(*KEY).count().filter("count > 1")
        .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("n")).collect()[0]["n"]
    )
    out["unique:l_orderkey,l_linenumber"] = int(dup)
    return out


def write_table(path: str, t: pa.Table, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-t.num_rows // files)
    for k in range(files):
        pq.write_table(t.slice(k * per, per), os.path.join(path, f"part-{k:05d}.parquet"))


def write_orders(path: str, n_orders: int) -> None:
    os.makedirs(path, exist_ok=True)
    keys = np.arange(1, n_orders + 1, dtype=np.int64)
    pq.write_table(
        pa.table({"o_orderkey": keys, "o_orderstatus": np.where(keys % 2 == 0, "O", "F")}),
        os.path.join(path, "part-00000.parquet"),
    )
