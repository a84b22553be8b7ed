"""session.local_frame: tiny literal tables as JVM local relations, a
drop-in for ``spark.createDataFrame(rows, ddl)`` that plans no Python
stage."""

import contextlib
import io

import pytest

from jsonschema_validator_spark.session import local_frame

DDL = (
    "s string, l long, i int, d double, b boolean, xs array<string>, "
    "n_rows bigint"
)
ROWS = [
    ("png", 1 << 40, 7, 0.5, True, ["a", "b"], 3),
    (None, None, None, None, None, None, None),
    ("", -1, -(1 << 31), float("inf"), False, [], 0),
    ("webp", 0, 0, -0.0, True, ["c", None], None),
]


def _physical(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows):
    got = local_frame(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = _physical(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_keeps_nulls_and_order(spark):
    rows = local_frame(spark, ROWS, DDL).collect()
    assert rows[1] == tuple([None] * 7)
    assert [r["s"] for r in rows] == ["png", None, "", "webp"]
    assert rows[3]["xs"] == ["c", None]
