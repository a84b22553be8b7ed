"""Violation-row model and Go-`%v` formatting parity helpers.

The reference emits ``ValidationError{Path, Message, Value, Tag, Param}``
(/root/reference/errors/errors.go:24-39). The engine emits the same five
fields as a DataFrame row so per-keyword error semantics match byte-for-byte.

Go formats numbers in messages with ``%v`` — for a float64 that is
``strconv.FormatFloat(v, 'g', -1, 64)``, so ``18.0`` renders as ``"18"`` and
``18.5`` as ``"18.5"``. ``go_num_lit`` (driver-side literals) and
``go_num_col`` (per-row Column values) reproduce that.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# The violation-row schema — field names/ordering mirror errors.go:24-39.
VIOLATION_SCHEMA = StructType(
    [
        StructField("path", StringType(), True),
        StructField("message", StringType(), True),
        StructField("value", StringType(), True),
        StructField("tag", StringType(), True),
        StructField("param", StringType(), True),
    ]
)

VIOLATION_FIELDS = ["path", "message", "value", "tag", "param"]


def go_num_lit(x: Union[int, float]) -> str:
    """Render a Python number the way Go's %v renders the schema literal.

    Go prints an ``int`` schema value as the integer and a ``float64`` via
    %g-style shortest representation (rules/number.go:31 ``%v``).
    """
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, int):
        return str(x)
    if isinstance(x, float):
        if x == int(x) and abs(x) < 1e15:
            return str(int(x))
        return repr(x)
    return str(x)


def go_num_col(col: Column) -> Column:
    """Stringify a numeric Column the way Go %v stringifies float64.

    Whole-valued doubles print without the trailing ``.0`` (Go: ``18`` not
    ``18.0``). Divergence: doubles needing exponent notation may differ in
    exponent formatting (Go `1e+06` vs Spark `1.0E6`) — pinned in tests and
    avoided in specs.
    """
    d = col.cast("double")
    return (
        F.when(d.isNull(), F.lit(None).cast("string"))
        .when((d == F.floor(d)) & (F.abs(d) < F.lit(1e15)), d.cast("long").cast("string"))
        .otherwise(d.cast("string"))
    )


# ---------------------------------------------------------------------------
# error formatting modes (errors/errors.go:9-108)
# ---------------------------------------------------------------------------

SIMPLE = "simple"
DETAILED = "detailed"
JSON_MODE = "json"


def _error_line(row: dict) -> str:
    # ValidationError.Error(): "validation error: %s (path: %s)" (errors.go:43)
    return f"validation error: {row['message']} (path: {row['path']})"


def format_errors(rows, mode: str = DETAILED) -> str:
    """Format violation rows (dicts or Rows with path/message/...) the way
    the reference formats ValidationErrors (errors.go:50-108):

    - simple:   messages joined with "; " (:80-91)
    - detailed: "validation failed with the following errors:\\n[i] ..."
      one per line, 1-based (:50-63, :94-96)
    - json:     JSON array of {path, message, value?, tag?, param?} with
      empty fields omitted (omitempty tags, errors.go:26-38)
    """
    import json as _json

    rows = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in rows]
    if mode == SIMPLE:
        return "; ".join(r["message"] for r in rows) if rows else ""
    if mode == JSON_MODE:
        if not rows:
            return "[]"
        out = []
        for r in rows:
            d = {"path": r.get("path") or "", "message": r.get("message") or ""}
            for k in ("value", "tag", "param"):
                if r.get(k):
                    d[k] = r[k]
            out.append(d)
        return _json.dumps(out, separators=(",", ":"))
    if not rows:
        return ""
    lines = ["validation failed with the following errors:"]
    for i, r in enumerate(rows):
        lines.append(f"[{i + 1}] {_error_line(r)}")
    return "\n".join(lines) + "\n"


def format_errors_by_field(rows) -> str:
    """ValidationErrorMap.Error() (errors.go:119-131): per-field sections
    keyed by path."""
    rows = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in rows]
    if not rows:
        return ""
    by_field: dict[str, list[dict]] = {}
    for r in rows:
        by_field.setdefault(r.get("path") or "", []).append(r)
    lines = ["validation failed for the following fields:"]
    for field, errs in by_field.items():
        lines.append(f"Field '{field}':")
        for i, r in enumerate(errs):
            lines.append(f"  [{i + 1}] {r['message']}")
    return "\n".join(lines) + "\n"
