"""Spec bootstrap: profile a DataFrame and emit a validation spec dict
that :class:`~jsonschema_validator_spark.spec.Spec` compiles as-is.

The standard data-quality loop (the pattern Deequ calls "constraint
suggestion"): profile a known-good corpus once, pin the suggested spec,
validate every future batch against it. The reference library has no
counterpart — this is an engine-native extension, but it emits ONLY
keywords the reference defines (type / required / minimum / maximum /
minLength / maxLength / minItems / maxItems / enum), so a suggested spec
round-trips through the same compile path as a hand-written one and, by
construction, passes on the corpus it was profiled from.

Execution shape (design-for-100 TB):

- **Pass 1 — ONE aggregate over one scan.** Every per-column statistic
  (null count, numeric min/max, string byte-length min/max, array size
  min/max, approx distinct) is a field of a single ``agg`` — partial
  aggregation reduces map-side, the exchange carries one row per task,
  the driver receives one row total.
- **Pass 2 — exact enum sets, only if candidates exist.** ``enum`` is
  suggested only for string columns (reference parity: ``enum`` is
  []string-only, rule.go:144-167). Candidates are pruned by pass 1's
  ``approx_count_distinct ≤ 2×enum_max_distinct`` (HLL error can't
  reach 2× at these cardinalities), then ONE more aggregate collects
  ``collect_set`` for candidate columns only — partial sets are bounded
  by the verified-low true cardinality, so no task ever holds more than
  ~2×enum_max_distinct values per column. The FINAL decision uses the
  exact set size, so an approx-vs-exact disagreement near the threshold
  can only skip pass-2 work, never change the suggestion.
- No shuffle other than the two 1-row aggregate reductions; the only
  ``collect()`` is O(columns) driver data.

What is deliberately NOT suggested: ``pattern`` (inferring regexes from
data is guesswork), ``format`` (a format that happens to match today's
corpus over-constrains tomorrow's), cross-field keywords. Temporal
columns get ``type`` (+ ``required``) only; map columns additionally get
``minProperties``/``maxProperties`` size bounds; struct columns get a
recursively suggested nested subschema (all levels profiled in the same
single aggregate pass). Dtypes with no JSON counterpart (binary,
interval) contribute presence evidence only — no ``type`` keyword, so
the spec still compiles. Float NaN cells are excluded from bound
evidence (Spark orders NaN above everything — one NaN would otherwise
poison both padded bounds); a NaN cell then FAILS a suggested
``maximum`` by design: JSON has no NaN (``json.Unmarshal`` cannot
produce one), so NaN is itself the kind of defect a pinned spec should
catch. The pass-on-corpus guarantee therefore covers NaN-free values.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_validator_spark.rules.types import _json_type_of_dtype
from jsonschema_validator_spark.session import local_frame

_INT_DTYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "long", "short", "byte"}
)


def _suggested_type(dtype: str) -> str:
    """Suggested ``type`` keyword for a Spark dtype. Integral dtypes get
    the tighter ``integer`` (every value is whole, and ``integer`` accepts
    whole-valued numbers — type.go:92-108), everything else the JSON type
    the reference would see. Exact-token membership, not a prefix test:
    ``interval day to second``.simpleString() also starts with ``int``."""
    if dtype in _INT_DTYPES:
        return "integer"
    return _json_type_of_dtype(dtype)


def _walk_units(fields, prefix: tuple, depth: int, max_depth: int) -> list:
    """Flatten a schema into profile units ``(path_tuple, dataType)``,
    recursing into StructType up to ``max_depth`` levels. Maps are not
    walked (dynamic keys — no static field set to suggest on) and array
    elements are not walked (element stats need an explode, which would
    break the single-aggregate execution shape)."""
    from pyspark.sql.types import StructType

    units = []
    for f in fields:
        path = prefix + (f.name,)
        units.append((path, f.dataType))
        if isinstance(f.dataType, StructType) and depth < max_depth:
            units.extend(_walk_units(f.dataType.fields, path, depth + 1, max_depth))
    return units


def _acc(path: tuple):
    """Accessor Column for a (possibly nested) field path — getField
    chaining, safe for any field name (no string-path parsing)."""
    col = F.col(path[0])
    for part in path[1:]:
        col = col.getField(part)
    return col


def suggest_spec(
    df: DataFrame,
    columns: Optional[list[str]] = None,
    enum_max_distinct: int = 8,
    widen_numeric: float = 0.0,
    max_depth: int = 8,
) -> dict:
    """Profile ``df`` and return a raw spec dict (``required`` +
    ``properties``) compilable by ``Spec(...)``.

    - ``required``: columns with zero NULLs in the corpus.
    - numeric: ``minimum`` / ``maximum`` = observed min/max, optionally
      widened by ``widen_numeric`` × (max − min) on each side (0.0 = pin
      exactly; 0.05 leaves 5% headroom for future batches).
    - string: ``minLength`` / ``maxLength`` in BYTES (octet_length — the
      Go ``len(string)`` convention the length keywords use), plus
      ``enum`` when the exact distinct count is ≤ ``enum_max_distinct``.
    - array: ``minItems`` / ``maxItems``.
    - struct: ``type: object`` plus a nested ``properties`` /
      ``required`` subschema suggested recursively (up to ``max_depth``
      levels, all levels still profiled in the same ONE aggregate pass).
      Nested ``required`` follows the engine's parent-present semantics:
      a field is required iff it is never NULL **among rows where the
      parent struct is present** (a NULL parent skips nested checks, so
      the round-trip property is preserved).
    - map: ``type: object`` plus ``minProperties`` / ``maxProperties``
      size bounds (keys are dynamic, so no nested subschema).
    - temporal: ``type`` only.

    An all-NULL column contributes ``type`` only (there is no evidence
    for value constraints, and ``required`` would instantly fail).
    """
    from pyspark.sql.types import StructType

    # an explicitly-passed empty list means "no columns", not "all"
    cols = df.columns if columns is None else list(columns)
    top = {f.name: f for f in df.schema.fields}
    for c in cols:
        if c not in top:
            raise ValueError(f"suggest_spec: no such column: {c}")
    if not cols:
        return {"type": "object", "required": [], "properties": {}}

    units = _walk_units([top[c] for c in cols], (), 1, max_depth)
    idx = {path: i for i, (path, _) in enumerate(units)}

    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (path, dt) in enumerate(units):
        dtype = dt.simpleString()
        jtype = _json_type_of_dtype(dtype)
        col = _acc(path)
        aggs.append(F.count(col).alias(f"nn__{i}"))
        if jtype == "number":
            # min/max computed in the native type (exact for decimals and
            # int64), cast to double only on the way out. Float columns
            # exclude NaN from the evidence: Spark orders NaN above every
            # value, so one NaN would make max (hence both padded bounds)
            # NaN and the suggested spec would fail every FINITE row.
            if dtype.startswith("float") or dtype.startswith("double"):
                vcol = F.when(~F.isnan(col), col)
            else:
                vcol = col
            aggs.append(F.min(vcol).cast("double").alias(f"min__{i}"))
            aggs.append(F.max(vcol).cast("double").alias(f"max__{i}"))
        elif jtype == "string" and not (
            dtype.startswith("timestamp") or dtype.startswith("date")
        ):
            aggs.append(F.min(F.octet_length(col)).alias(f"min__{i}"))
            aggs.append(F.max(F.octet_length(col)).alias(f"max__{i}"))
            aggs.append(F.approx_count_distinct(col).alias(f"ad__{i}"))
        elif jtype == "array" or dtype.startswith("map"):
            # array → minItems/maxItems; map → minProperties/maxProperties
            # (F.size = element count for both container kinds)
            aggs.append(F.min(F.size(col)).alias(f"min__{i}"))
            aggs.append(F.max(F.size(col)).alias(f"max__{i}"))
    row = df.agg(*aggs).collect()[0].asDict()

    candidates = [
        i
        for i, _ in enumerate(units)
        if f"ad__{i}" in row
        and row[f"nn__{i}"] > 0
        and row[f"ad__{i}"] <= 2 * enum_max_distinct
    ]
    enums: dict[int, list[str]] = {}
    if candidates:
        erow = (
            df.agg(
                *[
                    F.array_sort(F.collect_set(_acc(units[i][0]))).alias(f"e__{i}")
                    for i in candidates
                ]
            )
            .collect()[0]
            .asDict()
        )
        for i in candidates:
            vals = erow[f"e__{i}"] or []
            if 0 < len(vals) <= enum_max_distinct:
                enums[i] = list(vals)

    def build_prop(path: tuple, dt) -> dict:
        dtype = dt.simpleString()
        jtype = _json_type_of_dtype(dtype)
        i = idx[path]
        t = _suggested_type(dtype)
        # dtypes with no JSON counterpart (binary image bytes, intervals)
        # get NO type keyword — compile_type would reject "unknown", and
        # the round-trip-through-Spec guarantee is the module's contract.
        # Presence still feeds `required`.
        p: dict = {} if t == "unknown" else {"type": t}
        if row[f"nn__{i}"] > 0:
            if f"min__{i}" in row and row[f"min__{i}"] is not None:
                lo, hi = row[f"min__{i}"], row[f"max__{i}"]
                if jtype == "number":
                    pad = widen_numeric * (hi - lo)
                    p["minimum"], p["maximum"] = lo - pad, hi + pad
                elif jtype == "string":
                    p["minLength"], p["maxLength"] = int(lo), int(hi)
                elif jtype == "array":
                    p["minItems"], p["maxItems"] = int(lo), int(hi)
                elif dtype.startswith("map"):
                    p["minProperties"], p["maxProperties"] = int(lo), int(hi)
            if i in enums:
                p["enum"] = enums[i]
        if (
            isinstance(dt, StructType)
            and dt.fields
            and (path + (dt.fields[0].name,)) in idx
        ):
            n_parent = row[f"nn__{i}"]
            sub_props, sub_req = {}, []
            for f in dt.fields:
                cp = path + (f.name,)
                sub_props[f.name] = build_prop(cp, f.dataType)
                if n_parent > 0 and row[f"nn__{idx[cp]}"] == n_parent:
                    sub_req.append(f.name)
            p["properties"] = sub_props
            if sub_req:
                p["required"] = sub_req
        return p

    required = [
        c for c in cols if row[f"nn__{idx[(c,)]}"] == row["_n"] and row["_n"] > 0
    ]
    props = {c: build_prop((c,), top[c].dataType) for c in cols}
    return {"type": "object", "required": required, "properties": props}


# bound direction per keyword: raising a lower bound or lowering an upper
# bound TIGHTENS the constraint (fewer values pass); the reverse LOOSENS it.
_LOWER_BOUNDS = ("minimum", "minLength", "minItems", "minProperties")
_UPPER_BOUNDS = ("maximum", "maxLength", "maxItems", "maxProperties")


def _bound_change(kw: str, old, new) -> Optional[str]:
    """Classify a numeric-bound transition. None = no change."""
    if old is None and new is None:
        return None
    if old is None:
        return "tightened"  # a bound appeared where there was none
    if new is None:
        return "loosened"  # an existing bound was dropped
    if new == old:
        return None
    if old != old and new != new:
        # both NaN (legacy persisted specs): NaN != NaN would otherwise
        # report phantom drift on every diff, forever
        return None
    if kw in _LOWER_BOUNDS:
        return "tightened" if new > old else "loosened"
    return "tightened" if new < old else "loosened"


def _flatten_spec(spec: dict, prefix: str = "") -> tuple[dict, set]:
    """Flatten a (possibly nested) suggest-shaped spec into
    ``({dotted_path: scalar_keywords}, {dotted required paths})`` —
    nested ``properties``/``required`` recurse with dot-joined paths, so
    the same diff/projection logic covers every nesting level. Known
    limitation: a top-level column whose NAME contains a dot flattens to
    the same key as a struct field with that path (the drift report is
    keyed by the dotted string; the profiler itself handles dotted names
    correctly via path tuples)."""
    props: dict = {}
    req: set = set()
    for c in spec.get("required", []):
        req.add(prefix + c)
    for c, p in spec.get("properties", {}).items():
        cp = prefix + c
        props[cp] = {
            k: v for k, v in p.items() if k not in ("properties", "required")
        }
        if "properties" in p or "required" in p:
            sub_props, sub_req = _flatten_spec(p, cp + ".")
            props.update(sub_props)
            req |= sub_req
    return props, req


def spec_diff(old: dict, new: dict) -> list[tuple]:
    """Diff two spec dicts (the ``suggest_spec`` shape: top-level
    ``required`` + ``properties``, nested subschemas flattened to dotted
    paths) into rows ``(column, keyword, old_num, new_num, old_str,
    new_str, change)`` — one row per constraint that CHANGED, nothing for
    constraints that held.

    ``change`` classification:

    - ``tightened`` — the new spec accepts a subset of what the old one
      did for this keyword: a lower bound rose, an upper bound fell, a
      bound/enum/required appeared where there was none, or an enum lost
      values.
    - ``loosened`` — the reverse: a bound relaxed or disappeared, a column
      stopped being required, an enum gained values.
    - ``changed`` — neither direction is a subset: ``type`` switched, or
      an enum both gained and lost values.

    Driver-side pure function — specs are O(columns) dicts, never data.
    Numeric keyword values go in ``old_num``/``new_num``; ``type``,
    ``required`` and comma-joined sorted enum sets in ``old_str``/
    ``new_str`` (the ``spec_keyword_rows`` convention)."""
    rows: list[tuple] = []
    op, oreq = _flatten_spec(old)
    np_, nreq = _flatten_spec(new)
    for c in sorted(set(op) | set(np_)):
        po, pn = op.get(c, {}), np_.get(c, {})
        to, tn = po.get("type"), pn.get("type")
        if to != tn:
            change = "changed" if (to and tn) else (
                "tightened" if tn else "loosened"
            )
            rows.append((c, "type", None, None, to, tn, change))
        if (c in oreq) != (c in nreq):
            rows.append((
                c, "required", None, None,
                "true" if c in oreq else None,
                "true" if c in nreq else None,
                "tightened" if c in nreq else "loosened",
            ))
        for kw in _LOWER_BOUNDS + _UPPER_BOUNDS:
            vo, vn = po.get(kw), pn.get(kw)
            ch = _bound_change(kw, vo, vn)
            if ch is not None:
                rows.append((
                    c, kw,
                    None if vo is None else float(vo),
                    None if vn is None else float(vn),
                    None, None, ch,
                ))
        eo, en = po.get("enum"), pn.get("enum")
        if eo is not None or en is not None:
            so, sn = set(eo or []), set(en or [])
            if so != sn:
                if eo is None:
                    ch = "tightened"  # an enum constraint appeared
                elif en is None:
                    ch = "loosened"  # the enum constraint was dropped
                elif sn < so:
                    ch = "tightened"
                elif so < sn:
                    ch = "loosened"
                else:
                    ch = "changed"
                rows.append((
                    c, "enum", None, None,
                    ",".join(sorted(so)) if eo is not None else None,
                    ",".join(sorted(sn)) if en is not None else None,
                    ch,
                ))
    return rows


_DIFF_SCHEMA = (
    "column string, keyword string, old_num double, new_num double, "
    "old_str string, new_str string, change string"
)


def constraint_drift(
    df_old: DataFrame,
    df_new: DataFrame,
    columns: Optional[list[str]] = None,
    enum_max_distinct: int = 8,
    widen_numeric: float = 0.0,
    max_depth: int = 8,
) -> DataFrame:
    """Constraint drift between two corpus snapshots: profile each side
    with :func:`suggest_spec` and report every suggested constraint that
    tightened / loosened / changed between them — the monitoring loop that
    tells you yesterday's pinned spec no longer describes today's data
    BEFORE a validation run floods the quarantine sink.

    Execution shape (design-for-100 TB): two profile passes per side (one
    full aggregate + one pruned exact-enum aggregate — see
    :func:`suggest_spec`), each reducing to ONE driver row; the diff
    itself is a pure O(columns) driver-side function. No join, no shuffle
    beyond the four 1-row aggregate reductions, regardless of table size.
    """
    old = suggest_spec(df_old, columns, enum_max_distinct, widen_numeric, max_depth)
    new = suggest_spec(df_new, columns, enum_max_distinct, widen_numeric, max_depth)
    return local_frame(df_old.sparkSession, spec_diff(old, new), _DIFF_SCHEMA)


def spec_keyword_rows(spec: dict) -> list[tuple]:
    """Flatten a suggested spec into ``(column, keyword, value_num,
    value_str)`` rows — the display/gating projection. Numeric keyword
    values go in ``value_num`` (no float→string formatting ambiguity);
    ``type`` goes in ``value_str``; ``required`` is one row per required
    column (value_str 'true'); ``enum`` is one row per VALUE (value_str),
    in sorted order. Nested subschemas flatten to dotted paths."""
    rows = []
    props, req = _flatten_spec(spec)
    for c, p in sorted(props.items()):
        rows.append((c, "type", None, p["type"]))
        if c in req:
            rows.append((c, "required", None, "true"))
        for kw in (
            "minimum",
            "maximum",
            "minLength",
            "maxLength",
            "minItems",
            "maxItems",
            "minProperties",
            "maxProperties",
        ):
            if kw in p:
                rows.append((c, kw, float(p[kw]), None))
        for v in p.get("enum", []):
            rows.append((c, "enum", None, v))
    return rows
