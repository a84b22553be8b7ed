"""The flagship image-caption validation suite (the north rule, end-to-end).

Composes every check family the engine has over one image+caption table
``(image_id, bytes, w, h, fmt, caption, phash)``; ``suite_verdicts()``
unions the verdict rows of:

1. keyword validation  — one-pass packed predicates → per-partition verdicts
2. uniqueness          — image_id + phash, one (key, value) count shuffle
3. referential         — fmt → dim_formats broadcast anti-join
4. drift               — KS/PSI/JS/EMD on w/h/phash histograms vs a baseline
5. decode invariant    — Arrow-batched decode: payload decodes, dims match;
   the decode pass also counts the rows it checked, so ``n_checked`` is
   computed inside the plan

``stats()`` (null ratio / min / max / HLL distinct in ONE agg) profiles
the same table on request; it emits no verdict rows.

Building ``suite_verdicts()`` launches no Spark job: every family is one
lazy plan, and the tiny literal tables (dim_formats, the uniqueness key
list) are JVM local relations (``session.local_frame``), so the only
Python stage of the executed suite is the decode itself.

Scale design (10^12 rows / 1000 executors):
- every family is a SEPARATE Spark job over the same scan, each single-pass;
  the `bytes` column is ONLY read by (5) — column pruning keeps scans 1-4
  metadata-cheap (verified via .explain ReadSchema).
- (2) counts (key, value) pairs with a map-side partial count under the
  one exchange, so each of the 8 hot phashes (5 % of all rows at scale)
  reaches its reducer as at most one row per map task.
- (3) broadcasts the 3-row dim table — no shuffle of the fact table.
- (4) aggregates both sides to ≤n_buckets rows per column in one tagged
  aggregate, then reduces each column's histogram array — driver-safe.
- every family returns a verdict row in one common shape so the whole suite
  unions into a single small verdicts table: ``(family, rule_id, n_checked,
  n_failed, pass)``.

Reference parity: family (1) reproduces the per-keyword error semantics of
the reference Go library (rules/*.go); families 2-5 are the scale-out
checks the north rule adds on top (SURVEY.md §2.5).
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_validator_spark.engine import Validator
from jsonschema_validator_spark.spec import Spec

# The standard spec for the BASELINE.json input_hint table.
IMAGES_SPEC = {
    "required": ["image_id", "bytes", "phash"],
    "properties": {
        "image_id": {"type": "string", "pattern": "^img-[0-9]{12}$"},
        "w": {"type": "integer", "minimum": 1, "maximum": 16384},
        "h": {"type": "integer", "minimum": 1, "maximum": 16384},
        "fmt": {"enum": ["png", "jpeg", "webp"]},
        "caption": {"type": "string", "minLength": 1, "maxLength": 200},
    },
}

VERDICT_COLS = ["family", "rule_id", "n_checked", "n_failed", "pass"]

# the columns the decode family reads (id, payload, declared dims)
_DECODE_COLS = ("image_id", "bytes", "w", "h")

_log = logging.getLogger(__name__)


def _as_family(df: DataFrame, family: str) -> DataFrame:
    return df.select(
        F.lit(family).alias("family"),
        F.col("rule_id"),
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_failed").cast("long").alias("n_failed"),
        F.col("pass"),
    )


class ImageValidationSuite:
    """Run the full constraint suite over an image-caption DataFrame.

    ``spec`` defaults to :data:`IMAGES_SPEC`. ``baseline`` enables the drift
    family; ``decode=False`` skips family (6) so the ``bytes`` column is
    never scanned (pure-metadata validation).
    """

    def __init__(
        self,
        df: DataFrame,
        dim_formats: Optional[DataFrame] = None,
        baseline: Optional[DataFrame] = None,
        spec: Optional[dict] = None,
        decode: bool = True,
        drift_columns: Sequence[str] = ("w", "h", "phash"),
        drift_range: tuple = (0.5, 128.5),
        n_buckets: int = 128,
        source_path: Optional[str] = None,
        cache_metadata: bool = False,
    ):
        self.df = df
        self.dim = dim_formats
        self.baseline = baseline
        spec_dict = dict(spec or IMAGES_SPEC)
        # `required: bytes` through the keyword family would scan the ENTIRE
        # binary column just for a null check — at 10^12 rows that is a
        # second full pass over the dominant bytes volume. When the decode
        # family is on it reads every payload anyway, so the null check
        # rides along there for free (rule_id stays `required:$.bytes`).
        self._bytes_required = False
        req = spec_dict.get("required")
        if decode and isinstance(req, list) and "bytes" in req:
            spec_dict["required"] = [r for r in req if r != "bytes"]
            self._bytes_required = True
        self.spec = Spec(spec_dict)
        self.decode = decode
        self.drift_columns = list(drift_columns)
        self.drift_range = drift_range
        self.n_buckets = n_buckets
        # source_path (the table's storage location) opts in to the direct
        # read: the decode family reads df's own parquet files
        # (df.inputFiles(), not a glob of the path) with pyarrow C++ in the
        # Python tasks instead of piping the bytes column through the
        # JVM→Python Arrow channel — measured ~4× faster (see the
        # operators/multimodal.py direct-read note); see _decode_checks
        self.source_path = source_path
        # cache_metadata: the 5 metadata-only families each re-scan the
        # table; at bench scale the per-scan task overhead dominates, so
        # share ONE in-memory projection (bytes excluded — it stays on disk
        # for the decode family). At 10^12 rows you would NOT cache: the
        # pruned parquet scans are the right answer there.
        refs_bytes = "bytes" in (spec_dict.get("required") or []) or "bytes" in (
            spec_dict.get("properties") or {}
        )
        meta = df if refs_bytes or "bytes" not in df.columns else df.drop("bytes")
        if cache_metadata:
            meta = meta.cache()
            if baseline is not None and baseline is not df:
                self.baseline = baseline.drop("bytes").cache()
            elif baseline is not None:
                self.baseline = meta
        self._meta = meta

    # ---- families --------------------------------------------------------

    def keyword_verdicts(self, partition_by=None) -> DataFrame:
        return Validator(self.spec).validate(self._meta).verdicts(partition_by=partition_by)

    def keyword_violations(self, include=("image_id",)) -> DataFrame:
        return Validator(self.spec).validate(self._meta).violations(include=list(include))

    def stats(self) -> DataFrame:
        from jsonschema_validator_spark.operators.stats import column_profile

        return column_profile(
            self._meta, ["image_id", "w", "h", "fmt", "caption", "phash"],
            approx_distinct=True,
        )

    def uniqueness_verdicts(self) -> DataFrame:
        from jsonschema_validator_spark.operators.uniqueness import multi_key_uniqueness

        # both keys in ONE shuffle round
        return multi_key_uniqueness(self._meta, ["image_id", "phash"])

    def referential_verdict(self) -> DataFrame:
        from jsonschema_validator_spark.operators.referential import referential_verdict

        if self.dim is None:
            raise ValueError("dim_formats table not provided")
        return referential_verdict(
            self._meta, self.dim, [("fmt", "fmt")], broadcast=True,
            rule_id="ref:fmt->dim_formats.fmt",
        )

    def drift(self) -> DataFrame:
        """KS, PSI, JS and EMD for every drift column in ONE scan per table
        (operators.drift.drift_metrics — not the per-column composition,
        which would scan 2×n_columns times)."""
        from jsonschema_validator_spark.operators.drift import drift_metrics

        if self.baseline is None:
            raise ValueError("baseline table not provided")
        lo, hi = self.drift_range
        return drift_metrics(
            self.baseline, self._meta, self.drift_columns, lo, hi, self.n_buckets,
            # phash values are hashes: bucket by pmod, not numeric range
            hash_columns=tuple(c for c in self.drift_columns if c == "phash"),
        )

    def decode_verdict(self) -> DataFrame:
        """Decode + dims invariants collapsed to verdict counts, in one
        aggregate over one Arrow decode pass (violations themselves via
        `decode_violations`). ``n_checked`` is the sum of the decode
        pass's own count rows: it is counted inside the plan, so building
        the verdict launches no Spark job and the count is exactly the
        rows the decode saw."""
        rules = [("image:decode", "decode"), ("image:dims", "dims")]
        if self._bytes_required:
            rules.insert(0, ("required:$.bytes", "required"))
        # one tiny conditional agg (missing tags must still yield 0-rows)
        agg = self._decode_checks().agg(
            F.coalesce(F.sum("n_rows"), F.lit(0)).alias("_n"),
            *[
                F.sum((F.col("tag") == t).cast("long")).alias(f"_c{i}")
                for i, (_, t) in enumerate(rules)
            ],
        )
        entries = [
            F.struct(
                F.lit(rid).alias("rule_id"),
                F.coalesce(F.col(f"_c{i}"), F.lit(0)).alias("n_failed"),
            )
            for i, (rid, _) in enumerate(rules)
        ]
        return agg.select("_n", F.explode(F.array(*entries)).alias("_v")).select(
            F.col("_v.rule_id").alias("rule_id"),
            F.col("_n").alias("n_checked"),
            F.col("_v.n_failed").alias("n_failed"),
            (F.col("_v.n_failed") == 0).alias("pass"),
        )

    def decode_violations(self) -> DataFrame:
        from jsonschema_validator_spark.operators.multimodal import violation_rows

        return violation_rows(self._decode_checks())

    def _decode_checks(self) -> DataFrame:
        """The decode pass (``multimodal.CHECKS_SCHEMA`` rows): direct
        parquet reads of df's own files when ``source_path`` is set and df
        is a plain column-pruned scan, else the Arrow channel."""
        from jsonschema_validator_spark.operators.multimodal import (
            image_checks,
            image_checks_files,
            pruned_scan_files,
        )

        if self.source_path is not None:
            files = pruned_scan_files(self.df, _DECODE_COLS)
            if files is not None:
                return image_checks_files(self.df.sparkSession, files)
            _log.warning(
                "decode family: the DataFrame is not a plain column-pruned "
                "parquet scan of %s; decoding it through the Arrow channel "
                "instead of reading its files directly",
                self.source_path,
            )
        return image_checks(self.df)

    # ---- the suite -------------------------------------------------------

    def suite_verdicts(self, drift_threshold: float = 0.2) -> DataFrame:
        """Union of every family's verdict rows in one small table."""
        parts = [
            _as_family(self.keyword_verdicts(), "keyword"),
            _as_family(self.uniqueness_verdicts(), "uniqueness"),
        ]
        if self.dim is not None:
            parts.append(_as_family(self.referential_verdict(), "referential"))
        if self.baseline is not None:
            d = self.drift().select(
                F.lit("drift").alias("family"),
                F.concat(F.lit("drift:"), F.col("column")).alias("rule_id"),
                F.lit(None).cast("long").alias("n_checked"),
                F.lit(None).cast("long").alias("n_failed"),
                (F.col("ks") <= drift_threshold).alias("pass"),
            )
            parts.append(d)
        if self.decode:
            parts.append(
                self.decode_verdict().select(
                    # the bytes-null check is computed in the decode pass but
                    # remains a KEYWORD-family rule (see __init__ note)
                    F.when(
                        F.col("rule_id").startswith("required:"), F.lit("keyword")
                    )
                    .otherwise(F.lit("image"))
                    .alias("family"),
                    "rule_id",
                    F.col("n_checked").cast("long").alias("n_checked"),
                    F.col("n_failed").cast("long").alias("n_failed"),
                    "pass",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
