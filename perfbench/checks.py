"""Expected outputs, derived without the package's oracle.

- images: the exact injection schedules of the synthetic image table
  (FIXTURES.md §1, ``i mod M == r``), replayed over row indices. Key
  identities are tracked symbolically, so duplicate groups are exact.
- lineitem: the counts the benchmark's own generator injected (see
  ``tables.py``); the run re-derives them with plain DataFrame filters.
- snapshots: merged counts must equal the sum of per-snapshot counts.
- stream: streaming window counts must equal the batch aggregation.

Every checker returns a list of mismatch strings; empty means correct.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable, Mapping

# FIXTURES.md §1 schedules: (modulus, residue)
DUP_ID = (200, 7)
BAD_ID = (1000, 13)
TRUNC_BYTES = (500, 11)
DIM_MISMATCH = (500, 211)
W_RANGE = (1000, 17)  # residues 17, 18, 19; even rows get w=0, odd w=20000
WH_NULL = (1000, 23)
FMT_BAD = (200, 3)
CAP_LONG = (250, 5)
CAP_EMPTY = (500, 9)
CAP_NULL = (1000, 21)
PHASH_HOT_MOD = 20
N_HOT = 8
PHASH_DUP = (100, 50)

IMAGE_RULES_ZERO = (
    "required:$.image_id",
    "required:$.phash",
    "type:$.image_id",
    "type:$.w",
    "type:$.h",
    "minimum:$.h",
    "maximum:$.h",
    "type:$.caption",
    "required:$.bytes",
)


def _hit(i: int, rule: tuple[int, int]) -> bool:
    return i % rule[0] == rule[1]


def _dup_rows(keys: Iterable) -> int:
    """Rows whose key occurs more than once."""
    return sum(c for c in Counter(keys).values() if c > 1)


def images_expected(n: int) -> dict[str, int]:
    """``rule_id -> n_failed`` for every counted rule of the image suite
    over rows ``0..n-1`` (drift rules are checked for ``pass`` only)."""
    exp = dict.fromkeys(IMAGE_RULES_ZERO, 0)
    w_out = {i for i in range(n) if i % W_RANGE[0] in (W_RANGE[1], W_RANGE[1] + 1, W_RANGE[1] + 2)}
    exp["pattern:$.image_id"] = sum(_hit(i, BAD_ID) for i in range(n))
    exp["minimum:$.w"] = sum(1 for i in w_out if i % 2 == 0)
    exp["maximum:$.w"] = sum(1 for i in w_out if i % 2 == 1)
    exp["enum:$.fmt"] = sum(_hit(i, FMT_BAD) for i in range(n))
    exp["ref:fmt->dim_formats.fmt"] = exp["enum:$.fmt"]
    exp["minLength:$.caption"] = sum(
        _hit(i, CAP_EMPTY) and not _hit(i, CAP_NULL) for i in range(n)
    )
    exp["maxLength:$.caption"] = sum(
        _hit(i, CAP_LONG) and not _hit(i, CAP_EMPTY) and not _hit(i, CAP_NULL)
        for i in range(n)
    )

    def image_id(i):
        if _hit(i, BAD_ID):
            return ("bad", i)
        if _hit(i, DUP_ID) and i > 0:
            return ("img", i - 1)
        return ("img", i)

    def phash(i):
        if i % PHASH_HOT_MOD == 0:
            return ("hot", (i // PHASH_HOT_MOD) % N_HOT)
        if _hit(i, PHASH_DUP) and i >= PHASH_DUP[0]:
            return ("h", i - PHASH_DUP[0])
        return ("h", i)

    exp["unique:image_id"] = _dup_rows(image_id(i) for i in range(n))
    exp["unique:phash"] = _dup_rows(phash(i) for i in range(n))
    exp["image:decode"] = sum(_hit(i, TRUNC_BYTES) for i in range(n))
    # decoded dims differ from the declared (w, h) when the payload was
    # encoded at other dims, or when w was pushed out of range; rows with
    # null dims are not compared
    exp["image:dims"] = sum(
        not _hit(i, TRUNC_BYTES)
        and not _hit(i, WH_NULL)
        and (_hit(i, DIM_MISMATCH) or i in w_out)
        for i in range(n)
    )
    return exp


def images_violation_counts(n: int) -> dict[str, int]:
    """Keyword-family violation rows per tag: one row per failed check."""
    out: Counter = Counter()
    for rule, k in images_expected(n).items():
        if not rule.startswith(("unique:", "ref:", "image:", "required:$.bytes")):
            out[rule.split(":", 1)[0]] += k
    return {t: k for t, k in out.items() if k}


def check_suite_rows(rows: Iterable[Mapping], n: int) -> list[str]:
    """Compare collected ``suite_verdicts()`` rows with the schedules."""
    exp = images_expected(n)
    errs = []
    seen = set()
    for r in rows:
        rid = r["rule_id"]
        seen.add(rid)
        if r["family"] == "drift":
            if r["pass"] is not True:
                errs.append(f"{rid}: drift against itself must pass")
            continue
        if rid not in exp:
            errs.append(f"{rid}: unexpected rule")
            continue
        if r["n_checked"] != n:
            errs.append(f"{rid}: n_checked {r['n_checked']} != {n}")
        if r["n_failed"] != exp[rid]:
            errs.append(f"{rid}: n_failed {r['n_failed']} != {exp[rid]}")
        if r["pass"] != (exp[rid] == 0):
            errs.append(f"{rid}: pass {r['pass']}")
    missing = set(exp) - seen
    if missing:
        errs.append(f"missing rules {sorted(missing)}")
    if not any(rid.startswith("drift:") for rid in seen):
        errs.append("no drift rules")
    return errs


def check_tag_counts(got: Mapping[str, int], expected: Mapping[str, int]) -> list[str]:
    """Compare per-tag (or per-rule) counts, zeros optional on both sides."""
    keys = {k for k, v in got.items() if v} | {k for k, v in expected.items() if v}
    return [
        f"{k}: {got.get(k, 0)} != {expected.get(k, 0)}"
        for k in sorted(keys)
        if got.get(k, 0) != expected.get(k, 0)
    ]


def check_verdict_rows(
    rows: Iterable[Mapping], expected: Mapping[str, int], n_checked: int
) -> list[str]:
    """Engine ``verdicts()`` rows against ``rule_id -> n_failed``; every
    compiled rule must be expected and every expected rule present."""
    errs = []
    got = {}
    for r in rows:
        got[r["rule_id"]] = r["n_failed"]
        if r["n_checked"] != n_checked:
            errs.append(f"{r['rule_id']}: n_checked {r['n_checked']} != {n_checked}")
        if r["pass"] != (r["n_failed"] == 0):
            errs.append(f"{r['rule_id']}: pass {r['pass']} with {r['n_failed']} failed")
    if set(got) != set(expected):
        errs.append(f"rules {sorted(set(got) ^ set(expected))} differ")
    errs += check_tag_counts(got, expected)
    return errs


def check_merged(
    merged: Mapping[str, int], per_snapshot: Iterable[Mapping[str, int]]
) -> list[str]:
    """Merged store counts must equal the sum over snapshots."""
    total: Counter = Counter()
    for snap in per_snapshot:
        total.update(snap)
    return check_tag_counts(merged, total)


def check_windows(
    stream: Mapping[tuple, tuple], batch: Mapping[tuple, tuple]
) -> list[str]:
    """``(window_start, rule_id) -> (n_checked, n_failed)`` from the
    stream must equal the batch aggregation, key for key."""
    errs = []
    for k in sorted(set(stream) | set(batch), key=str):
        if stream.get(k) != batch.get(k):
            errs.append(f"{k}: stream {stream.get(k)} != batch {batch.get(k)}")
    return errs
