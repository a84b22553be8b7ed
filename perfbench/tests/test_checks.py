import pyarrow as pa

import checks
import lineitem_data as data


def test_images_expected_matches_schedules_at_10k():
    exp = checks.images_expected(10_000)
    assert exp["pattern:$.image_id"] == 10
    assert (exp["minimum:$.w"], exp["maximum:$.w"]) == (10, 20)
    assert exp["enum:$.fmt"] == exp["ref:fmt->dim_formats.fmt"] == 50
    assert (exp["minLength:$.caption"], exp["maxLength:$.caption"]) == (20, 40)
    # 50 duplicated ids pair with their predecessors
    assert exp["unique:image_id"] == 100
    # 500 hot rows (8 shared values) + the one real non-hot pair (50, 150)
    assert exp["unique:phash"] == 502
    assert (exp["image:decode"], exp["image:dims"]) == (20, 50)
    assert all(exp[r] == 0 for r in checks.IMAGE_RULES_ZERO)


def test_images_expected_tiny_table():
    exp = checks.images_expected(1)
    assert sum(exp.values()) == 0


def test_images_violation_counts_by_tag():
    v = checks.images_violation_counts(10_000)
    assert v == {"pattern": 10, "minimum": 10, "maximum": 20, "enum": 50,
                 "minLength": 20, "maxLength": 40}


def _suite_rows(n):
    exp = checks.images_expected(n)
    rows = [
        {"family": "x", "rule_id": r, "n_checked": n, "n_failed": k, "pass": k == 0}
        for r, k in exp.items()
    ]
    return rows + [{"family": "drift", "rule_id": "drift:w", "n_checked": None,
                    "n_failed": None, "pass": True}]


def test_check_suite_rows_accepts_exact_and_rejects_drift():
    rows = _suite_rows(4000)
    assert checks.check_suite_rows(rows, 4000) == []
    rows[3] = dict(rows[3], n_failed=rows[3]["n_failed"] + 1)
    assert checks.check_suite_rows(rows, 4000)
    assert checks.check_suite_rows(_suite_rows(4000)[:-1], 4000) == ["no drift rules"]


def test_check_verdict_rows_flags_missing_and_wrong():
    exp = {"a": 0, "b": 2}
    ok = [{"rule_id": "a", "n_checked": 5, "n_failed": 0, "pass": True},
          {"rule_id": "b", "n_checked": 5, "n_failed": 2, "pass": False}]
    assert checks.check_verdict_rows(ok, exp, 5) == []
    assert checks.check_verdict_rows(ok[:1], exp, 5)
    assert checks.check_verdict_rows(ok, {"a": 0, "b": 3}, 5)
    assert checks.check_verdict_rows(ok, exp, 6)


def test_check_merged_sums_snapshots():
    assert checks.check_merged({"r": 3, "s": 0}, [{"r": 1}, {"r": 2, "s": 0}]) == []
    assert checks.check_merged({"r": 3}, [{"r": 1}, {"r": 1}])


def test_check_windows_key_for_key():
    s = {(0, "r"): (10, 1)}
    assert checks.check_windows(s, {(0, "r"): (10, 1)}) == []
    assert checks.check_windows(s, {(0, "r"): (10, 2)})
    assert checks.check_windows(s, {})


def _recount(rows, n_orders):
    """Brute-force recount of the injected violations, row by row."""
    out = dict.fromkeys(data.expected_counts(data.generate(0, 0, 1), 1), 0)
    keys = {}
    for r in rows:
        q, mode, com = r["l_quantity"], r["l_shipmode"], r["l_comment"]
        out["required:$.l_shipmode"] += mode is None
        out["minimum:$.l_quantity"] += q < 1
        out["maximum:$.l_quantity"] += q > 50
        out["maximum:$.l_discount"] += r["l_discount"] > 0.1
        out["maximum:$.l_tax"] += r["l_tax"] > 0.08
        out["enum:$.l_returnflag"] += r["l_returnflag"] not in data.FLAGS
        out["enum:$.l_linestatus"] += r["l_linestatus"] not in data.STATUSES
        out["enum:$.l_shipmode"] += mode is not None and mode not in data.SHIPMODES
        out["minLength:$.l_comment"] += len(com) < 1
        out["maxLength:$.l_comment"] += len(com) > 44
        out["ref:l_orderkey->orders"] += not 1 <= r["l_orderkey"] <= n_orders
        k = (r["l_orderkey"], r["l_linenumber"])
        keys[k] = keys.get(k, 0) + 1
    out["unique:l_orderkey,l_linenumber"] = sum(c for c in keys.values() if c > 1)
    return out


def test_lineitem_expected_counts_match_row_recount():
    t = data.generate(seed=5, start=0, n=6000)
    exp = data.expected_counts(t, 1500)
    assert exp == _recount(t.to_pylist(), 1500)
    # every injection schedule fires at this size
    for rule in ("minimum:$.l_quantity", "maximum:$.l_quantity", "enum:$.l_returnflag",
                 "required:$.l_shipmode", "maxLength:$.l_comment", "minLength:$.l_comment",
                 "unique:l_orderkey,l_linenumber", "ref:l_orderkey->orders"):
        assert exp[rule] > 0, rule


def test_lineitem_generation_is_seeded_and_splittable():
    whole = data.generate(3, 0, 3000)
    assert whole.equals(data.generate(3, 0, 3000))
    assert not whole.equals(data.generate(4, 0, 3000))
    assert pa.concat_tables([data.generate(3, 0, 1000), data.generate(3, 1000, 2000)]).equals(whole)


def test_spec_rules_drop_table_level_rules():
    rules = data.spec_rules(data.expected_counts(data.generate(1, 0, 10), 3))
    assert not any(r.startswith(("unique:", "ref:")) for r in rules)
