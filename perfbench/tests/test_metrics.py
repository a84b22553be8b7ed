import json
import os
import re

import harness

BENCHMARK = os.path.join(harness.ROOT, "BENCHMARK.json")


def test_every_metric_has_layer_metadata():
    with open(os.path.join(os.path.dirname(harness.__file__), "metrics.json")) as f:
        meta = json.load(f)
    specs = harness.load_metric_specs()
    for kind in ("end_to_end", "per_layer"):
        assert list(meta[kind]) == list(specs[kind])
        assert all({"layer", "what"} <= set(e) for e in meta[kind].values())


def test_workload_metrics_are_declared():
    import images_suite
    import lineitem_rules

    per_layer = harness.load_metric_specs()["per_layer"]
    for wl in (images_suite, lineitem_rules):
        assert set(wl.PER_LAYER) <= set(per_layer)


def test_benchmark_json_contract_shape():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    units = [m["unit"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u) for u in units)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= bench["run_seconds"] <= 60


def test_workloads_match_runner():
    import run

    with open(BENCHMARK) as f:
        bench = json.load(f)
    assert tuple(w["name"] for w in bench["workloads"]) == run.WORKLOADS
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_unmeasured_metric_fails_the_run(tmp_path, monkeypatch, capsys):
    import math

    monkeypatch.setattr(harness, "OUT", str(tmp_path))
    values = dict.fromkeys(harness.load_metric_specs()["per_layer"], 1.0)
    values["stream_lag_ms_p50"] = math.nan  # a skipped phase
    harness.emit("lineitem_rules", 1, True, harness.Calls(), values, {})
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (res["correct"], res["attempted"], res["failed"]) == (False, 1, 1)
