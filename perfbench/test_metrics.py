"""Unit tests of the benchmark's metric maths (no Spark needed).

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402


def test_nearest_rank():
    v = list(range(1, 101))
    assert common.nearest_rank(v, 50) == 50
    assert common.nearest_rank(v, 90) == 90
    assert common.nearest_rank(v, 100) == 100
    assert common.nearest_rank([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        common.nearest_rank([], 50)


@pytest.mark.parametrize("n,pct", [(10, None), (11, 9), (20, 50), (28, 64),
                                   (80, 87), (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_beyond(n, pct):
    assert common.tail_percentile(n) == pct
    if pct is not None:
        import math

        k = math.ceil(pct * n / 100)
        assert n - k >= 10
        # the next whole percentile would leave fewer than ten
        assert n - math.ceil((pct + 1) * n / 100) < 10


def test_tail_latency_flags_unsupported_percentile():
    v = [float(i) for i in range(20)]
    assert common.tail_latency(v, 50) == (9.0, True)
    assert common.tail_latency(v, 90) == (17.0, False)


def test_capture_latencies_use_first_receipt():
    capture = {"a": 10.0, "b": 11.0, "c": 12.0}
    receipts = {"a": [12.5, 11.5], "b": [13.0]}  # a resent, c never arrived
    assert common.capture_latencies(capture, receipts) == {"a": 1.5, "b": 2.0}


def test_on_time_counts_missing_as_late():
    lat = {"a": 1.0, "b": 4.0, "c": 6.0}
    assert common.on_time_ratio(lat, 4, 5.0) == 0.5
    with pytest.raises(ValueError):
        common.on_time_ratio(lat, 0, 5.0)


def test_failed_and_useful_post_ratios():
    assert common.failed_ratio(missing=2, errors=1, wrong=1, attempted=8) == 0.5
    assert common.failed_ratio(0, 0, 0, 3) == 0.0
    with pytest.raises(ValueError):
        common.failed_ratio(0, 0, 0, 0)
    assert common.useful_post_ratio(8, 10) == 0.8
    assert common.useful_post_ratio(0, 0) == 0.0


def test_detections_key_matches_sender_format():
    boxes = [{"x_min": 1, "y_min": 2, "x_max": 30, "y_max": 40,
              "confidence": 0.56789, "class_id": 2, "class_name": "car"}]
    posted = json.loads(json.dumps(
        {"frame_number": 5, "detections": [
            {"class_name": "car", "class_id": 2, "confidence": 0.5679,
             "box": [1, 2, 30, 40]}]}))
    doc = {"metadata": json.dumps(posted), "n_bytes": 7}
    fn, dets = common.parse_post(doc)
    assert fn == 5
    assert common.detections_key(dets) == common.expected_detections_key(boxes)
    assert common.parse_post({"metadata": "not json"}) is None


def test_live_post_matching_assigns_interchangeable_cameras():
    from perfbench import live_feed

    empty = common.detections_key([])
    expected = {(0, 0): empty, (1, 0): empty, (2, 0): "other"}
    post = {"metadata": json.dumps({"frame_number": 0, "detections": []})}
    receipts, unexpected = live_feed.match_posts(
        [(2.0, post), (1.0, post), (3.0, {"metadata": "{}"})], expected)
    assert unexpected == 1
    assert receipts == {(0, 0): [1.0], (1, 0): [2.0]}


def test_complete_metrics_fills_idle_layers_and_rejects_unknown():
    m = common.complete_metrics({"plans.record_s": (1.5, "s")}, trace=True)
    assert set(m) == set(common.PER_LAYER)
    assert m["plans.record_s"] == (1.5, "s") and m["stream.batches"] == (0.0, "count")
    with pytest.raises(ValueError):
        common.complete_metrics({"nope": (1.0, "s")}, trace=True)
    with pytest.raises(ValueError):
        common.complete_metrics({"setup_s": (1.0, "s")}, trace=False)


def test_benchmark_json_declares_the_runner_metrics():
    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == common.END_TO_END
    assert layers == common.PER_LAYER
    from perfbench import run

    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert spec["run_seconds"] == common.RUN_SECONDS


def test_tail_percentile_in_benchmark_json_is_the_runners():
    import importlib

    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        pct = importlib.import_module(f"perfbench.{w['name']}").TAIL_PCT
        assert w["why"].endswith(f"tail = p{pct}"), w["name"]
