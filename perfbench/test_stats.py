"""Unit tests of the benchmark's pure helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import stats
from stats import Span

HERE = os.path.dirname(os.path.abspath(__file__))


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(range(10)) is None
    # 11 samples: rank 1 has exactly ten above it -> p9, the minimum
    assert stats.tail_percentile(range(1, 12)) == (9, 1.0)
    # 100 samples: p90 is the 90th value with ten above it
    assert stats.tail_percentile(range(1, 101)) == (90, 90.0)
    # order of input does not matter
    assert stats.tail_percentile(list(range(100, 0, -1))) == (90, 90.0)


def test_timing_readout_reports_median_count_and_tail():
    r = stats.timing_readout([3.0, 1.0, 2.0])
    assert r == {"n": 3, "median": 2.0}
    r = stats.timing_readout([float(i) for i in range(1, 21)])
    assert r["n"] == 20 and r["median"] == 10.5
    assert (r["tail_pct"], r["tail_value"]) == (50, 10.0)


def test_median_rejects_empty():
    with pytest.raises(ValueError):
        stats.median([])


def test_iqr_share_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    import statistics

    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.iqr_share(vals) == pytest.approx((q3 - q1) / statistics.median(vals))


def test_self_time_subtracts_union_of_children():
    job = Span("job", 0.0, 10.0, None, "r")
    spans = [
        job,
        Span("a", 1.0, 4.0, "job", "r"),
        Span("b", 3.0, 5.0, "job", "r"),    # overlaps a: union 1..5
        Span("c", 9.0, 12.0, "job", "r"),   # clipped to 9..10
        Span("d", 6.0, 7.0, "other", "r"),  # not a child of job
        Span("e", 6.0, 8.0, "job", "r2"),   # another run
    ]
    assert stats.self_time(job, spans) == pytest.approx(10.0 - 4.0 - 1.0)
    leaf = spans[1]
    assert stats.self_time(leaf, spans) == pytest.approx(3.0)


def test_ratio_helpers_keep_their_base():
    r = stats.candidate_precision(32, 187336)
    assert r == {"value": 32 / 187336, "num": 32, "base": 187336}
    assert stats.candidate_precision(0, 0)["value"] == 0.0
    r = stats.input_bytes_per_corpus_byte(800, 200)
    assert r["value"] == 4.0 and r["base"] == 200
    # 500 us/doc x 4000 docs on 4 cores = 0.5 s of kernel in a 2 s span
    r = stats.kernel_share(500.0, 4000, 4, 2.0)
    assert r["kernel_s"] == pytest.approx(0.5)
    assert r["value"] == pytest.approx(0.25)
    assert r["base"] == 2.0


def test_compare_identity():
    expected = {"u1": ("ok", "a", "{}"), "u2": ("ok", "b", "{}"),
                "u3": ("unusable", "", "{}"), "u4": ("ok", "d", "{}")}
    actual = dict(expected)
    assert stats.compare_identity(actual, expected) == (1.0, [])
    actual["u2"] = ("ok", "b ", "{}")   # one byte off
    del actual["u4"]                    # missing row
    actual["zz"] = ("ok", "extra", "{}")  # rows outside the sample are ignored
    assert stats.compare_identity(actual, expected) == (0.5, ["u2", "u4"])
    with pytest.raises(ValueError):
        stats.compare_identity({}, {})


def test_near_dup_reference_hand_case():
    pytest.importorskip("ocr_automation_system_spark",
                        reason="run from the repository root")
    from reference import near_dup_reference

    base = " ".join(f"w{i}" for i in range(40))
    docs = {
        "a": base,
        "b": base + " tail",           # near-dup of a
        "c": base.replace("w", "W"),   # lowercases to a's text: near-dup
        "d": "  " + base,              # exact dup of a after cleaning
        "e": "completely different words here and there again",
        "f": "x y",                    # fewer tokens than a shingle
    }
    ref = near_dup_reference(docs)
    assert ref["exact_kept"] == 5      # d collapses into a
    assert set(ref["clusters"]) == {"a", "b", "c", "e", "f"}
    assert ref["clusters"]["b"] == ("a", False)
    assert ref["clusters"]["c"] == ("a", False)
    assert ref["clusters"]["a"] == ("a", True)
    assert ref["near_kept"] == 3       # a, e, f
    assert ref["verified_pairs"] <= ref["lsh_candidates"]


def test_benchmark_json_names_what_the_runner_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.E2E)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
