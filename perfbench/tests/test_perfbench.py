"""Tests of the benchmark's own pure logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pytest

import gen
import run
from checks import check_gold
from stats import (
    TRACE_BLOCK, Span, covered, growth, self_times, spread, tail, tail_percentile, traced_op,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, names in sorted(os.walk(path)):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(root, n)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _recordings_digest(tmp_path, seed: int, name: str) -> str:
    out = tmp_path / name
    gen.write_recordings(gen.make_recordings(seed, 100, 6, 0), str(out))
    return _tree_digest(str(out))


def test_recordings_identical_per_seed_and_differ_across_seeds(tmp_path):
    a = _recordings_digest(tmp_path, 7, "a")
    assert a == _recordings_digest(tmp_path, 7, "b")
    assert a != _recordings_digest(tmp_path, 8, "c")


def test_recording_layout():
    recs = gen.make_recordings(1, 100, 24, 0)
    for r in recs:
        labels = [ch for ch, _ in r.rows]
        # every whitelisted channel once, malformed rows never repeat one
        assert sorted(labels[:5]) == sorted(gen.CHANNELS)
        assert len(labels) == len(set(labels))
        assert all(ch in gen.UNKNOWN_CHANNELS for ch in labels[5:])
        n = {len(toks) for ch, toks in r.rows if ch in gen.CHANNELS}
        assert len(n) == 1 and gen.MIN_SAMPLES <= n.pop() <= gen.MAX_SAMPLES
    counts = pd.Series([r.synset for r in recs]).value_counts()
    assert counts.iloc[0] > 3 * counts.iloc[-1]  # Zipf: one hot synset
    assert len({(r.synset, r.image_id) for r in recs}) == len(recs)


def test_expected_gold_drops_outliers_and_bad_tokens():
    toks = ["1.0", "NA"] + ["1.0", "-1.0"] * 100 + ["500.0"]
    rec = gen.Recording("Insight", "n00000001", 1, 0, 0, tuple((ch, tuple(toks)) for ch in gen.CHANNELS))
    n, mean, std = gen.expected_gold([rec])[("n00000001", 1, "AF3")]
    assert n == 201  # the spike (|z| > 6) and the NA token are gone
    kept = np.array([1.0] + [1.0, -1.0] * 100)
    assert mean == pytest.approx(kept.mean()) and std == pytest.approx(kept.std(ddof=1))


def _gold_frame(expected: dict) -> pd.DataFrame:
    return pd.DataFrame(
        [
            {"synset": s, "image_id": i, "channel": ch, "n_samples": n,
             "mean_value": m, "std_value": sd}
            for (s, i, ch), (n, m, sd) in expected.items()
        ]
    )


def test_gold_check_passes_on_recomputation_and_fails_on_corruption():
    expected = gen.expected_gold(gen.make_recordings(5, 100, 4, 0))
    got = _gold_frame(expected)
    assert check_gold(got, expected) == []
    key = next(iter(expected))
    n, mean, std = expected[key]
    corrupted = {**expected, key: (n, mean * (1 + 1e-6), std)}
    assert check_gold(got, corrupted)
    assert check_gold(got, {**expected, key: (n + 1, mean, std)})
    assert check_gold(got.iloc[1:], expected)  # a missing row
    assert check_gold(pd.concat([got, got.iloc[:1]]), expected)  # a duplicate


@pytest.mark.parametrize(
    "n, p", [(10, None), (11, 9), (20, 50), (100, 90), (1000, 99), (200, 95)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_tail_value():
    assert tail(list(range(10))) is None
    p, v = tail([float(x) for x in range(100)])
    assert p == 90 and v == pytest.approx(89.1)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-2, 1), (9, 12)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_with_overlapping_and_nested_children():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 3.0, 6.0, 0, "r"),  # overlaps a: [1, 6] covered once
        Span("a.inner", 1.5, 2.5, 1, "r"),  # nested: only a loses it
        Span("c", 8.0, 12.0, 0, "r"),  # runs past its parent's end
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 2, 3 - 1, 3, 1, 4])


def test_growth():
    assert growth([1.0]) is None
    assert growth([1.0, 2.0, 3.0]) == 3.0
    assert growth([1.0, 1.0, 1.0, 1.0]) == 1.0
    assert growth([1.0, 1.2, 1.4, 1.6, 1.8, 2.0, 2.2, 2.4]) == pytest.approx(2.3 / 1.1)


def test_traced_ops_follow_abba_blocks():
    assert [traced_op(k) for k in range(2 * TRACE_BLOCK)] == [False, True, True, False] * 2
    # a linear trend in latency adds equally to both sides of a block
    lat = [10.0 + 0.5 * k for k in range(TRACE_BLOCK)]
    on = [x for k, x in enumerate(lat) if traced_op(k)]
    off = [x for k, x in enumerate(lat) if not traced_op(k)]
    assert np.mean(on) == np.mean(off)


def test_spread_is_quartile_distance_over_median():
    assert spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_query_mix_names_registry_queries_of_every_listed_module():
    from eeg_data_lake_spark.workload import REGISTRY

    from workloads import MIX, MODULES, TABLES

    assert set(MIX) <= set(REGISTRY)
    assert {REGISTRY[q].spark_fn.__module__.rsplit(".", 1)[1] for q in MIX} == set(MODULES)
    assert {q for q in MIX if REGISTRY[q].oracle is None} == {
        "q98_text_embedding_topk", "q95_ml_priority_classifier"
    }
    from tests.oracle_utils import TABLES as NAMES

    assert sorted(os.listdir(TABLES)) == sorted(f"{n}.parquet" for n in NAMES)


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
