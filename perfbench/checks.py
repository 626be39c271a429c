"""Checks of the ``incremental`` gold table against the generator."""

from __future__ import annotations

import math

import pandas as pd


def check_gold(got: pd.DataFrame, expected: dict, rel: float = 1e-9) -> list[str]:
    """Gold ``(synset, image_id, channel, n_samples, mean_value,
    std_value)`` rows against ``gen.expected_gold``."""
    problems = []
    seen = set()
    for r in got.itertuples(index=False):
        key = (r.synset, int(r.image_id), r.channel)
        if key in seen:
            problems.append(f"{key}: duplicated")
            continue
        seen.add(key)
        if key not in expected:
            problems.append(f"{key}: not in the input")
            continue
        n, mean, std = expected[key]
        if int(r.n_samples) != n:
            problems.append(f"{key}: n_samples {r.n_samples} != {n}")
        for what, g, w in (("mean", r.mean_value, mean), ("std", r.std_value, std)):
            if not math.isclose(g, w, rel_tol=rel, abs_tol=rel):
                problems.append(f"{key}: {what} {g!r} != {w!r}")
    missing = set(expected) - seen
    if missing:
        problems.append(f"{len(missing)} (recording, channel) rows missing, e.g. {sorted(missing)[0]}")
    return problems[:20]
