"""Seeded generator of the raw EEG recordings the ``incremental``
workload lands; the same seed gives byte-identical files.

MindBigData raw layout (FIXTURES.md §2): one headerless CSV per
recording, one ``channel,v1,...,vN`` row per channel, metadata in the
file name. Synsets follow a Zipf skew over a small pool, so writes
partitioned by synset have hot partitions. A seeded share of tokens is
non-numeric and a seeded share of files carries one row with an unknown
channel label. No malformed row repeats a channel within a file, so
``(source_file, channel, sample_idx)`` stays unique and the ordered gold
windows are deterministic.

This module imports only numpy, never the program.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

CHANNELS = ("AF3", "AF4", "T7", "T8", "Pz")
UNKNOWN_CHANNELS = ("FC5", "FC6", "O1", "O2", "P7")
FS = 128.0
MIN_SAMPLES, MAX_SAMPLES = 256, 512
BAD_TOKEN = "NA"
BAD_TOKEN_SHARE = 0.002
UNKNOWN_ROW_SHARE = 0.2
SPIKE_SHARE = 0.1
SYNSET_POOL = 12
ZIPF_S = 1.2


@dataclass(frozen=True)
class Recording:
    """One raw file: metadata plus its rows as the exact text tokens."""

    headset: str
    synset: str
    image_id: int
    take: int
    session: int
    rows: tuple[tuple[str, tuple[str, ...]], ...]

    @property
    def file_name(self) -> str:
        return (
            f"MindBigData_Imagenet_{self.headset}_{self.synset}_"
            f"{self.image_id}_{self.take}_{self.session}.csv"
        )

    def text(self) -> str:
        return "".join(f"{ch},{','.join(toks)}\n" for ch, toks in self.rows)

    def channel_values(self) -> dict[str, np.ndarray]:
        """The numeric samples of each whitelisted channel, in order —
        exactly what bronze keeps."""
        out = {}
        for ch, toks in self.rows:
            if ch in CHANNELS:
                out[ch] = np.array([float(t) for t in toks if t != BAD_TOKEN])
        return out


def synsets() -> list[str]:
    return [f"n{2000000 + 1117 * i:08d}" for i in range(SYNSET_POOL)]


def make_recordings(seed: int, stream: int, n: int, first_image_id: int) -> list[Recording]:
    """``n`` recordings from the independent random stream
    ``(seed, stream)``; image ids ``first_image_id ..`` are unique, so
    (synset, image_id) names one recording.

    The shape of a batch is fixed by ``n`` alone: synsets fill Zipf
    quotas and sample counts are evenly spaced over [256, 512]; the seed
    decides which recording gets which, and every signal value."""
    rng = np.random.default_rng([seed, stream])
    pool = synsets()
    synset_of = rng.permutation(zipf_quotas(n))
    n_samples_of = rng.permutation(
        np.linspace(MIN_SAMPLES, MAX_SAMPLES, n).round().astype(int)
    )
    out = []
    for k in range(n):
        n_samples = int(n_samples_of[k])
        t = np.arange(n_samples) / FS
        rows = []
        spike_ch = (
            int(rng.integers(len(CHANNELS))) if rng.random() < SPIKE_SHARE else -1
        )
        for c, ch in enumerate(CHANNELS):
            freq = rng.uniform(4.0, 13.0)
            sig = (
                4200.0
                + rng.uniform(5.0, 40.0) * np.sin(2 * np.pi * freq * t + rng.uniform(0, 6.28))
                + rng.uniform(1.0, 8.0) * rng.standard_normal(n_samples)
            )
            if c == spike_ch:
                sig[int(rng.integers(n_samples))] += 2000.0
            toks = [f"{v:.3f}" for v in sig]
            for i in np.flatnonzero(rng.random(n_samples) < BAD_TOKEN_SHARE):
                toks[i] = BAD_TOKEN
            rows.append((ch, tuple(toks)))
        if rng.random() < UNKNOWN_ROW_SHARE:
            ch = UNKNOWN_CHANNELS[int(rng.integers(len(UNKNOWN_CHANNELS)))]
            m = int(rng.integers(8, 64))
            rows.append((ch, tuple(f"{v:.3f}" for v in 4200 + rng.standard_normal(m))))
        out.append(
            Recording(
                headset="Insight",
                synset=pool[int(synset_of[k])],
                image_id=first_image_id + k,
                take=int(rng.integers(0, 3)),
                session=int(rng.integers(0, 4)),
                rows=tuple(rows),
            )
        )
    return out


def zipf_quotas(n: int) -> np.ndarray:
    """Synset index per recording: ``n`` slots split over the pool in
    proportion to 1/rank^ZIPF_S (largest remainder), so rank 1 is the
    hot partition of every batch."""
    w = 1.0 / np.arange(1, SYNSET_POOL + 1) ** ZIPF_S
    share = w / w.sum() * n
    counts = np.floor(share).astype(int)
    for i in np.argsort(counts - share)[: n - counts.sum()]:
        counts[i] += 1
    return np.repeat(np.arange(SYNSET_POOL), counts)


def write_recordings(recs: list[Recording], out_dir: str) -> list[str]:
    """Write each recording atomically (temp name, then rename), so a
    streaming source polling ``out_dir`` never sees a partial file."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for r in recs:
        p = os.path.join(out_dir, r.file_name)
        tmp = os.path.join(out_dir, "." + r.file_name + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(r.text())
        os.replace(tmp, p)
        paths.append(p)
    return paths


def token_counts(recs: list[Recording]) -> tuple[int, int]:
    """(sample tokens on whitelisted rows, numeric ones among them)."""
    parsed = kept = 0
    for r in recs:
        for ch, toks in r.rows:
            if ch in CHANNELS:
                parsed += len(toks)
                kept += sum(t != BAD_TOKEN for t in toks)
    return parsed, kept


def expected_gold(recs: list[Recording], z_threshold: float = 6.0) -> dict:
    """{(synset, image_id, channel): (n_samples, mean, std)} recomputed
    with numpy: silver's per-(recording, channel) z-score with the std=0
    guard, rows with |z| > threshold dropped, then gold's count / mean /
    sample std over what is left."""
    out = {}
    for r in recs:
        for ch, x in r.channel_values().items():
            std = x.std(ddof=1) if len(x) > 1 else 0.0
            z = (x - x.mean()) / std if std > 0 else np.zeros_like(x)
            kept = x[np.abs(z) <= z_threshold]
            out[(r.synset, r.image_id, ch)] = (
                len(kept),
                float(kept.mean()),
                float(kept.std(ddof=1)) if len(kept) > 1 else float("nan"),
            )
    return out
