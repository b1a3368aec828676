"""Seeded input generators for the three workloads.

Every generator takes a ``numpy.random.Generator`` and fixed sizes: the
seed changes values, never the amount of work. Sizes live in ``SHAPES``
so a run prints exactly what it measured.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SHAPES = {
    "hyperopt_calls": {"symbols": 1, "bars": 2000, "configs": 1},
    "grid_sweep": {"symbols": 4, "bars": 2500, "configs": 32},
    "corpus_dedup": {
        "docs": 1000,
        "words_per_doc": 60,
        "vocab": 4000,
        "exact_groups": 10,
        "exact_group_size": 3,
        "chains": 10,
        "chain_len": 3,
    },
}

#: buy and sell each fire on this share of bars (never on the same bar)
#: and the per-minute log-return volatility: the values of the engine's
#: own one-minute kernel anchor, ``bookkeeper_500k_bars`` in bench.py
SIGNAL_DENSITY = 0.005
BAR_VOL = 0.001
BAR_START = np.datetime64("2024-01-02T00:00:00", "us")

#: Jaccard threshold of the dedup op. One word swapped in a 60-word doc
#: keeps 55 of 61 distinct 3-shingles (J ~= 0.90); two swaps keep 52 of
#: 64 (J ~= 0.81); so only consecutive chain links pass.
JACCARD_THRESHOLD = 0.85


def bars(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """One symbol's 1-minute bars: (timestamp, close, buy, sell)."""
    close = 100.0 * np.exp(np.cumsum(rng.normal(0.0, BAR_VOL, n)))
    u = rng.random(n)
    return pd.DataFrame(
        {
            "timestamp": BAR_START + np.arange(n) * np.timedelta64(60, "s"),
            "close": close,
            "buy": (u < SIGNAL_DENSITY).astype(np.int32),
            "sell": ((u >= SIGNAL_DENSITY) & (u < 2 * SIGNAL_DENSITY)).astype(np.int32),
        }
    )


def hyperopt_frames(rng: np.random.Generator) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """The reference's calling convention: a buy frame (close, buy) and a
    sell frame (sell), both indexed by bar timestamp. Also returns the
    plain bar frame the reference check replays."""
    b = bars(rng, SHAPES["hyperopt_calls"]["bars"])
    idx = pd.DatetimeIndex(b["timestamp"])
    buy = pd.DataFrame({"close": b["close"].to_numpy(), "buy": b["buy"].to_numpy()}, index=idx)
    sell = pd.DataFrame({"sell": b["sell"].to_numpy()}, index=idx)
    return buy, sell, b


def grid_signals(rng: np.random.Generator) -> pd.DataFrame:
    shape = SHAPES["grid_sweep"]
    frames = []
    for s in range(shape["symbols"]):
        b = bars(rng, shape["bars"])
        b.insert(0, "symbol", f"SYM{s:02d}")
        frames.append(b)
    return pd.concat(frames, ignore_index=True)


def grid_configs() -> dict[str, dict]:
    """32 configs: ROI tiers x stoploss x fee, shorts on, the default
    laid-back tax. Plain dicts of ``PnlCalcConfig`` keyword arguments,
    so the reference check never touches the engine's config class."""
    rois = [
        {0: math.inf},
        {0: 0.02},
        {0: 0.03, 30: 0.01},
        {0: 0.05, 10: 0.02, 60: 0.0},
    ]
    stops = [-math.inf, -0.01, -0.02, -0.05]
    fees = [0.0, 0.001]
    out = {}
    for ri, roi in enumerate(rois):
        for si, stop in enumerate(stops):
            for fi, fee in enumerate(fees):
                out[f"r{ri}s{si}f{fi}"] = {
                    "roi": roi,
                    "stoploss": stop,
                    "fee_rate": fee,
                    "enable_short_position": True,
                    "max_position_per_symbol": 1,
                    "laid_back_tax": 0.0001,
                }
    return out


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One parquet file; timestamps stored as UTC microseconds so the
    engine's loader reads them as plain TIMESTAMP."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "timestamp" in df.columns:
        i = table.schema.get_field_index("timestamp")
        table = table.set_column(
            i, "timestamp", table.column(i).cast(pa.timestamp("us", tz="UTC"))
        )
    pq.write_table(table, path)


def corpus(
    rng: np.random.Generator, s: dict = SHAPES["corpus_dedup"]
) -> tuple[pd.DataFrame, dict]:
    """Synthetic corpus with planted structure.

    * background docs: random words, no shingle overlap to speak of;
    * exact-duplicate groups: ``exact_group_size`` copies of one text
      under random ids;
    * near-duplicate chains: ``chain_len`` docs, each one word away from
      the previous, with ids ascending along the chain, so min-label
      propagation needs exactly ``chain_len`` rounds (``chain_len - 1``
      that change a label plus one that confirms the fixpoint).

    ``s`` holds the sizes. Returns the (doc_id, text) frame and the
    planted ground truth.
    """
    n, w = s["docs"], s["words_per_doc"]
    vocab = np.array([f"w{i}" for i in range(s["vocab"])])

    def text(words: np.ndarray) -> str:
        return " ".join(vocab[words])

    n_exact = s["exact_groups"] * s["exact_group_size"]
    n_chain = s["chains"] * s["chain_len"]
    n_bg = n - n_exact - n_chain
    ids = rng.permutation(n).astype(np.int64)
    texts: dict[int, str] = {}
    pos = 0
    for _ in range(n_bg):
        texts[int(ids[pos])] = text(rng.integers(0, s["vocab"], w))
        pos += 1
    exact_groups = []
    for _ in range(s["exact_groups"]):
        t = text(rng.integers(0, s["vocab"], w))
        group = [int(i) for i in ids[pos : pos + s["exact_group_size"]]]
        pos += s["exact_group_size"]
        for i in group:
            texts[i] = t
        exact_groups.append(group)
    chains = []
    for _ in range(s["chains"]):
        chain = sorted(int(i) for i in ids[pos : pos + s["chain_len"]])
        pos += s["chain_len"]
        words = rng.integers(0, s["vocab"], w)
        # swap a different interior position per link so links never
        # undo each other; interior keeps each swap worth 3 shingles
        slots = rng.choice(np.arange(3, w - 3), s["chain_len"] - 1, replace=False)
        for k, i in enumerate(chain):
            if k:
                words = words.copy()
                j = slots[k - 1]
                # a word different from the one it replaces
                words[j] = (words[j] + rng.integers(1, s["vocab"])) % s["vocab"]
            texts[i] = text(words)
        chains.append(chain)
    df = pd.DataFrame(
        {"doc_id": np.fromiter(texts.keys(), np.int64), "text": list(texts.values())}
    )
    df = df.sample(frac=1.0, random_state=int(rng.integers(2**31))).reset_index(drop=True)
    return df, {"exact_groups": exact_groups, "chains": chains}
