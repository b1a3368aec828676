"""Self-tests of the benchmark's correctness checks (no Spark needed).

Each checker gets a correct outcome, which must pass, and a perturbed
one, which must be reported: the ROI comparison flipped, the laid-back
tax dropped, one cluster split. The bookkeeping perturbations are made
by editing the reference's own source, so they stay valid whatever the
engine's kernel looks like.

    python3 -m pytest enginebench/test_checks.py -q
"""

from __future__ import annotations

import inspect
import types

import numpy as np
import pytest

from enginebench import inputs, oracle, workloads

THRESHOLD = inputs.JACCARD_THRESHOLD


def mutant(old: str, new: str) -> types.ModuleType:
    """A copy of the reference module with one source edit applied."""
    src = inspect.getsource(oracle)
    assert src.count(old) == 1, f"mutation site {old!r} not unique"
    mod = types.ModuleType("oracle_mutant")
    exec(compile(src.replace(old, new), "oracle_mutant", "exec"), mod.__dict__)
    return mod


@pytest.fixture(scope="module")
def grid():
    rng = np.random.default_rng(5)
    bars = inputs.bars(rng, 600)
    cfgs = inputs.grid_configs()
    want = {("SYM00", cid): oracle.replay_frame(bars, kw) for cid, kw in cfgs.items()}
    return bars, cfgs, want


def result_lines(replay_frame, bars, cfgs) -> list[dict]:
    return [
        {"symbol": "SYM00", "config_id": cid, **replay_frame(bars, kw)}
        for cid, kw in cfgs.items()
    ]


def test_grid_check_passes_the_engine_kernel(grid):
    from tradesignal_mtm_runner_spark.config import PnlCalcConfig
    from tradesignal_mtm_runner_spark.operators.bookkeeper import simulate_symbol

    bars, cfgs, want = grid
    ts = bars["timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6
    rows = []
    for cid, kw in cfgs.items():
        mtm, _ = simulate_symbol(
            ts,
            bars["close"].to_numpy(),
            bars["buy"].to_numpy().astype(np.int64),
            bars["sell"].to_numpy().astype(np.int64),
            PnlCalcConfig(**kw),
        )
        rows.append({"symbol": "SYM00", "config_id": cid, "pnl": float(mtm.sum())})
    # the kernel gives pnl only; drawdown and sharpe come from Spark's summary
    assert oracle.check_grid(rows, want, required=("pnl",)) == []


def test_grid_check_catches_flipped_roi(grid):
    bars, cfgs, want = grid
    bad = mutant("/ tr[2] > min(active)", "/ tr[2] < min(active)")
    assert oracle.check_grid(result_lines(bad.replay_frame, bars, cfgs), want)


def test_grid_check_catches_dropped_tax(grid):
    bars, cfgs, want = grid
    bad = mutant("fees += tax", "fees += 0.0")
    assert oracle.check_grid(result_lines(bad.replay_frame, bars, cfgs), want)


def test_grid_check_catches_missing_and_duplicate_lines(grid):
    bars, cfgs, want = grid
    rows = result_lines(oracle.replay_frame, bars, cfgs)
    assert oracle.check_grid(rows, want) == []
    assert oracle.check_grid(rows[1:], want)
    assert oracle.check_grid(rows + rows[:1], want)


def test_grid_check_catches_a_line_without_a_summary_column(grid):
    bars, cfgs, want = grid
    for key in oracle.GRID_KEYS:
        rows = result_lines(oracle.replay_frame, bars, cfgs)
        del rows[3][key]
        assert oracle.check_grid(rows, want)
        rows[3]["renamed_" + key] = want[(rows[3]["symbol"], rows[3]["config_id"])][key]
        assert oracle.check_grid(rows, want)


def test_calculate_check_catches_trade_counts(grid):
    bars, _, _ = grid
    want = oracle.replay_frame(bars, workloads.DEFAULT_CONFIG)
    assert want["long_closed"] > 0
    result = types.SimpleNamespace(
        symbol="SYM00",
        pnl=want["pnl"],
        max_drawdown=want["max_drawdown"],
        sharpe_ratio=want["sharpe_ratio"],
        long_trades_archive=[None] * want["long_closed"],
        short_trades_archive=[],
        long_trades_outstanding=[None] * want["long_open"],
        short_trades_outstanding=[],
    )
    assert oracle.check_mtm_result(result, want) == []
    result.long_trades_archive = result.long_trades_archive[1:]
    assert oracle.check_mtm_result(result, want)


@pytest.fixture(scope="module")
def corpus():
    """A small corpus and its exact near-duplicate pairs."""
    small = {**inputs.SHAPES["corpus_dedup"], "docs": 400, "exact_groups": 5, "chains": 4}
    docs, planted = inputs.corpus(np.random.default_rng(9), small)
    sh = {int(i): oracle.shingle_set(t) for i, t in zip(docs["doc_id"], docs["text"])}
    ids = sorted(sh)
    pairs = [
        (a, b, oracle.jaccard(sh[a], sh[b]))
        for k, a in enumerate(ids)
        for b in ids[k + 1 :]
        if oracle.jaccard(sh[a], sh[b]) >= THRESHOLD
    ]
    return sh, planted, pairs


def test_corpus_plants_what_it_promises(corpus):
    sh, planted, pairs = corpus
    chain_len = inputs.SHAPES["corpus_dedup"]["chain_len"]
    links = {(min(a, b), max(a, b)) for c in planted["chains"] for a, b in zip(c, c[1:])}
    assert links <= {(a, b) for a, b, _ in pairs}
    assert oracle.label_rounds([(a, b) for a, b, _ in pairs]) == chain_len


def test_dedup_check_catches_split_cluster(corpus):
    sh, planted, pairs = corpus
    canonical = oracle.union_find(sh, [(a, b) for a, b, _ in pairs])
    groups = planted["exact_groups"]
    assert oracle.check_dedup(pairs, canonical, sh, groups, THRESHOLD) == []
    # split one chain: its last doc claims to be its own cluster
    split = dict(canonical)
    split[planted["chains"][0][-1]] = planted["chains"][0][-1]
    assert oracle.check_dedup(pairs, split, sh, groups, THRESHOLD)
    # split one exact-duplicate group, pairs and all
    g = groups[0]
    kept = [p for p in pairs if g[-1] not in p[:2]]
    split = oracle.union_find(sh, [(a, b) for a, b, _ in kept])
    assert oracle.check_dedup(kept, split, sh, groups, THRESHOLD)


def test_dedup_check_catches_a_pair_below_threshold(corpus):
    sh, planted, pairs = corpus
    a, b = planted["chains"][0][0], planted["chains"][0][2]
    far = pairs + [(a, b, oracle.jaccard(sh[a], sh[b]))]
    canonical = oracle.union_find(sh, [(x, y) for x, y, _ in far])
    assert oracle.check_dedup(far, canonical, sh, planted["exact_groups"], THRESHOLD)
