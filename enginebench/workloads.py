"""The three workloads: seeded inputs, the timed op, and its check.

A workload object is built once per run; its constructor writes the
inputs and computes what it can of the references (untimed). Each op
then goes through ``next_input`` (untimed), ``op`` (timed) and ``check``
(untimed, returns mismatches). One op does ``units`` of ``unit`` work.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import shutil

import numpy as np

from . import inputs, oracle

#: ``PnlCalcConfig.get_default()`` spelled as reference keyword arguments
DEFAULT_CONFIG = {"roi": {0: math.inf}, "stoploss": -math.inf, "laid_back_tax": 0.0}


def no_span(_name: str):
    """The untraced stand-in for ``trace.Tracer.span``."""
    return contextlib.nullcontext()


class Workload:
    name = ""
    unit = ""
    units = 0
    #: ops run between the cold first op and the measured loop
    warmup_ops = 0
    #: the measured loop runs at least this many ops as well as
    #: ``--seconds``; on a 4-core host the count is what ends it, which
    #: puts the measured window at the same point of the JVM's warm-up
    #: curve on every run
    measured_ops = 3

    def next_input(self):
        return None

    def kernel_cells(self) -> list:
        """(bars, PnlCalcConfig) cells one op runs through the bookkeeper."""
        return []

    def candidate_pairs(self) -> int:
        """LSH candidate pairs of the op's corpus (0 without a corpus)."""
        return 0


class HyperoptCalls(Workload):
    """One ``TradeMtmRunner.calculate`` per op on a fresh one-symbol frame."""

    name = "hyperopt_calls"
    unit = "bars"
    warmup_ops = 1
    measured_ops = 4

    def __init__(self, spark, rng: np.random.Generator, workdir: str) -> None:
        from tradesignal_mtm_runner_spark.runner import TradeMtmRunner

        self.rng = rng
        self.runner = TradeMtmRunner(spark=spark)
        self.units = inputs.SHAPES[self.name]["bars"]
        self.last_bars = None

    def next_input(self):
        buy, sell, bars = inputs.hyperopt_frames(self.rng)
        self.last_bars = bars
        self.last_want = oracle.replay_frame(bars, DEFAULT_CONFIG)
        return buy, sell, self.last_want

    def op(self, inp, span=no_span):
        buy, sell, _ = inp
        with span("runner.calculate"):
            return self.runner.calculate("SYM00", buy, sell)

    def check(self, inp, out) -> list[str]:
        return oracle.check_mtm_result(out, inp[2])

    def kernel_cells(self) -> list:
        from tradesignal_mtm_runner_spark.config import PnlCalcConfig

        return [(self.last_bars, PnlCalcConfig.get_default())]

    def shape(self) -> dict:
        b = self.last_bars
        return {
            **inputs.SHAPES[self.name],
            "signal_density": float((b["buy"] + b["sell"]).mean()),
            "open_bar_share": self.last_want["open_bars"] / len(b),
        }


class GridSweep(Workload):
    """Parquet scan -> blocked 32-config sweep -> summary -> JSONL write."""

    name = "grid_sweep"
    unit = "bar-configs"

    def __init__(self, spark, rng: np.random.Generator, workdir: str) -> None:
        from tradesignal_mtm_runner_spark.config import PnlCalcConfig

        self.spark = spark
        self.workdir = workdir
        self.signals = inputs.grid_signals(rng)
        inputs.write_parquet(self.signals, os.path.join(workdir, "signals.parquet"))
        cfgs = inputs.grid_configs()
        self.configs = {cid: PnlCalcConfig(**kw) for cid, kw in cfgs.items()}
        self.want = {
            (sym, cid): oracle.replay_frame(bars.reset_index(drop=True), kw)
            for sym, bars in self.signals.groupby("symbol")
            for cid, kw in cfgs.items()
        }
        self.ops = 0
        s = inputs.SHAPES[self.name]
        self.units = s["symbols"] * s["bars"] * s["configs"]

    def next_input(self):
        """A fresh output directory per op (the previous one removed), so
        a check never reads lines an earlier op wrote."""
        if self.ops:
            shutil.rmtree(self._out_dir(self.ops), ignore_errors=True)
        self.ops += 1
        return self._out_dir(self.ops)

    def _out_dir(self, n: int) -> str:
        return os.path.join(self.workdir, f"results-{n}")

    def op(self, out_dir, span=no_span):
        from tradesignal_mtm_runner_spark import sinks, sources
        from tradesignal_mtm_runner_spark.operators import bookkeeper

        with span("sources.load_table"):
            signals = sources.load_table(self.spark, self.workdir, "signals")
        with span("bookkeeper.sweep"):
            timeline = bookkeeper.run_mtm_param_sweep_blocked(signals, self.configs)
        with span("bookkeeper.summarize"):
            summary = bookkeeper.summarize_timeline(timeline, ["symbol", "config_id"])
        with span("sinks.write_results_jsonl"):
            sinks.write_results_jsonl(summary, out_dir, group_cols=["symbol", "config_id"])
        return out_dir

    def check(self, out_dir, _out) -> list[str]:
        rows = []
        for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
            with open(path) as f:
                rows += [json.loads(line) for line in f if line.strip()]
        return oracle.check_grid(rows, self.want)

    def kernel_cells(self) -> list:
        return [
            (bars.reset_index(drop=True), cfg)
            for _, bars in self.signals.groupby("symbol")
            for cfg in self.configs.values()
        ]

    def shape(self) -> dict:
        s = self.signals
        cells = self.want.values()
        return {
            **inputs.SHAPES[self.name],
            "signal_density": float((s["buy"] + s["sell"]).mean()),
            "open_bar_share": sum(w["open_bars"] for w in cells) / (len(s) * len(self.configs)),
            "trades_per_cell": sum(w["long_closed"] + w["short_closed"] for w in cells) / len(cells),
        }


class CorpusDedup(Workload):
    """Parquet scan -> MinHash/LSH near-dup pairs -> converged CC -> keep set."""

    name = "corpus_dedup"
    unit = "docs"

    def __init__(self, spark, rng: np.random.Generator, workdir: str) -> None:
        self.spark = spark
        self.workdir = workdir
        docs, self.planted = inputs.corpus(rng)
        inputs.write_parquet(docs, os.path.join(workdir, "docs.parquet"))
        self.shingles = {
            int(i): oracle.shingle_set(t) for i, t in zip(docs["doc_id"], docs["text"])
        }
        self.units = len(docs)
        self.last = None

    def op(self, _inp, span=no_span):
        from tradesignal_mtm_runner_spark import sources
        from tradesignal_mtm_runner_spark.cache_registry import release_caches
        from tradesignal_mtm_runner_spark.operators import dedup

        with span("sources.load_table"):
            docs = sources.load_table(self.spark, self.workdir, "docs")
        pairs = None
        try:
            with span("dedup.pairs"):
                pairs = dedup.minhash_dedup_pairs(
                    docs, jaccard_threshold=inputs.JACCARD_THRESHOLD
                ).persist()
                emitted = pairs.collect()
            with span("dedup.cc"):
                labels = dedup.connected_canonical_converged(
                    docs.select("doc_id"), pairs
                )
                canon = labels.collect()
        finally:
            if pairs is not None:
                pairs.unpersist()
            release_caches()
        return (
            [(r.id_a, r.id_b, r.jaccard) for r in emitted],
            {r.doc_id: r.canonical_id for r in canon},
            {r.doc_id for r in canon if r.keep},
        )

    def check(self, _inp, out) -> list[str]:
        pairs, canonical, keep = out
        self.last = out
        bad = oracle.check_dedup(
            pairs,
            canonical,
            self.shingles,
            self.planted["exact_groups"],
            inputs.JACCARD_THRESHOLD,
        )
        roots = {i for i, c in canonical.items() if i == c}
        if keep != roots:
            bad.append(f"keep set has {len(keep)} docs, canonical roots {len(roots)}")
        return bad

    def candidate_pairs(self) -> int:
        from tradesignal_mtm_runner_spark import sources
        from tradesignal_mtm_runner_spark.operators import dedup

        docs = sources.load_table(self.spark, self.workdir, "docs")
        bands = dedup.lsh_bands_from_wide(dedup.minhash_signatures_wide(docs))
        return dedup.lsh_candidate_pairs(bands).count()

    def shape(self) -> dict:
        out = {
            **inputs.SHAPES[self.name],
            "planted_clusters": len(self.planted["exact_groups"])
            + len(self.planted["chains"]),
        }
        if self.last is not None:
            pairs, _, keep = self.last
            edges = [(a, b) for a, b, _ in pairs]
            out["verified_pairs"] = len(pairs)
            out["kept_docs"] = len(keep)
            out["cc_rounds_needed"] = oracle.label_rounds(edges)
        return out


WORKLOADS = {w.name: w for w in (HyperoptCalls, GridSweep, CorpusDedup)}
