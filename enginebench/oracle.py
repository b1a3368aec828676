"""Engine-independent references and the checks that use them.

``replay`` is a plain per-bar loop written from the bookkeeping rules in
PAPER.md section 1; it shares no code with the engine's
``simulate_symbol``. The dedup checks recompute shingle-set Jaccard and
connected components with a union-find. Each ``check_*`` returns a list
of mismatch strings: empty means the outcome is correct.
"""

from __future__ import annotations

import math

import numpy as np

SLIPPAGE = 1e-6
NO_SHARPE = -1e50


def replay(ts_s, close, buy, sell, cfg: dict) -> dict:
    """Bookkeeping replay of one symbol under one config.

    ``ts_s`` are bar times in seconds; ``cfg`` holds PnlCalcConfig
    keyword arguments (defaults as in the reference). Returns pnl,
    max_drawdown, sharpe and the four trade counts."""
    roi = sorted((float(k), float(v)) for k, v in cfg.get("roi", {0: math.inf}).items())
    stop = abs(cfg.get("stoploss", -math.inf))
    fee = abs(cfg.get("fee_rate", 0.0))
    tax = abs(cfg.get("laid_back_tax", 0.0))
    shorts_ok = cfg.get("enable_short_position", False)
    max_pos = cfg.get("max_position_per_symbol", 1)

    longs: list[list] = []  # [entry_bar, entry_ts, entry_price]
    shorts: list[list] = []
    closed = {"long": 0, "short": 0}
    mtm_hist = []
    open_bars = 0
    for t in range(len(close)):
        p = close[t]
        fees = 0.0
        # 1. mark-to-market of trades entered before this bar
        mtm = 0.0
        if t > 0:
            move = p - close[t - 1]
            for tr in longs:
                if tr[0] < t:
                    mtm += move / tr[2]
            for tr in shorts:
                if tr[0] < t:
                    mtm -= move / tr[2]
        # 2. ROI take-profit: threshold is the lowest of the tiers whose
        #    minute offset has been reached by the holding age
        for book, side, sign in ((longs, "long", 1.0), (shorts, "short", -1.0)):
            for tr in list(book):
                age_min = (ts_s[t] - tr[1]) / 60.0
                active = [v for k, v in roi if k <= age_min]
                if active and sign * (p - tr[2]) / tr[2] > min(active):
                    book.remove(tr)
                    closed[side] += 1
                    fees += fee
        # 3. stoploss
        for book, side, sign in ((longs, "long", 1.0), (shorts, "short", -1.0)):
            for tr in list(book):
                if sign * (p - tr[2]) / tr[2] < -stop:
                    book.remove(tr)
                    closed[side] += 1
                    fees += fee
        # 4. signals; an opposite position is closed (oldest first)
        #    instead of opening
        if buy[t] == 1:
            if len(longs) < max_pos:
                if shorts:
                    shorts.pop(0)
                    closed["short"] += 1
                    fees += fee
                else:
                    longs.append([t, ts_s[t], p])
                    fees += fee
        elif sell[t] == 1:
            if len(shorts) < max_pos:
                if longs:
                    longs.pop(0)
                    closed["long"] += 1
                    fees += fee
                elif shorts_ok:
                    shorts.append([t, ts_s[t], p])
                    fees += fee
        # 5. laid-back tax while flat
        if not longs and not shorts:
            fees += tax
        else:
            open_bars += 1
        # 6.
        mtm_hist.append(mtm - fees)

    pnl_ratio = 0.0
    peak = 0.0
    max_dd = 0.0
    for m in mtm_hist:
        pnl_ratio += m
        peak = max(peak, pnl_ratio)
        max_dd = max(max_dd, peak - pnl_ratio)
    slip = [m - SLIPPAGE for m in mtm_hist]
    mean = sum(slip) / len(slip)
    std = math.sqrt(sum((x - mean) ** 2 for x in slip) / len(slip))
    hours = (ts_s[-1] - ts_s[0]) / 3600.0
    sharpe = NO_SHARPE if std == 0 else sum(slip) / hours / std * math.sqrt(365.0 * 24.0)
    return {
        "pnl": sum(mtm_hist),
        "max_drawdown": max_dd,
        "sharpe_ratio": sharpe,
        "long_closed": closed["long"],
        "short_closed": closed["short"],
        "long_open": len(longs),
        "short_open": len(shorts),
        "open_bars": open_bars,
    }


def replay_frame(bars, cfg: dict) -> dict:
    """``replay`` over a (timestamp, close, buy, sell) pandas frame."""
    ts_s = bars["timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6
    return replay(
        ts_s.tolist(),
        bars["close"].to_numpy(dtype=float).tolist(),
        bars["buy"].to_numpy().tolist(),
        bars["sell"].to_numpy().tolist(),
        cfg,
    )


def _close(a: float, b: float, rel: float = 1e-6, abs_: float = 1e-9) -> bool:
    return abs(a - b) <= abs_ + rel * abs(b)


def check_metrics(got: dict, want: dict, where: str) -> list[str]:
    """Compare the keys of ``want`` that ``got`` carries."""
    bad = []
    for k, w in want.items():
        if k not in got:
            continue
        g = got[k]
        ok = g == w if isinstance(w, int) else (g is not None and _close(float(g), w))
        if not ok:
            bad.append(f"{where}: {k} engine={g!r} reference={w!r}")
    return bad


def check_mtm_result(result, want: dict) -> list[str]:
    """An ``MtmResult`` of one ``calculate`` call against ``replay``."""
    got = {
        "pnl": result.pnl,
        "max_drawdown": result.max_drawdown,
        "sharpe_ratio": result.sharpe_ratio,
        "long_closed": len(result.long_trades_archive),
        "short_closed": len(result.short_trades_archive),
        "long_open": len(result.long_trades_outstanding),
        "short_open": len(result.short_trades_outstanding),
    }
    return check_metrics(got, want, result.symbol)


#: the summary columns every result line of the sweep must carry
GRID_KEYS = ("pnl", "max_drawdown", "sharpe_ratio")


def check_grid(
    rows: list[dict], want: dict[tuple[str, str], dict], required=GRID_KEYS
) -> list[str]:
    """Result lines keyed by (symbol, config_id) against ``replay``;
    every cell must be present exactly once and carry ``required``."""
    bad = []
    seen = {}
    for r in rows:
        key = (r.get("symbol"), r.get("config_id"))
        if key in seen:
            bad.append(f"{key}: duplicate result line")
        missing = [k for k in required if k not in r]
        if missing:
            bad.append(f"{key}: result line lacks {', '.join(missing)}")
        seen[key] = r
    for key, w in want.items():
        if key not in seen:
            bad.append(f"{key}: missing result line")
            continue
        bad += check_metrics(seen[key], w, f"{key}")
    bad += [f"{k}: unexpected result line" for k in seen.keys() - want.keys()]
    return bad


def shingle_set(text: str, k: int = 3) -> frozenset:
    words = text.split()
    return frozenset(tuple(words[i : i + k]) for i in range(len(words) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def union_find(ids, pairs) -> dict[int, int]:
    """Component minimum of every id over the undirected ``pairs``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def label_rounds(pairs) -> int:
    """Rounds of min-label propagation until a round changes nothing
    (the confirming round included)."""
    nbrs: dict[int, list[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    lab = {i: i for i in nbrs}
    rounds = 0
    while True:
        rounds += 1
        new = {i: min([lab[i]] + [lab[j] for j in nbrs[i]]) for i in nbrs}
        if new == lab:
            return rounds
        lab = new


def check_dedup(
    pairs: list[tuple[int, int, float]],
    canonical: dict[int, int],
    shingles: dict[int, frozenset],
    exact_groups: list[list[int]],
    threshold: float,
) -> list[str]:
    """Dedup outcome against exact Jaccard and a union-find.

    ``pairs`` are the emitted (id_a, id_b, jaccard) rows and
    ``canonical`` the emitted doc -> canonical id map."""
    bad = []
    for a, b, j in pairs:
        exact = jaccard(shingles[a], shingles[b])
        if exact < threshold or not _close(j, exact):
            bad.append(f"pair ({a}, {b}): engine jaccard={j} exact={exact}")
    if canonical.keys() != shingles.keys():
        bad.append(
            f"canonical ids cover {len(canonical)} docs, corpus has {len(shingles)}"
        )
    want = union_find(shingles.keys(), [(a, b) for a, b, _ in pairs])
    wrong = [i for i in want if canonical.get(i) != want[i]]
    if wrong:
        i = wrong[0]
        bad.append(
            f"{len(wrong)} canonical ids differ from union-find, e.g. doc {i}: "
            f"engine={canonical.get(i)} reference={want[i]}"
        )
    for g in exact_groups:
        if len({canonical.get(i) for i in g}) != 1:
            bad.append(f"exact-duplicate group {g} split across clusters")
    return bad
