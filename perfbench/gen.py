"""Seeded input generators that also record the ground truth.

Every generator takes a ``seed`` and returns the same inputs for the same
seed. The program under test only ever sees the files written from them;
the truth stays with the benchmark, which checks the program's outputs
against it.

Trade distributions follow FIXTURES.md: about 9% exact duplicate rows,
20% CANCELLED, 10.6% unknown symbols plus trades on the inactive OLDCO,
a 60/20/20 ISO/epoch/US timestamp mix with single-digit US times, empty
and dirty quantity/price strings, and about 63% fill coverage spread over
all six discrepancy cases.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

ACTIVE = ["AAPL", "MSFT", "GOOGL", "AMZN", "TSLA", "META", "NVDA", "JPM", "BAC"]
INACTIVE = "OLDCO"
UNKNOWN = "INVALID_SYM"
SYMBOLS_ROWS = [
    ("symbol", "company_name", "sector", "is_active"),
    *[(s, f"{s} Corp", "Technology", "true") for s in ACTIVE],
    (INACTIVE, "Old Company", "Industrials", "false"),
]
TRADES_HEADER = (
    "trade_id", "timestamp", "symbol", "quantity", "price",
    "buyer_id", "seller_id", "trade_status",
)
FILLS_HEADER = (
    "external_ref_id", "our_trade_id", "timestamp", "symbol", "quantity",
    "price", "counterparty_id",
)
T0 = 1705276800  # 2024-01-15T00:00:00Z
SPAN_SECONDS = 7 * 24 * 3600  # event time the trades cover


@dataclass
class TradeSet:
    """Generated trades, fills and the counts the pipeline must report."""

    trades: list[tuple]  # file order: duplicates included, shuffled
    slice_of: np.ndarray  # stream drop file of each row of ``trades``
    fills: list[tuple]
    truth: dict[str, int]  # ReconciliationPipeline.metrics keys
    stream_truth: dict[str, np.ndarray]  # cleaned/exceptions rows per drop file


def _quantity(rng: np.random.Generator, n: int) -> tuple[list[str], list[int | None]]:
    """Quantity strings and the int a non-ANSI ``cast("int")`` gives."""
    raw = rng.integers(1, 10_001, n)
    kind = rng.random(n)
    texts: list[str] = []
    ints: list[int | None] = []
    for q, r in zip(raw.tolist(), kind.tolist()):
        if r < 0.014:
            texts.append(""), ints.append(None)
        elif r < 0.017:
            texts.append("abc"), ints.append(None)
        elif r < 0.019:
            texts.append("0"), ints.append(0)
        elif r < 0.021:
            texts.append(f"-{q}"), ints.append(-q)
        elif r < 0.024:
            texts.append(f"{q}.5"), ints.append(q)  # truncates, stays valid
        else:
            texts.append(str(q)), ints.append(q)
    return texts, ints


def _price(rng: np.random.Generator, n: int) -> tuple[list[str], list[float | None]]:
    """Price strings and the double a non-ANSI ``cast("double")`` gives."""
    raw = rng.uniform(50.0, 550.0, n)
    places = rng.integers(2, 9, n)
    kind = rng.random(n)
    texts: list[str] = []
    vals: list[float | None] = []
    for p, d, r in zip(raw.tolist(), places.tolist(), kind.tolist()):
        if r < 0.029:
            s = ""
        elif r < 0.031:
            s = "abc"
        elif r < 0.033:
            s = "0"
        elif r < 0.035:
            s = "-1.5"
        elif r < 0.037:
            s = "1e2"
        else:
            s = f"{p:.{d}f}"
        texts.append(s)
        vals.append(None if s in ("", "abc") else float(s))
    return texts, vals


def _timestamp(t: int, fmt: int, single_digit: bool) -> tuple[str, bool]:
    """Timestamp text in one of three formats, and whether it parses."""
    dt = datetime.fromtimestamp(t, tz=timezone.utc)
    if fmt == 0:
        return dt.strftime("%Y-%m-%dT%H:%M:%S.000Z"), True
    if fmt == 1:
        return str(t), True
    day = f"{dt.month}/{dt.day}/{dt.year} {dt.hour}"
    if single_digit and (dt.minute < 10 or dt.second < 10):
        # the US pattern needs two-digit minutes and seconds; these fall
        # through to the patternless parse and become NULL
        return f"{day}:{dt.minute}:{dt.second}", False
    return f"{day}:{dt.minute:02d}:{dt.second:02d}", True


def make_trades(seed: int, n_unique: int, *, n_slices: int = 1) -> TradeSet:
    """``n_unique`` trades plus ~9.8% exact duplicate rows, with fills.
    ``n_slices`` is the number of stream drop files."""
    rng = np.random.default_rng(seed)
    n = n_unique
    t = T0 + rng.integers(0, SPAN_SECONDS, n)
    fmt = rng.choice(3, n, p=[0.6, 0.2, 0.2])
    single = rng.random(n) < 0.5
    sym_r = rng.random(n)
    sym_pick = rng.integers(0, len(ACTIVE), n)
    symbols = [
        UNKNOWN if r < 0.106 else INACTIVE if r < 0.116 else ACTIVE[k]
        for r, k in zip(sym_r.tolist(), sym_pick.tolist())
    ]
    q_text, q_int = _quantity(rng, n)
    p_text, p_val = _price(rng, n)
    buyers = rng.integers(1, 500, n).tolist()
    sellers = rng.integers(1, 500, n).tolist()
    st_r = rng.random(n)
    status = [
        "EXECUTED" if r < 0.795 else "CANCELLED" if r < 0.995 else ""
        for r in st_r.tolist()
    ]
    rows: list[tuple] = []
    parseable = np.zeros(n, dtype=bool)
    for i in range(n):
        ts, ok = _timestamp(int(t[i]), int(fmt[i]), bool(single[i]))
        parseable[i] = ok
        rows.append((
            f"TRD{i:07d}", ts, symbols[i], q_text[i], p_text[i],
            f"BUY{buyers[i]}", f"SEL{sellers[i]}", status[i],
        ))

    # exact full-row duplicates: one extra copy of ~9.8% of the trades
    dup_idx = rng.choice(n, int(round(n * 0.098)), replace=False)
    copies = np.ones(n, dtype=np.int64)
    copies[dup_idx] += 1
    order = np.concatenate([np.arange(n), dup_idx])
    rng.shuffle(order)
    trades = [rows[i] for i in order.tolist()]

    # fills: ~63% of trades, unique our_trade_id, six discrepancy cases
    fill_idx = np.flatnonzero(rng.random(n) < 0.63)
    case = rng.choice(8, len(fill_idx), p=[0.45, 0.10, 0.10, 0.10, 0.10, 0.05, 0.05, 0.05])
    cps = rng.integers(1, 50, len(fill_idx)).tolist()
    fills: list[tuple] = []
    fill_of: dict[int, tuple[str | None, int | None, float | None]] = {}
    for j, (i, c) in enumerate(zip(fill_idx.tolist(), case.tolist())):
        sym, qt, pt = symbols[i], q_text[i], p_text[i]
        pv = p_val[i]
        if c == 1 and pv is not None:  # price off by exactly 0.01
            pt = f"{pv + 0.01:.2f}"
        elif c == 2 and pv is not None:  # price off by more than 0.01
            pt = f"{pv + 0.5:.2f}"
        elif c == 3 and q_int[i] is not None:  # quantity mismatch
            qt = str(q_int[i] + 1)
        elif c == 4:  # symbol mismatch
            sym = UNKNOWN if sym != UNKNOWN else ACTIVE[0]
        elif c == 5:  # matched but neither side parses: unconfirmed
            qt, pt = "", ""
        elif c == 6:
            qt = ""
        elif c == 7:
            pt = ""
        fills.append((
            f"EXT{j:07d}", f"TRD{i:07d}", rows[i][1],
            sym, qt, pt, f"CP{cps[j]}",
        ))
        fill_of[i] = (
            sym,
            _cast_int(qt),
            None if pt in ("", "abc") else float(pt),
        )
    # a few orphan fills whose trade never existed
    for j in range(max(1, n // 500)):
        fills.append((f"EXO{j:07d}", f"TRX{j:07d}", "", ACTIVE[0], "10", "100.00", "CP1"))
    order_f = rng.permutation(len(fills))
    fills = [fills[i] for i in order_f.tolist()]

    kept = [s == "EXECUTED" for s in status]
    valid = [
        symbols[i] in ACTIVE
        and q_int[i] is not None and q_int[i] > 0
        and p_val[i] is not None and p_val[i] > 0
        for i in range(n)
    ]
    discrepant = [valid[i] and _discrepant(fill_of.get(i), symbols[i], q_int[i], p_val[i]) for i in range(n)]
    total_rows = int(copies.sum())
    n_kept = sum(kept)
    n_valid = sum(1 for i in range(n) if kept[i] and valid[i])
    truth = {
        "processed_trades": total_rows,
        "duplicate_trades": total_rows - n,
        "cancelled_trades": n - n_kept,
        "successful_trades": n_valid,
        "invalid_trades": n_kept - n_valid,
        "discrepancy_trades": sum(1 for i in range(n) if kept[i] and discrepant[i]),
    }
    # streaming dedup only sees rows with an event time: unparseable
    # timestamps bypass it, so every copy of such a trade flows on
    surv = np.where(parseable, 1, copies)
    good = np.array(kept) & np.array(valid)
    bad = np.array(kept) & ~np.array(valid)
    # stream drop files: equal-count runs of the trades in event-time
    # order; the copies of a trade share its timestamp and its file
    slice_of = np.empty(n, dtype=np.int64)
    slice_of[np.argsort(t, kind="stable")] = np.arange(n) * n_slices // n
    stream_truth = {
        "cleaned": np.bincount(slice_of, weights=surv * good, minlength=n_slices).astype(int),
        "exceptions": np.bincount(slice_of, weights=surv * bad, minlength=n_slices).astype(int),
    }
    return TradeSet(trades, slice_of[order], fills, truth, stream_truth)


def _cast_int(s: str) -> int | None:
    if s in ("", "abc"):
        return None
    return int(float(s)) if "." in s else int(s)


def _discrepant(fill, symbol: str, q: int | None, p: float | None) -> bool:
    """rules.reconcile for a valid trade: confirmed and any mismatch."""
    if fill is None:
        return False
    cp_sym, cp_q, cp_p = fill
    if cp_q is None and cp_p is None:
        return False
    return (
        (cp_q is not None and cp_q != q)
        or (cp_p is not None and abs(cp_p - p) > 0.01)
        or cp_sym != symbol
    )


def _write_csv(path: str, header: tuple, rows: list[tuple]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def write_recon_inputs(ts: TradeSet, input_dir: str) -> None:
    """The pipeline's three CSVs."""
    os.makedirs(input_dir, exist_ok=True)
    _write_csv(os.path.join(input_dir, "trades.csv"), TRADES_HEADER, ts.trades)
    write_dims(ts, input_dir)


def write_dims(ts: TradeSet, dims_dir: str) -> None:
    os.makedirs(dims_dir, exist_ok=True)
    _write_csv(os.path.join(dims_dir, "counterparty_fills.csv"), FILLS_HEADER, ts.fills)
    _write_csv(os.path.join(dims_dir, "symbols_reference.csv"), SYMBOLS_ROWS[0], SYMBOLS_ROWS[1:])


def write_stream_drops(ts: TradeSet, drops_dir: str) -> list[str]:
    """One CSV per event-time slice, in slice order."""
    os.makedirs(drops_dir, exist_ok=True)
    paths = []
    for k in range(len(ts.stream_truth["cleaned"])):
        path = os.path.join(drops_dir, f"drop-{k:04d}.csv")
        rows = [r for r, sl in zip(ts.trades, ts.slice_of.tolist()) if sl == k]
        _write_csv(path, TRADES_HEADER, rows)
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# trade ledger (txlog)
# ---------------------------------------------------------------------------


@dataclass
class LedgerBatch:
    """One batch of reconciled trades, its price corrections, and the
    totals each step leaves on the table."""

    rows: dict[str, np.ndarray]  # trade_id symbol quantity cents status batch
    corrections: dict[str, np.ndarray]  # trade_id cents
    cents_delta: int  # what the corrections add to sum(cents)
    cancelled: tuple[int, int, int]  # rows, sum(quantity), sum(cents) after corrections
    live_aapl: int  # AAPL rows left once the cancels are gone


def ledger_batch(seed: int, k: int, rows: int, *, correct_share: float = 0.02) -> LedgerBatch:
    """Batch ``k`` of the ledger; every batch draws from its own stream."""
    rng = np.random.default_rng([seed, k])
    ids = np.arange(k * rows, (k + 1) * rows)
    cols = {
        "trade_id": np.array([f"TRD{i:08d}" for i in ids.tolist()]),
        "symbol": np.array(ACTIVE)[rng.integers(0, len(ACTIVE), rows)],
        "quantity": rng.integers(1, 10_001, rows).astype(np.int32),
        "cents": rng.integers(5_000, 55_000, rows).astype(np.int64),
        "status": np.where(rng.random(rows) < 0.2, "CANCELLED", "EXECUTED"),
        "batch": np.full(rows, k, dtype=np.int32),
    }
    pick = rng.choice(rows, max(1, int(rows * correct_share)), replace=False)
    new = rng.integers(5_000, 55_000, len(pick)).astype(np.int64)
    cents = cols["cents"].copy()
    delta = int(new.sum() - cents[pick].sum())
    cents[pick] = new
    gone = cols["status"] == "CANCELLED"
    return LedgerBatch(
        cols,
        {"trade_id": cols["trade_id"][pick], "cents": new},
        delta,
        (int(gone.sum()), int(cols["quantity"][gone].sum()), int(cents[gone].sum())),
        int(((cols["symbol"] == "AAPL") & ~gone).sum()),
    )


def ledger_table(cols: dict[str, np.ndarray]):
    """pyarrow table with ``price`` as a 2-place double from ``cents``."""
    import pyarrow as pa

    out = {k: v for k, v in cols.items() if k != "cents"}
    if "cents" in cols:
        out["price"] = cols["cents"] / 100.0
    return pa.table(out)


# ---------------------------------------------------------------------------
# clustered embeddings (similarity)
# ---------------------------------------------------------------------------


def make_embeddings(
    seed: int, n: int, dim: int, n_queries: int, *, n_centroids: int = 256
) -> tuple[np.ndarray, np.ndarray]:
    """(corpus, queries) float32 vectors drawn around shared centroids."""
    rng = np.random.default_rng(seed)
    cent = rng.standard_normal((n_centroids, dim)).astype(np.float32)
    corpus = cent[rng.integers(0, n_centroids, n)] + 0.35 * rng.standard_normal((n, dim)).astype(np.float32)
    queries = cent[rng.integers(0, n_centroids, n_queries)] + 0.35 * rng.standard_normal((n_queries, dim)).astype(np.float32)
    return corpus.astype(np.float32), queries.astype(np.float32)


def topk_reference(corpus: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k in numpy: (ids, scores), ties by id."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    sims = c @ q.T
    ids = np.arange(len(c))
    top_ids = np.empty((len(q), k), dtype=np.int64)
    top_sc = np.empty((len(q), k))
    for j in range(len(q)):
        order = np.lexsort((ids, -sims[:, j]))[:k]
        top_ids[j], top_sc[j] = order, sims[order, j]
    return top_ids, top_sc
