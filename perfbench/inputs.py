"""Seeded input generation: numpy draws written straight to parquet
with pyarrow. The same seed gives byte-identical files; the program
under test only ever reads them.

Text is lowercase words joined by single spaces, so the library's
fingerprint normalisation (trim, lowercase, collapse whitespace) is
the identity on it and two documents are exact duplicates exactly when
their strings are equal.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 4000
#: token that makes the benchmark's Python mapper raise
POISON = "boom"


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    ranks = np.minimum(rng.zipf(1.25, int(lens.sum())), VOCAB) - 1
    words = np.char.add("w", ranks.astype(str))
    out, i = [], 0
    for n_w in lens:
        out.append(" ".join(words[i : i + n_w]))
        i += n_w
    return out


def _write(path: str, cols: dict) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


# ----------------------------------------------------------------- pipelines

PIPE_RECORDS = 20_000
PIPE_KEYS = 1000
PIPE_FILES = 2


def gen_pipelines(seed: int, out_dir: str) -> dict:
    """~20k zipf-text records in 2 parquet files; ~1% carry the poison
    token. Returns the records as columns (the oracle's input)."""
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(PIPE_RECORDS, dtype=np.int64)
    keys = rng.integers(0, PIPE_KEYS, PIPE_RECORDS).astype(np.int64)
    texts = _words(rng, PIPE_RECORDS, 3, 20)
    poison = rng.random(PIPE_RECORDS) < 0.01
    for i in np.flatnonzero(poison):
        texts[i] = f"{texts[i]} {POISON}"
    per = PIPE_RECORDS // PIPE_FILES
    for f in range(PIPE_FILES):
        s = slice(f * per, (f + 1) * per)
        _write(
            os.path.join(out_dir, "records", f"part-{f}.parquet"),
            {"id": ids[s], "key": keys[s], "text": texts[s]},
        )
    return {"id": ids, "key": keys, "text": texts, "poison": poison}


# ------------------------------------------------------------------- ingest

INGEST_DOCS = 400  # per fresh batch
INGEST_DUP_SHARE = 0.2
INGEST_ORDERS = 150  # per fresh batch
INGEST_PERIOD = 4  # cycle k re-delivers cycle k-1 when k % 4 == 2, and
INGEST_REPLAY = 2  # runs maintenance (victims file) when k % 4 == 3
INGEST_VICTIMS = 50


def gen_ingest(seed: int, out_dir: str, cycles: int) -> list[dict]:
    """``cycles`` ingest cycles. A fresh cycle writes one docs batch
    (~20% exact duplicates of earlier texts), one orders and one lines
    CDC delta (inserts of this cycle's orders, deletes of earlier lines
    and orders). A replay cycle points at the previous cycle's files.
    Every INGEST_PERIOD-th cycle also names a victims file. Returns per
    cycle the file paths and the rows written (the oracle's input)."""
    rng = np.random.default_rng([seed, 2])
    next_id = 0
    texts_so_far: list[str] = []
    live_orders: list[tuple] = []  # (doc_id, custkey, status) inserted
    live_lines: list[tuple] = []  # (doc_id, linenumber, price)
    pending_lines: list[tuple] = []  # lines arriving one cycle late
    plan: list[dict] = []
    for k in range(cycles):
        if k % INGEST_PERIOD == INGEST_REPLAY:
            plan.append({**plan[-1], "replay": True, "victims": None, "victim_ids": None})
            continue
        tag = f"c{k}"
        ids = np.arange(next_id, next_id + INGEST_DOCS, dtype=np.int64)
        next_id += INGEST_DOCS
        texts = _words(rng, INGEST_DOCS, 4, 24)
        n_dup = int(INGEST_DOCS * INGEST_DUP_SHARE)
        pool = texts_so_far + texts[n_dup:]
        for i, j in enumerate(rng.integers(0, len(pool), n_dup)):
            texts[i] = pool[j]
        order = rng.permutation(INGEST_DOCS)
        ids_w, texts_w = ids, [texts[i] for i in order]
        texts_so_far.extend(texts_w)
        docs = os.path.join(out_dir, tag, "docs.parquet")
        nbytes = _write(docs, {"doc_id": ids_w, "text": texts_w})

        o_ids = ids[:INGEST_ORDERS]
        cust = rng.integers(0, 97, INGEST_ORDERS).astype(np.int64)
        status = np.where(rng.random(INGEST_ORDERS) < 0.5, "O", "F")
        new_orders = list(zip(o_ids.tolist(), cust.tolist(), status.tolist()))
        nl = rng.integers(1, 5, INGEST_ORDERS)
        lines_now, lines_late = [], []
        for (oid, _, _), n_l in zip(new_orders, nl):
            for ln in range(1, int(n_l) + 1):
                row = (oid, ln, round(float(rng.integers(100, 100000)) / 100, 2))
                (lines_late if ln % 2 == 0 else lines_now).append(row)
        del_lines, del_orders = [], []
        if live_lines:
            pick = rng.choice(len(live_lines), max(1, len(live_lines) // 20), replace=False)
            del_lines = [live_lines[i] for i in sorted(pick)]
        if live_orders:
            pick = rng.choice(len(live_orders), 3, replace=False)
            del_orders = [live_orders[i] for i in sorted(pick)]
        ins_lines = lines_now + pending_lines
        pending_lines = lines_late
        left = [(*o, 1) for o in new_orders] + [(*o, -1) for o in del_orders]
        right = [(*l, 1) for l in ins_lines] + [(*l, -1) for l in del_lines]
        dl = set(del_lines)
        do = set(del_orders)
        live_lines = [l for l in live_lines if l not in dl] + ins_lines
        live_orders = [o for o in live_orders if o not in do] + new_orders
        orders = os.path.join(out_dir, tag, "orders.parquet")
        lines = os.path.join(out_dir, tag, "lines.parquet")
        nbytes += _write(
            orders,
            {
                "doc_id": pa.array([x[0] for x in left], pa.int64()),
                "custkey": pa.array([x[1] for x in left], pa.int64()),
                "status": pa.array([x[2] for x in left], pa.string()),
                "m": pa.array([x[3] for x in left], pa.int64()),
            },
        )
        nbytes += _write(
            lines,
            {
                "doc_id": pa.array([x[0] for x in right], pa.int64()),
                "linenumber": pa.array([x[1] for x in right], pa.int64()),
                "price": pa.array([x[2] for x in right], pa.float64()),
                "m": pa.array([x[3] for x in right], pa.int64()),
            },
        )
        victims = None
        if k % INGEST_PERIOD == INGEST_PERIOD - 1:
            vic = np.sort(rng.choice(next_id, INGEST_VICTIMS, replace=False)).astype(np.int64)
            victims = os.path.join(out_dir, tag, "victims.parquet")
            _write(victims, {"doc_id": vic})
        plan.append(
            {
                "tag": tag,
                "replay": False,
                "docs": docs,
                "orders": orders,
                "lines": lines,
                "victims": victims,
                "bytes": nbytes,
                "doc_rows": list(zip(ids_w.tolist(), texts_w)),
                "left_rows": left,
                "right_rows": right,
                "victim_ids": None if victims is None else vic.tolist(),
            }
        )
    return plan
