"""Seeded input generators for the benchmark workloads.

Inputs are built with NumPy + PyArrow on the driver and staged as
parquet, so the engine receives only files.  The same ``seed`` always
yields the same rows, in the same order inside each file.

Whole-row feeds follow the law of the engine's own generator,
``horizon_etl_spark.cdc.generator.change_feed``: bounded-Zipf keys, the
first event of a key is an insert, later events are 10% deletes and 90%
updates, ``n_tok == size(tokens)``, a per-key source, ``ts = EPOCH +
lsn``, and 2% of each batch re-delivered verbatim in the next batch.
They are not staged with ``change_feed`` itself because of its cost: its
token arrays come from an interpreted higher-order function.  Staged
with it, the bulk feed took 13.6-18.3 s per run (10.6 s in a warm JVM)
against about 3 s here, and a bulk run took about 6 s longer net, which
the run budget has no room for (DESIGN.md, "Budget").  The snapshot and
the per-attribute trickle batches have no engine generator at all.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("books", "code", "crawl", "wiki")  # cdc.schema.SOURCE_WHITELIST
EPOCH = 1_700_000_000
VOCAB = 50_257
MIN_LEN = 8  # shortest token array
ZIPF_S = 1.2  # key skew of change_feed's default
DELETE_FRAC = 0.10  # share of non-first events of a key that are deletes
DUP_FRAC = 0.02  # share of a batch re-delivered in the next batch
STAGED_MTIME = 1.6e9  # mtime of the first staged feed file
PAYLOAD = ("tokens", "n_tok", "source")

_TS = pa.timestamp("us", tz="UTC")
FEED_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("doc_id", pa.string()),
        ("lsn", pa.int64()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("ts", _TS),
    ]
)
ATTR_FEED_SCHEMA = FEED_SCHEMA.append(pa.field("fields", pa.list_(pa.string())))
SNAPSHOT_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
     ("n_tok", pa.int32()), ("source", pa.string())]
)


def doc_ids(ranks: np.ndarray) -> pa.Array:
    return pa.array([f"doc-{int(r):012d}" for r in ranks], pa.string())


def zipf_ranks(rng: np.random.Generator, n: int, num_keys: int) -> np.ndarray:
    """Bounded-Pareto inverse CDF on [1, num_keys] — change_feed's key law."""
    u = rng.random(n)
    r = np.floor((1.0 + u * (num_keys ** (1.0 - ZIPF_S) - 1.0)) ** (1.0 / (1.0 - ZIPF_S)))
    return np.clip(r, 1, num_keys).astype(np.int64)


def token_arrays(
    rng: np.random.Generator, n: int, max_len: int, null_mask: np.ndarray | None = None
) -> tuple[pa.Array, np.ndarray]:
    """``n`` random token arrays with lengths uniform on [MIN_LEN, max_len];
    rows under ``null_mask`` are null with a null ``n_tok``."""
    lens = rng.integers(MIN_LEN, max_len + 1, size=n).astype(np.int32)
    if null_mask is not None:
        lens[null_mask] = 0
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    mask = pa.array(null_mask) if null_mask is not None else None
    arr = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values), mask=mask)
    return arr.cast(pa.list_(pa.int32())), lens


def _ts(lsn: np.ndarray) -> pa.Array:
    return pa.array((EPOCH + lsn) * 1_000_000, pa.int64()).cast(_TS)


def whole_row_batches(
    seed: int, num_batches: int, batch_events: int, num_keys: int, max_len: int
) -> list[pa.Table]:
    """``num_batches`` whole-row CDC batches (lsn-range split, plus
    ``DUP_FRAC`` of each batch re-delivered in the next one)."""
    rng = np.random.default_rng([seed, 1])
    n = num_batches * batch_events
    lsn = np.arange(n, dtype=np.int64)
    ranks = zipf_ranks(rng, n, num_keys)
    first = np.zeros(n, dtype=bool)
    first[np.unique(ranks, return_index=True)[1]] = True
    is_del = ~first & (rng.random(n) < DELETE_FRAC)
    op = np.where(first, "insert", np.where(is_del, "delete", "update"))
    tokens, lens = token_arrays(rng, n, max_len, null_mask=is_del)
    key_source = rng.integers(0, len(SOURCES), size=num_keys + 1)
    table = pa.table(
        {
            "op": pa.array(op, pa.string()),
            "doc_id": doc_ids(ranks),
            "lsn": pa.array(lsn),
            "tokens": tokens,
            "n_tok": pa.array(lens, pa.int32(), mask=is_del),
            "source": pa.array(np.asarray(SOURCES)[key_source[ranks]], pa.string()),
            "ts": _ts(lsn),
        },
        schema=FEED_SCHEMA,
    )
    batch = lsn // batch_events
    dup = rng.random(n) < DUP_FRAC
    out = []
    for b in range(num_batches):
        own = np.flatnonzero(batch == b)
        redelivered = np.flatnonzero((batch == b - 1) & dup) if b else np.empty(0, np.int64)
        idx = np.concatenate([own, redelivered])
        out.append(table.take(pa.array(rng.permutation(idx))))
    return out


def snapshot_table(seed: int, num_docs: int, key_stride: int, max_len: int) -> pa.Table:
    """A key-unique table snapshot: docs ``key_stride * i`` for i < num_docs
    (the gaps leave room for inserts of absent keys)."""
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(num_docs, dtype=np.int64) * key_stride
    tokens, lens = token_arrays(rng, num_docs, max_len)
    return pa.table(
        {
            "doc_id": doc_ids(ranks),
            "tokens": tokens,
            "n_tok": pa.array(lens, pa.int32()),
            "source": pa.array(np.asarray(SOURCES)[rng.integers(0, len(SOURCES), num_docs)], pa.string()),
        },
        schema=SNAPSHOT_SCHEMA,
    )


def trickle_batches(
    seed: int,
    num_batches: int,
    batch_events: int,
    num_docs: int,
    key_stride: int,
    first_lsn: int,
    max_len: int,
) -> list[pa.Table]:
    """Small per-attribute batches against a snapshot of ``num_docs`` keys
    spread over the whole key range: about 2/3 partial updates of present
    keys, 1/6 inserts of absent keys, 1/10 deletes and the rest stale
    redeliveries of the previous batch's events."""
    rng = np.random.default_rng([seed, 3])
    out: list[pa.Table] = []
    lsn = first_lsn
    prev: pa.Table | None = None
    for _ in range(num_batches):
        kind = rng.choice(4, size=batch_events, p=[0.66, 0.16, 0.10, 0.08])
        kind = kind[kind < 3] if prev is None else kind
        fresh = kind < 3
        n = int(fresh.sum())
        present = rng.integers(0, num_docs, size=n) * key_stride
        absent = present + 1 + rng.integers(0, key_stride - 1, size=n)
        k = kind[fresh]
        ranks = np.where(k == 1, absent, present)
        lsns = lsn + np.arange(n, dtype=np.int64)
        lsn += n
        is_del = k == 2
        tokens, lens = token_arrays(rng, n, max_len, null_mask=is_del)
        op = np.where(k == 1, "insert", np.where(is_del, "delete", "update"))
        cols = {
            "op": pa.array(op, pa.string()),
            "doc_id": doc_ids(ranks),
            "lsn": pa.array(lsns),
            "tokens": tokens,
            "n_tok": pa.array(lens, pa.int32(), mask=is_del),
            "source": pa.array(np.asarray(SOURCES)[rng.integers(0, len(SOURCES), n)], pa.string()),
            "ts": _ts(lsns),
        }
        # partial updates assert either the source or the token pair
        # (n_tok travels with tokens so the n_tok rule stays checkable)
        part = rng.integers(0, 2, size=n)
        cols["fields"] = pa.array(
            [(["source"] if p == 0 else ["tokens", "n_tok"]) if kk == 0 else None for kk, p in zip(k, part)],
            pa.list_(pa.string()),
        )
        t = pa.table(cols, schema=ATTR_FEED_SCHEMA)
        stale = int((kind == 3).sum())
        if stale:
            t = pa.concat_tables([t, prev.take(pa.array(rng.choice(prev.num_rows, stale, replace=False)))])
        out.append(t)
        prev = t
    return out


def write_files(tables: list[pa.Table], out_dir: str) -> list[str]:
    """One parquet file per table; mtimes increase with the index so a
    file-source stream picks them up in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, t in enumerate(tables):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(t, p)
        os.utime(p, (STAGED_MTIME + i, STAGED_MTIME + i))
        paths.append(p)
    return paths
