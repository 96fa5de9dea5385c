"""Seeded input generators, one per workload part.

Every input is derived from the seed and the sf0.1 ``events`` and
``documents`` tables vendored under
``perfbench/data`` (copies of the synthetic test data the suite's
oracle tests read, recompressed). Generation is pure pyarrow/numpy, so
one seed writes byte-identical parquet files, and the program under
test receives only those files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# dedup_scale replication factor (the "k×" of tools/scale_curve.py)
DEDUP_REPLICAS = 2

# the events spool: SPOOL_FILES time-range files, one micro-batch each
SPOOL_FILES = 3


def source(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))


def _mix(ids: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """splitmix64 of (id, seed, salt): a per-row pseudo-random word that
    does not depend on row order."""
    with np.errstate(over="ignore"):
        z = (ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
             + np.uint64((seed * 1_000_003 + salt) & (2**64 - 1)))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(ids: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Per-row uniform [0, 1) draw keyed on id."""
    return (_mix(ids, seed, salt) >> np.uint64(11)).astype(np.float64) / 2.0**53


def drop_share(t: pa.Table, id_col: str, seed: int, share: float,
               salt: int = 0) -> pa.Table:
    ids = t.column(id_col).to_numpy()
    return t.filter(pa.array(_unit(ids, seed, salt) >= share))


def write(t: pa.Table, out_dir: str, name: str) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(t, path, compression="snappy")
    return path


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _perturb_words(text: pa.ChunkedArray, seed: int, replica: int,
                   every: int) -> pa.Array:
    """Prefix every ``every``-th word of each text with one token salted
    per (seed, replica): shingle overlap with the original falls below
    every dedup threshold of the suite, while near-duplicates inside a
    replica stay near-duplicates, so replicas add volume at a constant
    duplicate share (the tools/scale_curve.py rule, with seeded salts)."""
    tag = int(_mix(np.array([replica]), seed, 0x5A)[0] % np.uint64(1 << 32))
    out = []
    for s in text.to_pylist():
        if s is None:
            out.append(None)
            continue
        w = s.split(" ")
        out.append(" ".join(
            f"r{tag:x}{x}" if j % every == every - 1 else x
            for j, x in enumerate(w)))
    return pa.array(out, pa.string())


def _near_dup(text: pa.ChunkedArray, ids: np.ndarray, seed: int,
              salt: int) -> pa.Array:
    """A near-duplicate of each text: one trailing word swapped, so the
    3-shingle Jaccard to the original stays far above 0.7."""
    tags = _mix(ids, seed, salt) % np.uint64(1 << 24)
    out = []
    for s, tag in zip(text.to_pylist(), tags):
        w = (s or "").split(" ")
        w[-1] = f"n{tag:x}"
        out.append(" ".join(w))
    return pa.array(out, pa.string())


# -------------------------------------------------------------------- #
# per-workload inputs
# -------------------------------------------------------------------- #

def floor_queries(seed: int, out_dir: str) -> dict:
    """Documents with a seeded 1% dropped."""
    write(drop_share(source("documents"), "doc_id", seed, 0.01), out_dir,
          "documents")
    return {"replicas": 1}


def dedup_scale(seed: int, out_dir: str) -> dict:
    """Documents (a seeded 1% dropped) replicated ``DEDUP_REPLICAS``×
    with seeded per-replica salts; the planted near-duplicate share of
    the source stays constant."""
    docs = drop_share(source("documents"), "doc_id", seed, 0.01)
    parts = [docs]
    for i in range(1, DEDUP_REPLICAS):
        d = docs.set_column(
            docs.schema.get_field_index("text"), "text",
            _perturb_words(docs.column("text"), seed, i, 4))
        parts.append(d.set_column(
            0, "doc_id", pc.add(d.column("doc_id"), i * 10_000_000)))
    write(pa.concat_tables(parts), out_dir, "documents")
    return {"replicas": DEDUP_REPLICAS}


def index_ingest(seed: int, out_dir: str, n_increments: int) -> dict:
    """Corpus = a seeded 4/5 of documents; increments are seeded slices
    of the held-out 1/5, each with a seeded share of near-duplicates of
    corpus rows planted under fresh ids. Delete sets are seeded corpus
    ids. Returns the plan the workload replays."""
    rng = np.random.default_rng([seed, 0x1D])
    dup_share = float(rng.uniform(0.2, 0.4))
    inc_size = int(rng.integers(40, 61))

    docs = source("documents")
    ids = docs.column("doc_id").to_numpy()
    u = _unit(ids, seed, 1)
    corpus = docs.filter(pa.array(u >= 0.2))
    held = docs.filter(pa.array(u < 0.2))
    # deterministic held-out order: by the draw, then id
    held = held.take(pa.array(
        np.lexsort((held.column("doc_id").to_numpy(), u[u < 0.2]))))
    c_ids = corpus.column("doc_id").to_numpy()
    write(corpus, out_dir, "doc_corpus")
    for j in range(n_increments):
        fresh = held.slice(j * inc_size, inc_size)
        n_dup = int(round(inc_size * dup_share))
        pick = np.sort(np.random.default_rng([seed, 1, j]).choice(
            len(c_ids), n_dup, replace=False))
        src = corpus.take(pa.array(pick))
        dup = src.set_column(0, "doc_id", pa.array(
            c_ids[pick] + 50_000_000 + j * 1_000_000, pa.int64()))
        dup = dup.set_column(
            dup.schema.get_field_index("text"), "text",
            _near_dup(src.column("text"), c_ids[pick], seed, j))
        write(pa.concat_tables([fresh, dup]), out_dir, f"doc_inc{j}")
    # deletes: a seeded handful of corpus ids per delete round
    dels = np.random.default_rng([seed, 0xD1]).choice(
        c_ids, 3 * n_increments, replace=False)
    return {
        "dup_share": round(dup_share, 4),
        "increment_size": inc_size,
        "deletes": sorted(int(x) for x in dels),
    }


def stream_drain(seed: int, out_dir: str, events_share: float) -> dict:
    """The events spool: a seeded contiguous slice of ``events_share``
    of the events table (by event id), split into ``SPOOL_FILES``
    time-range files whose mtimes ascend with event time, so the file
    source replays them in order."""
    rng = np.random.default_rng([seed, 0x5D])
    ev = source("events")
    n = ev.num_rows
    width = int(n * events_share)
    start = int(rng.integers(0, n - width))
    ev = ev.sort_by("event_id").slice(start, width)
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts",
                       ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
    spool = os.path.join(out_dir, "events_spool")
    os.makedirs(spool)
    step = -(-ev.num_rows // SPOOL_FILES)
    for i in range(SPOOL_FILES):
        path = write(ev.slice(i * step, step), spool, f"part-{i:05d}")
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
    return {"events_window": [start, start + width]}
