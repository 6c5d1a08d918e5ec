"""Seeded inputs and their exact oracles.

Every input is a pure function of the seed and is cached under the
checkout's ``.perfbench/cache/`` directory, completed by a ``_DONE`` marker so
a half-written directory is never reused. Cached inputs are never mutated:
runs that append (the refresh workload) link the cached files into a per-run
directory.

Sequences rows come from ``sketchlib.data.gen.gen_chunk`` with an explicit
``start``: a pool of chunks is written once per checkout, and each seed
draws its tables and its deltas from different chunks, so doc ids never
repeat between a table and a delta. The oracle reads the parquet back with
pyarrow and computes exact answers with numpy; it shares no code with the
sketches.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sketchlib.data.gen import SOURCES, VOCAB, gen_chunk

POOL_CHUNKS = 64  # the row pool every seed draws its tables from
CHUNK_ROWS = 2_000  # one chunk = one file per source, rows [c*CHUNK_ROWS, (c+1)*CHUNK_ROWS)
POOL_SEED = 42
CORPUS_CHUNKS = 24  # build-corpus: ~48k rows, ~29M tokens
SERVE_CHUNKS = 4  # serve-states, append-refresh base and the probes
ROW_GROUP = 512


def _done(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_DONE"))


def _finish(d: str) -> str:
    with open(os.path.join(d, "_DONE"), "w"):
        pass
    return d


def write_pool(pool_dir: str) -> str:
    """The row pool: ``POOL_CHUNKS`` chunks of sequences rows, written once
    per checkout through ``gen_chunk(start=...)``, so each chunk holds its own
    range of row indexes and therefore of doc ids."""
    if _done(pool_dir):
        return pool_dir
    shutil.rmtree(pool_dir, ignore_errors=True)
    for c in range(POOL_CHUNKS):
        doc_id, flat, offsets, n_tok, source = gen_chunk(c * CHUNK_ROWS, CHUNK_ROWS, POOL_SEED)
        tokens = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()), pa.array(flat, type=pa.int32())
        )
        for sv in SOURCES:
            idx = np.nonzero(source == sv)[0]
            tbl = pa.table(
                {
                    "doc_id": pa.array(doc_id[idx]),
                    "tokens": tokens.take(pa.array(idx)),
                    "n_tok": pa.array(n_tok[idx], type=pa.int32()),
                }
            )
            pdir = os.path.join(pool_dir, f"source={sv}")
            os.makedirs(pdir, exist_ok=True)
            pq.write_table(tbl, os.path.join(pdir, f"part-c{c:04d}.parquet"), row_group_size=ROW_GROUP)
    return _finish(pool_dir)


def link_chunks(pool_dir: str, chunks, out_dir: str) -> str:
    """A table made of pool chunks: a directory of symlinks to their files."""
    for sv in SOURCES:
        pdir = os.path.join(out_dir, f"source={sv}")
        os.makedirs(pdir, exist_ok=True)
        for c in chunks:
            name = f"part-c{c:04d}.parquet"
            os.symlink(os.path.abspath(os.path.join(pool_dir, f"source={sv}", name)),
                       os.path.join(pdir, name))
    return out_dir


class SeedInputs:
    """The seed's tables, drawn from the pool, and its lineitem table.

    The seed picks which pool chunks make each table and in which order the
    deltas of the refresh workload arrive. Tables are directories of
    symlinks; nothing cached is ever modified."""

    def __init__(self, cache_root: str, seed: int):
        self.seed = seed
        self.pool = write_pool(os.path.join(cache_root, "pool"))
        self.root = os.path.join(cache_root, f"s{seed}")
        os.makedirs(self.root, exist_ok=True)
        order = list(range(POOL_CHUNKS))
        random.Random(seed).shuffle(order)
        self.corpus_chunks = sorted(order[:CORPUS_CHUNKS])
        self.serve_chunks = sorted(order[:SERVE_CHUNKS])
        # the union side shares half its chunks with the served table
        half = SERVE_CHUNKS // 2
        self.union_chunks = sorted(order[half:half + SERVE_CHUNKS])
        self.delta_chunks = order[SERVE_CHUNKS:]

    def table(self, name: str, chunks) -> str:
        d = os.path.join(self.root, name)
        if not _done(d):
            shutil.rmtree(d, ignore_errors=True)
            _finish(link_chunks(self.pool, chunks, d))
        return d

    def corpus(self) -> str:
        return self.table("corpus", self.corpus_chunks)

    def serve_table(self) -> str:
        return self.table("serve", self.serve_chunks)

    def union_table(self) -> str:
        return self.table("union_b", self.union_chunks)

    def small_table(self) -> str:
        """One chunk, for the DataFrame-build probe."""
        return self.table("small", self.serve_chunks[:1])

    def delta_files(self, i: int) -> dict[str, str]:
        """Delta ``i`` of the refresh workload: one pool chunk the base does
        not hold, as {relative path in the table: pool file}."""
        c = self.delta_chunks[i]
        name = f"part-c{c:04d}.parquet"
        return {os.path.join(f"source={sv}", name): os.path.join(self.pool, f"source={sv}", name)
                for sv in SOURCES}

    def lineitem(self) -> str:
        """The table of the on-the-fly probe statement, one parquet file."""
        path = os.path.join(self.root, "lineitem.parquet")
        if not os.path.exists(path):
            tmp = path + f".tmp{os.getpid()}"
            pq.write_table(lineitem_table(self.seed), tmp, row_group_size=32_768)
            os.replace(tmp, path)
        return path


# --- exact oracle over sequences tables ----------------------------------


class SourceTruth:
    """Exact per-source statistics of a set of sequences rows."""

    def __init__(self):
        self.doc_ids: list[np.ndarray] = []
        self.tok_counts = np.zeros(VOCAB + 1, dtype=np.int64)
        self.n_tok: list[np.ndarray] = []
        self._docs = self._sorted = None

    def add(self, doc_ids: np.ndarray, flat_tokens: np.ndarray, n_tok: np.ndarray) -> None:
        self.doc_ids.append(doc_ids)
        self.tok_counts += np.bincount(flat_tokens, minlength=VOCAB + 1)
        self.n_tok.append(n_tok)
        self._docs = self._sorted = None

    @property
    def distinct_docs(self) -> int:
        if self._docs is None:
            self._docs = int(len(np.unique(np.concatenate(self.doc_ids))))
        return self._docs

    @property
    def distinct_tokens(self) -> int:
        return int(np.count_nonzero(self.tok_counts))

    @property
    def sorted_ntok(self) -> np.ndarray:
        if self._sorted is None:
            self._sorted = np.sort(np.concatenate(self.n_tok))
        return self._sorted

    def rank_interval(self, value: float) -> tuple[float, float]:
        """Fractions of rows < value and <= value."""
        s = self.sorted_ntok
        return (
            np.searchsorted(s, value, side="left") / len(s),
            np.searchsorted(s, value, side="right") / len(s),
        )


class Truth:
    """Exact answers for the sequences tables read so far, keyed by source."""

    def __init__(self):
        self.by_source: dict[str, SourceTruth] = {}

    def add_dir(self, table_dir: str) -> "Truth":
        for sv in sorted(os.listdir(table_dir)):
            if not sv.startswith("source="):
                continue
            src = sv.split("=", 1)[1]
            pdir = os.path.join(table_dir, sv)
            for f in sorted(os.listdir(pdir)):
                self.add_file(src, os.path.join(pdir, f))
        return self

    def add_file(self, src: str, path: str) -> "Truth":
        t = pq.read_table(path, columns=["doc_id", "tokens", "n_tok"])
        self.by_source.setdefault(src, SourceTruth()).add(
            t.column("doc_id").to_numpy(zero_copy_only=False),
            t.column("tokens").combine_chunks().flatten().to_numpy(),
            t.column("n_tok").to_numpy(),
        )
        return self

    def all_doc_ids(self) -> np.ndarray:
        return np.unique(np.concatenate([d for st in self.by_source.values() for d in st.doc_ids]))


# --- the on-the-fly probe's table (TPC-H-like lineitem) --------------------

LINEITEM_ROWS = 240_000


def lineitem_table(seed: int) -> pa.Table:
    rng = np.random.default_rng(random.Random(seed).getrandbits(64))
    n = LINEITEM_ROWS
    p = np.arange(1, 20_001, dtype=np.float64) ** -0.8  # Zipf-like part popularity
    partkey = np.searchsorted(np.cumsum(p) / p.sum(), rng.random(n), side="right") + 1
    return pa.table(
        {
            "l_partkey": partkey.astype(np.int64),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        }
    )
