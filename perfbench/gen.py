"""Seeded input generators, one per workload.

Every table is a pure function of ``(workload, seed, size)``: the same
arguments give byte-identical parquet files, another seed gives other
rows.  The program under test only ever sees the files.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from opentelemetry_collector_contrib_spark import datagen

# the training-token corpus (curate_pack)
VOCAB = 32_000
DOC_LEN_MEDIAN = 250
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
NEAR_DUP_MUTATE = 0.05
JUNK_SHARE = 0.03            # degenerate docs the quality gate drops
BOILERPLATE_SHARE = 0.10     # docs carrying a shared span (span removal)
PACK_BUDGET = 2048           # shard docs are 1 ... 3 budgets long


def _rng(seed: int, stream: str, *index: int) -> np.random.Generator:
    # one independent stream per (seed, table[, index]) so adding a
    # table never shifts another table's rows
    return np.random.default_rng([seed, zlib.crc32(stream.encode()), *index])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _zipf_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` token ids over a ``VOCAB`` vocabulary with 1/rank
    frequencies (rank 1 = id 1)."""
    p = 1.0 / np.arange(1, VOCAB + 1)
    cdf = np.cumsum(p / p.sum())
    ids = np.searchsorted(cdf, rng.random(n), side="right") + 1
    return np.minimum(ids, VOCAB).astype(np.int32)


def _list_array(docs: list[np.ndarray]) -> pa.ListArray:
    offsets = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum([d.size for d in docs], out=offsets[1:])
    flat = (np.concatenate(docs) if docs else np.zeros(0, np.int32))
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                    pa.array(flat.astype(np.int32)))


# -- logs_increments ---------------------------------------------------

def write_log_increment(table_dir: str, seed: int, cycle: int,
                        n_rows: int) -> str:
    """Append one ``n_rows`` file to a growing tokens table; doc ids
    continue where the previous cycle stopped."""
    rng = _rng(seed, "logs-cycle", cycle)
    toks = datagen.gen_tokens(rng, n_rows, id_offset=cycle * n_rows)
    path = os.path.join(table_dir, f"part-{cycle:05d}.parquet")
    _write(toks, path)
    return path


def write_pods(out_dir: str, seed: int) -> None:
    _write(datagen.gen_pods(_rng(seed, "logs")),
           os.path.join(out_dir, "pods.parquet"))


# -- curate_pack ------------------------------------------------------

def curation_docs(seed: int, n_docs: int) -> pa.Table:
    """Training docs: lognormal lengths around ``DOC_LEN_MEDIAN`` tokens
    drawn from 1/rank frequencies, plus exact duplicates, near
    duplicates (``NEAR_DUP_MUTATE`` of tokens replaced), degenerate junk
    and shared boilerplate spans.  Every share is an exact count, so
    seeds differ in which docs and tokens, not in how many."""
    rng = _rng(seed, "curate")
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_junk = int(n_docs * JUNK_SHARE)
    n_base = n_docs - n_exact - n_near - n_junk
    lens = np.clip(rng.lognormal(np.log(DOC_LEN_MEDIAN), 0.6, n_base),
                   4, PACK_BUDGET).astype(np.int64)
    flat = _zipf_tokens(rng, int(lens.sum()))
    docs = np.split(flat, np.cumsum(lens)[:-1])
    boiler = [_zipf_tokens(rng, int(rng.integers(20, 60)))
              for _ in range(8)]
    for i in rng.choice(n_base, int(n_base * BOILERPLATE_SHARE),
                        replace=False):
        b = boiler[int(rng.integers(len(boiler)))]
        at = int(rng.integers(0, docs[i].size + 1))
        docs[i] = np.concatenate([docs[i][:at], b, docs[i][at:]])
    # each base doc gets at most one copy, so the duplicate clusters (and
    # the connected-components rounds they need) look alike across seeds
    srcs = rng.choice(n_base, n_exact + n_near, replace=False)
    for src in srcs[:n_exact]:
        docs.append(docs[src].copy())
    for src in srcs[n_exact:]:
        d = docs[src].copy()
        hit = rng.random(d.size) < NEAR_DUP_MUTATE
        d[hit] = _zipf_tokens(rng, int(hit.sum()))
        docs.append(d)
    for _ in range(n_junk):
        cycle = _zipf_tokens(rng, int(rng.integers(1, 4)))
        docs.append(np.resize(cycle, int(rng.integers(40, 400))))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    sources = np.array(["web", "code", "books", "papers"])
    return pa.table({
        "doc_id": pa.array([f"doc-{i:08d}" for i in range(len(docs))]),
        "source": pa.array(sources[rng.integers(0, 4, len(docs))]),
        "tokens": _list_array(docs),
        "n_tok": pa.array([d.size for d in docs], pa.int32()),
    })


def write_curation(out_dir: str, seed: int, n_docs: int) -> None:
    _write(curation_docs(seed, n_docs), os.path.join(out_dir, "tokens.parquet"))


def shard_docs(seed: int, n_docs: int) -> pa.Table:
    """An already-curated shard packed beside each curated batch:
    ``doc_id``/``tokens`` only, lengths uniform over 1 ... 3 packing
    budgets, tokens drawn 1/rank."""
    rng = _rng(seed, "shard")
    lens = rng.integers(1, 3 * PACK_BUDGET + 1, n_docs)
    flat = _zipf_tokens(rng, int(lens.sum()))
    return pa.table({
        "doc_id": pa.array([f"shard-{i:08d}" for i in range(n_docs)]),
        "tokens": _list_array(np.split(flat, np.cumsum(lens)[:-1])),
    })


def write_shard(path: str, seed: int, n_docs: int) -> None:
    _write(shard_docs(seed, n_docs), path)
