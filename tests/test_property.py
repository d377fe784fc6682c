"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5 notes it has none).  Each property drives a batch
of generated inputs through the Spark operator in ONE job and checks
against a pure-Python twin."""

import re
import string

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.datapipe.dedup import _norm_words_py
from opentelemetry_collector_contrib_spark.functions.severity import (
    convert_severity_level)
from opentelemetry_collector_contrib_spark.functions.tokens import decode_batch
from opentelemetry_collector_contrib_spark.operators.statsd import parse_statsd

# hypothesis drives pure-Python twins; the Spark parity for each twin
# is asserted once per suite in the *_spark_matches tests below (a
# hypothesis-per-Spark-job would cost minutes per example).

printable = st.text(alphabet=string.printable.replace("\r", ""), max_size=80)


@given(st.integers(min_value=-1000, max_value=1000))
def test_severity_level_total_function(level):
    text, num = convert_severity_level(level)
    assert text in {"Trace", "Debug", "Info", "Error", "Fatal", "Undefined"}
    assert 0 <= num <= 24
    if level <= 0:
        assert (text, num) == ("Undefined", 0)


@given(st.lists(printable, max_size=20))
def test_decode_batch_roundtrip(texts):
    """encode -> decode_batch is the identity (both decode paths)."""
    import pandas as pd
    ascii_texts = [t.encode("ascii", "ignore").decode() for t in texts]
    toks = pd.Series([[ord(c) for c in t] for t in ascii_texts])
    assert list(decode_batch(toks)) == ascii_texts


@given(printable)
def test_norm_words_properties(text):
    w = _norm_words_py(text)
    assert all(re.fullmatch(r"[a-z0-9]+", x) for x in w)
    # idempotent under re-normalization
    assert _norm_words_py(" ".join(w)) == w


def _py_statsd(line):
    """Pure-Python twin of parse_statsd's extraction."""
    m_name = re.search(r"^([^:]+):", line)
    m_raw = re.search(r"^[^:]+:([^|]+)\|", line)
    m_type = re.search(r"\|(c|g|ms|h|s)(\||$)", line)
    m_rate = re.search(r"\|@([0-9.]+)", line)
    try:
        raw = float(m_raw.group(1)) if m_raw else None
    except ValueError:
        raw = None
    rate = float(m_rate.group(1)) if m_rate else 1.0
    mtype = m_type.group(1) if m_type else ""
    value = (raw / rate if mtype == "c" else raw) if raw is not None else None
    return (m_name.group(1) if m_name else "", mtype, value)


statsd_lines = st.builds(
    lambda name, val, mtype, rate, tagged:
        f"{name}:{val}|{mtype}" + (f"|@{rate}" if rate else "")
        + ("|#env:prod" if tagged else ""),
    name=st.text(alphabet=string.ascii_lowercase + "_", min_size=1, max_size=12),
    val=st.integers(min_value=-999, max_value=9999),
    mtype=st.sampled_from(["c", "g", "ms", "h", "s"]),
    rate=st.sampled_from([None, 0.5, 0.1, 1.0]),
    tagged=st.booleans())


def test_statsd_spark_matches_python_twin(spark):
    """200 generated statsd lines through Spark == the Python twin."""
    lines = [statsd_lines.example() for _ in range(200)]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    got = {r["line"]: (r["name"], r["metric_type"], r["value"])
           for r in parse_statsd(df).collect()}
    for l in set(lines):
        assert got[l] == _py_statsd(l), l


def test_carbon_malformed_flagged_not_dropped(spark):
    from opentelemetry_collector_contrib_spark.operators.carbon import (
        parse_plaintext)
    df = spark.createDataFrame(
        [("cpu.usage 1.5 100",), ("garbage",), ("name notanumber 100",)],
        "line string")
    out = parse_plaintext(df)
    assert out.count() == 3                      # kept
    got = {r["line"]: r["valid"] for r in out.collect()}
    assert got["cpu.usage 1.5 100"] is True
    assert got["garbage"] is False
    assert got["name notanumber 100"] is False


def test_statsd_malformed_flagged(spark):
    df = spark.createDataFrame([("ok:1|c",), ("nonsense",)], "line string")
    got = {r["line"]: r["valid"] for r in parse_statsd(df).collect()}
    assert got["ok:1|c"] is True
    assert got["nonsense"] is False


# -- packing invariants (datapipe/curation.py) -------------------------------

def _pack_py(items, budget):
    """Pure-Python twin of pack_chunks within one group: concat-and-
    split layout over id-sorted docs."""
    out, cum = {}, 0
    for doc_id, n in sorted(items):
        first = cum // budget
        last = (cum + max(n - 1, 0)) // budget
        out[doc_id] = (first, last, cum % budget)
        cum += n
    return out


def test_pack_chunks_spark_matches_python_twin(spark):
    import random
    rng = random.Random(7)
    items = [(f"d{i:04d}", rng.randrange(0, 3000)) for i in range(200)]
    from opentelemetry_collector_contrib_spark.datapipe.curation import (
        pack_chunks)
    df = spark.createDataFrame(items, "doc_id string, n_tok long")
    got = {r.doc_id: (r.first_chunk, r.last_chunk, r.chunk_offset)
           for r in pack_chunks(df, budget=777, n_groups=1).collect()}
    assert got == _pack_py(items, 777)


def _pack_grp_py(doc_id, n_groups):
    """Twin of curation._pack_grp: md5's first 32 bits mod n_groups."""
    import hashlib
    return int(hashlib.md5(doc_id.encode()).hexdigest()[:8], 16) % n_groups


def _pack_tokens_py(docs, budget, n_groups):
    """Pure-Python twin of pack_tokens: per md5 group, concat the
    id-sorted docs' tokens and cut budget-token windows; each window
    lists the (doc_id, start, len) span of every doc it holds."""
    groups = {}
    for doc_id, toks in docs:
        groups.setdefault(_pack_grp_py(doc_id, n_groups), []).append(
            (doc_id, toks or []))
    out = []
    for g, items in groups.items():
        chunks, pos = {}, 0
        for doc_id, toks in sorted(items, key=lambda d: d[0]):
            for i, t in enumerate(toks):
                c, off = divmod(pos + i, budget)
                packed, spans = chunks.setdefault(c, ([], []))
                if i == 0 or off == 0:
                    spans.append([doc_id, off, 0])
                packed.append(t)
                spans[-1][2] += 1
            pos += len(toks)
        out += [(g, c, len(spans), packed, [tuple(s) for s in spans],
                 len(packed)) for c, (packed, spans) in chunks.items()]
    return sorted(out)


def test_pack_tokens_edge_cases_match_python_twin(spark):
    """NULL/empty arrays, lengths 1, B-1, B, B+1 and 3B in two md5
    groups, with docs that start exactly on a chunk boundary — the
    multi-chunk slicing path the synthetic tables never reach."""
    from opentelemetry_collector_contrib_spark.datapipe.curation import (
        pack_tokens)
    B, n_groups = 8, 2
    lengths = {0: [B, 3 * B, 1, None, B - 1, 0, B + 1, 1],
               1: [1, None, B - 1, 1, 3 * B, 0, B, B + 1]}
    docs = []
    for g, lens in lengths.items():
        for k, n in enumerate(lens):
            salt = 0         # pick an id that lands in group g
            while _pack_grp_py(doc_id := f"g{g}_{k:02d}_{salt}",
                               n_groups) != g:
                salt += 1
            base = 1000 * len(docs)
            docs.append((doc_id, None if n is None
                         else list(range(base, base + n))))
    out = pack_tokens(spark.createDataFrame(
        docs, "doc_id string, tokens array<int>"), budget=B,
        n_groups=n_groups)
    dtypes = dict(out.dtypes)
    assert dtypes["chunk"] == "bigint"
    assert dtypes["tokens"] == "array<int>"
    assert dtypes["spans"] == \
        "array<struct<doc_id:string,start:int,len:int>>"
    got = sorted((r.grp, r.chunk, r.n_docs, r.tokens,
                  [tuple(s) for s in r.spans], r.n_tok)
                 for r in out.collect())
    want = _pack_tokens_py(docs, B, n_groups)
    assert got == want
    # the fixture really covers both groups, a doc spanning 4 chunks
    # and a non-first doc starting on a boundary (chunk_offset 0)
    assert {r[0] for r in want} == {0, 1}
    assert max(sum(s[0] == d for r in want for s in r[4])
               for d, _ in docs) == 4
    assert any(r[1] > 0 and r[4][0][1] == 0 and r[3][0] % 1000 == 0
               for r in want)
