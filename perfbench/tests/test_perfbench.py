"""Self-tests of the benchmark: seeded inputs, output checks, span
arithmetic, the process probe and the metric declarations.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
(no Spark session needed).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, layers, oracle, probe, run, trace
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _tables(tmp_path, seed: int) -> dict[str, str]:
    d = tmp_path / f"s{seed}"
    gen.write_pods(str(d / "logs"), seed)
    gen.write_log_increment(str(d / "logs"), seed, 3, 200)
    gen.write_curation(str(d / "cur"), seed, 300)
    gen.write_shard(str(d / "cur" / "shard.parquet"), seed, 40)
    return {os.path.relpath(os.path.join(r, f), d): _sha(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs}


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = (_tables(tmp_path / x, s) for x, s in
               (("a", 7), ("b", 7), ("c", 8)))
    assert a == b
    assert set(a) == set(c)
    assert all(a[k] != c[k] for k in a)


def test_every_cycle_gets_its_own_rows(tmp_path):
    tokens = [pq.read_table(gen.write_log_increment(str(tmp_path), 1, c, 50))
              .column("tokens").to_pylist() for c in (12, 21)]
    assert tokens[0] != tokens[1]


def test_curation_corpus_shape():
    t = gen.curation_docs(5, 2000).to_pydict()
    lens = [len(x) for x in t["tokens"]]
    digests = [hashlib.md5(bytes(str(x), "ascii")).hexdigest()
               for x in t["tokens"]]
    exact = len(digests) - len(set(digests))
    assert 0.04 * 2000 <= exact <= 0.06 * 2000
    assert max(lens) <= gen.PACK_BUDGET
    assert len(set(t["doc_id"])) == 2000
    shard = [len(x) for x in gen.shard_docs(5, 500).column("tokens")
             .to_pylist()]
    assert min(shard) >= 1 and max(shard) <= 3 * gen.PACK_BUDGET
    assert max(shard) > 2 * gen.PACK_BUDGET


# -- verification catches a single flipped token ------------------------

def _flip_first_token(path: str) -> None:
    t = pq.read_table(path)
    toks = t.column("tokens").to_pylist()
    toks[0] = [toks[0][0] + 1] + toks[0][1:]
    i = t.schema.get_field_index("tokens")
    pq.write_table(t.set_column(i, t.schema.field(i),
                                pa.array(toks, t.schema.field(i).type)), path)


def test_log_sink_check_catches_one_flipped_token(tmp_path):
    src = tmp_path / "in"
    gen.write_pods(str(src), 3)
    os.replace(gen.write_log_increment(str(src), 3, 0, 400),
               str(src / "tokens.parquet"))
    con = oracle.connect(str(tmp_path / "duck"))
    expected = oracle.log_sinks_expected(con, str(src))
    # a correct output: the gate oracle's own routed rows, one dir per sink
    import __spark_entry__ as entry
    with oracle._gate_oracle_dir(str(src)):
        rows = (f"{entry._decoded_cte()}, {entry._pods_cte()} "
                f"SELECT *, unnest({entry._ROUTE_CASE}) AS sink FROM enriched")
        dirs = {}
        for sink in expected:
            d = tmp_path / "out" / sink / "cycle=x"
            d.mkdir(parents=True)
            con.execute(f"COPY (SELECT doc_id, tokens, severity_text, "
                        f"pod_name, namespace, deployment FROM ({rows}) "
                        f"WHERE sink = '{sink}') TO '{d}/part-0.parquet' "
                        f"(FORMAT parquet)")
            dirs[sink] = str(d)
    assert oracle.log_sinks_actual(con, dirs) == expected
    _flip_first_token(os.path.join(dirs["sumologic"], "part-0.parquet"))
    got = oracle.log_sinks_actual(con, dirs)
    assert got["sumologic"] != expected["sumologic"]
    assert got["sumologic"][0] == expected["sumologic"][0]


def _curated_copy(con, src: str, out: str) -> None:
    """A valid curated output: the first doc of each distinct token
    array survives untouched."""
    os.makedirs(f"{out}/split=train")
    con.execute(f"COPY (SELECT doc_id, tokens, 0 AS n_removed FROM "
                f"read_parquet('{src}') QUALIFY row_number() OVER ("
                f"PARTITION BY array_to_string(tokens, ',') ORDER BY doc_id)"
                f" = 1) TO '{out}/split=train/p.parquet' (FORMAT parquet)")


def test_curated_checks_catch_one_flipped_or_dropped_token(tmp_path):
    gen.write_curation(str(tmp_path / "in"), 4, 60)
    src = str(tmp_path / "in" / "tokens.parquet")
    con = oracle.connect(str(tmp_path / "duck"))
    out = str(tmp_path / "cur")
    _curated_copy(con, src, out)
    assert oracle.curation_invariants(con, src, out) == []
    reference = oracle.curated_digest(con, out)
    part = f"{out}/split=train/p.parquet"
    _flip_first_token(part)
    # same lengths, so only the repeat-run digest can see it
    assert oracle.curation_invariants(con, src, out) == []
    assert oracle.curated_digest(con, out) != reference
    t = pq.read_table(part)
    toks = t.column("tokens").to_pylist()
    toks[0] = toks[0][1:]
    i = t.schema.get_field_index("tokens")
    pq.write_table(t.set_column(i, t.schema.field(i),
                                pa.array(toks, t.schema.field(i).type)), part)
    assert any("kept + removed" in p
               for p in oracle.curation_invariants(con, src, out))


def _pack_reference(docs: dict[str, list[int]], n_groups: int,
                    budget: int) -> pa.Table:
    """Plain-Python packing: per md5 group, docs in id order are
    concatenated and cut every ``budget`` tokens."""
    groups: dict[int, list[str]] = {}
    for d in sorted(docs):
        g = int(hashlib.md5(d.encode()).hexdigest()[:8], 16) % n_groups
        groups.setdefault(g, []).append(d)
    rows = []
    for g, ids in groups.items():
        chunks: dict[int, dict] = {}
        pos = 0
        for d in ids:
            for j, tok in enumerate(docs[d]):
                c = chunks.setdefault(pos // budget, {"tokens": [], "spans": []})
                if not c["spans"] or c["spans"][-1]["doc_id"] != d:
                    c["spans"].append({"doc_id": d, "start": pos % budget,
                                       "len": 0})
                c["spans"][-1]["len"] += 1
                c["tokens"].append(tok)
                pos += 1
        for k, c in chunks.items():
            rows.append({"grp": g, "chunk": k, "n_docs": len(c["spans"]),
                         "n_tok": len(c["tokens"]), **c})
    return pa.Table.from_pylist(rows)


def test_pack_check_catches_one_flipped_token(tmp_path):
    budget = gen.PACK_BUDGET
    gen.write_curation(str(tmp_path / "in"), 5, 200)
    con = oracle.connect(str(tmp_path / "duck"))
    cur = str(tmp_path / "cur")
    _curated_copy(con, str(tmp_path / "in" / "tokens.parquet"), cur)
    shard = str(tmp_path / "shard.parquet")
    gen.write_shard(shard, 5, 20)
    docs = {}
    for f in (f"{cur}/split=train/p.parquet", shard):
        t = pq.read_table(f).to_pydict()
        docs.update(zip(t["doc_id"], t["tokens"]))
    (tmp_path / "packed").mkdir()
    part = str(tmp_path / "packed" / "p.parquet")
    pq.write_table(_pack_reference(docs, 4, budget), part)
    expected = oracle.pack_expected(con, [f"{cur}/*/*.parquet", shard],
                                    str(tmp_path / "pin"), 4)
    got = oracle.pack_actual(con, str(tmp_path / "packed"))
    assert got["digest"] == expected
    assert got["tokens"] == sum(len(v) for v in docs.values())
    assert got["longest"] <= budget
    _flip_first_token(part)
    assert oracle.pack_actual(con, str(tmp_path / "packed"))["digest"] \
        != expected


# -- span arithmetic ----------------------------------------------------

def _span(i, name, parent, start, end, **kw):
    return trace.Span(id=i, name=name, parent=parent, run_id="r",
                      start=start, end=end, **kw)


def test_self_time_of_a_synthetic_span_tree():
    spans = [
        _span(0, "root", None, 0.0, 10.0, py_cpu0=0, py_cpu1=9),
        _span(1, "a", 0, 1.0, 4.0, py_cpu0=1, py_cpu1=4),
        _span(2, "a.x", 1, 2.0, 3.0, py_cpu0=2, py_cpu1=3),
        _span(3, "b", 0, 5.0, 9.0, py_cpu0=5, py_cpu1=8),
        _span(4, "b.x", 3, 6.0, 7.5),
        _span(5, "b.y", 3, 7.0, 8.0),      # overlaps b.x
    ]
    st = trace.self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 2.0, 4: 1.5,
                                5: 1.0})
    py = trace.self_delta(spans, "py_cpu0", "py_cpu1")
    assert py[0] == pytest.approx(3.0) and py[1] == pytest.approx(2.0)
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) \
        == pytest.approx(3.0)


def test_recorder_nests_spans_and_sums_by_name():
    rec = trace.Recorder("r")
    with rec.span("root"):
        for _ in range(2):
            with rec.span("layer") as s:
                s.counters["rows"] = 5
    agg = rec.by_name()
    assert [s.parent for s in rec.spans] == [None, 0, 0]
    assert agg["layer"]["calls"] == 2 and agg["layer"]["counters"] == {
        "rows": 10}
    total = sum(a["self_s"] for a in agg.values())
    assert total == pytest.approx(rec.spans[0].dur)


# -- process-tree probe -------------------------------------------------

def test_probe_counts_a_child_process_cpu_and_writes(tmp_path):
    p = probe.TreeProbe(os.getpid())
    before = p.read()
    target = tmp_path / "blob"
    child = ("import os, time\n"
             "t = time.process_time()\n"
             "while time.process_time() - t < 0.3: pass\n"
             f"f = open({str(target)!r}, 'wb'); f.write(os.urandom(1 << 20))\n"
             "f.flush(); os.fsync(f.fileno()); f.close()\n"
             "time.sleep(0.5)\n")
    proc = subprocess.Popen([sys.executable, "-c", child])
    try:
        import time
        time.sleep(0.6)
        mid = p.read()
    finally:
        proc.wait(timeout=30)
    after = p.read()           # the child is gone: its last reading stays
    assert mid.py_cpu_s - before.py_cpu_s >= 0.25
    assert after.write_b - before.write_b >= 1 << 20
    assert after.cpu_s >= mid.cpu_s


# -- declarations -------------------------------------------------------

def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_printed_metric_is_declared_with_its_unit():
    from perfbench import declared
    t = run.Timed(probe=None, jvm_mem=None)
    t.wall, t.cpu, t.mem_mb, t.write_mb = [1.0], [2.0], [3.0], [4.0]
    assert list(t.values(setup_s=5.0)) == [n for n, _ in
                                           declared("end_to_end")]
    values = layers.per_layer_values(
        {}, {}, {"session_s": 1.0, "root": "job", "traced_wall": 2.0,
                 "untraced_walls": [1.5]})
    assert list(values) == [n for n, _ in declared("per_layer")]
    assert {w["name"] for w in _bench()["workloads"]} == set(WORKLOADS)


def test_benchmark_json_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["command"][:2] == ["python3", "perfbench/run.py"]
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in b["workloads"])
