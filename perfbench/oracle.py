"""DuckDB checks of every timed output, and the order-independent
digests they compare.

Where the repository's own oracle SQL (the statements its correctness
gate uses) is cheap enough at benchmark size, both sides are computed
by DuckDB in this process: the expected side from the job's input, the
actual side by reading the parquet the Spark job wrote.  The composed
curation oracle is not (its recursive connected-components CTE takes
tens of seconds on a few hundred docs), so curated output is checked
by invariants plus equality with the same run's warm-pass output.  A
digest is ``(row count, sum of per-row hashes)``, so row order never
matters.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import duckdb

# per-row string every log sink row reduces to: the carried payload
# (doc_id, tokens) plus what the parse and enrich layers attached
_LOG_ROW = ("concat_ws('|', doc_id, array_to_string(tokens, ','), "
            "coalesce(severity_text, ''), coalesce(pod_name, ''), "
            "coalesce(namespace, ''), coalesce(deployment, ''))")
_DIGEST = "count(*)::BIGINT AS n, coalesce(sum(hash({row}))::HUGEINT, 0) AS h"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET memory_limit = '1GB'")
    # checks run while Spark is idle, between timed jobs
    con.execute(f"SET threads = {os.cpu_count()}")
    return con


def _digest(con, sql_from: str, row: str) -> tuple[int, int]:
    n, h = con.execute(
        f"SELECT {_DIGEST.format(row=row)} FROM {sql_from}").fetchone()
    return int(n), int(h)


# -- logs ---------------------------------------------------------------

@contextmanager
def _gate_oracle_dir(d: str):
    """The gate's parse/enrich CTE builders read one module-level oracle
    directory; point them at ``d`` for the duration."""
    import __spark_entry__ as entry
    saved = entry._ORACLE_DIR
    entry._ORACLE_DIR = d
    try:
        yield entry
    finally:
        entry._ORACLE_DIR = saved


def log_sinks_expected(con, oracle_dir: str) -> dict[str, tuple[int, int]]:
    """Per-sink (count, digest) of ``oracle_dir/tokens.parquet`` routed
    through the gate's parse -> enrich -> ``_ROUTE_CASE`` oracle (the
    ``pipeline_sink_counts`` shape, ``pods.parquet`` beside it)."""
    with _gate_oracle_dir(oracle_dir) as entry:
        # hash each row before the unnest: DuckDB evaluates a list-typed
        # row expression beside an unnest orders of magnitude slower
        sql = (f"{entry._decoded_cte()}, {entry._pods_cte()}, hashed AS ("
               f"SELECT hash({_LOG_ROW}) AS h, {entry._ROUTE_CASE} AS sinks "
               f"FROM enriched), routed AS (SELECT h, unnest(sinks) AS sink "
               f"FROM hashed) SELECT sink, count(*)::BIGINT, "
               f"sum(h)::HUGEINT FROM routed GROUP BY sink")
        rows = con.execute(sql).fetchall()
    return {s: (int(n), int(h)) for s, n, h in rows}


def log_sinks_actual(con, sink_dirs: dict[str, str]) -> dict[str, tuple[int, int]]:
    out = {}
    for sink, d in sink_dirs.items():
        files = [os.path.join(r, f) for r, _, fs in os.walk(d)
                 for f in fs if f.endswith(".parquet")]
        if files:
            out[sink] = _digest(con, f"read_parquet({files!r})", _LOG_ROW)
    return out


# -- curation -----------------------------------------------------------

def curated_digest(con, out_dir: str) -> tuple[int, int]:
    return _digest(
        con, f"read_parquet('{out_dir}/*/*.parquet', hive_partitioning = true)",
        "concat_ws('|', doc_id, n_removed, array_to_string(tokens, ','), "
        "split)")


def curation_invariants(con, in_file: str, out_dir: str) -> list[str]:
    """Checks that need no replay of the cascade: every survivor is an
    input doc whose kept + removed tokens add up to its input length,
    no two survivors carry the same input token array (exact dedup),
    ids are unique and splits are train/val."""
    q = f"""WITH o AS (
  SELECT doc_id, n_removed, len(tokens) AS kept, split
  FROM read_parquet('{out_dir}/*/*.parquet', hive_partitioning = true)
), i AS (SELECT doc_id, tokens FROM read_parquet('{in_file}'))
SELECT
  count(*) FILTER (WHERE i.doc_id IS NULL),
  count(*) FILTER (WHERE o.n_removed < 0
                   OR o.kept + o.n_removed <> len(i.tokens)),
  count(*) - count(DISTINCT o.doc_id),
  count(*) - count(DISTINCT md5(array_to_string(i.tokens, ','))),
  count(*) FILTER (WHERE o.split NOT IN ('train', 'val'))
FROM o LEFT JOIN i USING (doc_id)"""
    names = ["survivors not in the input", "docs whose kept + removed "
             "tokens differ from their input length", "duplicate survivor ids",
             "survivors repeating another survivor's input tokens",
             "rows with a split other than train/val"]
    return [f"{n}: {name}"
            for n, name in zip(con.execute(q).fetchone(), names) if n]


# -- packing ------------------------------------------------------------

_PACK_ROW = "concat_ws('|', grp, chunk, n_docs, n_tok, tokens_s, spans_s)"


def pack_expected(con, sources: list[str], pack_in_dir: str,
                  n_groups: int) -> tuple[int, int]:
    """The gate's packing oracle over the docs of every parquet glob in
    ``sources`` (copied to the single ``tokens.parquet`` it reads)."""
    from opentelemetry_collector_contrib_spark.queries_ext import (
        _pack_tokens_oracle_sql)
    os.makedirs(pack_in_dir, exist_ok=True)
    docs = " UNION ALL ".join(f"SELECT doc_id, tokens FROM read_parquet('{s}')"
                              for s in sources)
    con.execute(f"COPY ({docs}) TO '{pack_in_dir}/tokens.parquet' "
                f"(FORMAT parquet)")
    return _digest(con, f"({_pack_tokens_oracle_sql(pack_in_dir, n_groups)})",
                   _PACK_ROW)


def pack_actual(con, out_dir: str) -> dict:
    src = f"read_parquet('{out_dir}/*.parquet')"
    rows = (f"(SELECT grp, chunk, n_docs, n_tok, "
            f"array_to_string(tokens, ',') AS tokens_s, "
            f"array_to_string(list_transform(spans, s -> s.doc_id || ':' || "
            f"s.start || ':' || s.len), ',') AS spans_s FROM {src})")
    tok, longest = con.execute(
        f"SELECT coalesce(sum(len(tokens)), 0), coalesce(max(len(tokens)), 0) "
        f"FROM {src}").fetchone()
    return {"digest": _digest(con, rows, _PACK_ROW), "tokens": int(tok),
            "longest": int(longest)}


def token_total(con, parquet_glob: str) -> int:
    return int(con.execute(
        f"SELECT coalesce(sum(len(tokens)), 0) FROM "
        f"read_parquet('{parquet_glob}')").fetchone()[0])
