"""Layer wrappers for the traced run, and the per-layer metric table.

In a traced run the production entry point runs unchanged, but each
layer's public functions are swapped, from outside the package, for
wrappers that open a span, force the layer's output
(``localCheckpoint``, or a noop write where the caller keeps using the
same frame) under the span's job group, and record the layer's counts
in a ``trace.counters`` child span so counting never adds to a layer's
self time.  The forced boundaries break Catalyst's fusion across
layers; the run reports the resulting overhead.
"""

from __future__ import annotations

from contextlib import ExitStack, contextmanager
from statistics import median

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.datapipe import (
    cluster as cluster_mod, dedup as dedup_mod, token_quality as tq_mod)
from opentelemetry_collector_contrib_spark.operators.regex_parser import (
    RegexParser)
from opentelemetry_collector_contrib_spark.plans import (
    incremental as inc_mod, manifest as manifest_mod, pipeline as pipeline_mod)
from opentelemetry_collector_contrib_spark.sinks import (
    maintenance as maintenance_mod)


@contextmanager
def _patched(obj, attr: str, wrap):
    orig = getattr(obj, attr)
    setattr(obj, attr, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def _count(df) -> int:
    return int(df.count())


def _forced(rec, name: str, build, counters=None):
    """Span ``name`` around building and materializing a frame."""
    with rec.span(name) as s:
        df = build().localCheckpoint(eager=True)
        if counters is not None:
            with rec.span("trace.counters"):
                s.counters.update(counters(df))
    return df


def _eager(rec, name: str, orig, counters=None):
    """Span ``name`` around an eager call."""
    def call(*a, **kw):
        with rec.span(name) as s:
            out = orig(*a, **kw)
            if counters is not None:
                s.counters.update(counters(out))
        return out
    return call


# -- logs ---------------------------------------------------------------

def _rows(df) -> dict:
    return {"rows": _count(df)}


def _parsed(df) -> dict:
    row = df.agg(F.count(F.lit(1)).alias("rows"),
                 F.sum(F.col("parsed").cast("int")).alias("parsed")).first()
    return {"rows": int(row["rows"]), "parsed": int(row["parsed"] or 0)}


def _enriched(df) -> dict:
    row = df.agg(F.count("pod_ip").alias("with_ip"),
                 F.count("pod_name").alias("hit")).first()
    return {"with_ip": int(row["with_ip"]), "hit": int(row["hit"])}


def _routed(df) -> dict:
    row = df.agg(F.count(F.lit(1)).alias("rows"),
                 F.sum(F.size("sinks")).alias("routed")).first()
    return {"rows_in": int(row["rows"]), "routed": int(row["routed"] or 0)}


@contextmanager
def logs_patches(rec):
    """Wrap the calls ``build_lineage`` and ``run_pipeline_incremental``
    make into the source, parser, enrich, routing, fan-out, ledger,
    manifest and snapshot layers."""

    def parser_apply(orig):
        def apply(self, df):
            # the first layer forces the scan it is handed
            src = _forced(rec, "tokens_source", lambda: df, _rows)
            return _forced(rec, "regex_parser", lambda: orig(self, src),
                           _parsed)
        return apply

    def lazy(name, counters=None):
        def wrap(orig):
            return lambda *a, **kw: _forced(rec, name,
                                            lambda: orig(*a, **kw), counters)
        return wrap

    def eager(name, counters=None):
        return lambda orig: _eager(rec, name, orig, counters)

    with ExitStack() as stack:
        for obj, attr, wrap in [
            (RegexParser, "apply", parser_apply),
            (pipeline_mod, "kv_extract", lazy("regex_parser")),
            (pipeline_mod, "prepare_pods_dim", lazy("enrich")),
            (pipeline_mod, "broadcast_enrich", lazy("enrich", _enriched)),
            (pipeline_mod, "with_route", lazy("routing", _routed)),
            (inc_mod, "_process_units", eager("pipeline")),
            (inc_mod, "list_input_files",
             eager("incremental", lambda out: {"files_listed": len(out)})),
            (inc_mod.FileLedger, "processed_files", eager("incremental")),
            (inc_mod.FileLedger, "committed_cycles", eager("incremental")),
            (inc_mod.FileLedger, "commit_cycle", eager("manifest")),
            (manifest_mod.RunManifest, "completed_units", eager("manifest")),
            (manifest_mod.RunManifest, "record", eager("manifest")),
            (manifest_mod.RunManifest, "entries", eager("manifest")),
            (maintenance_mod, "publish_snapshot", eager("maintenance")),
        ]:
            stack.enter_context(_patched(obj, attr, wrap))
        yield


# -- curation -----------------------------------------------------------

@contextmanager
def curation_patches(rec):
    """Wrap the calls ``tokens_curation_pipeline`` makes into the
    quality, dedup and cluster layers.  The exact-dedup digest window
    is inline in the pipeline, so it is forced (noop write of the
    persisted survivor frame) when the LSH layer receives it."""

    def quality(orig):
        def call(df, *a, **kw):
            src = _forced(rec, "tokens_source", lambda: df, _rows)

            def keep(out):
                row = out.agg(F.count(F.lit(1)).alias("rows"),
                              F.sum(F.col("keep").cast("int"))
                              .alias("keep")).first()
                return {"rows": int(row["rows"]),
                        "keep": int(row["keep"] or 0)}
            return _forced(rec, "token_quality",
                           lambda: orig(src, *a, **kw), keep)
        return call

    def lsh(orig):
        def call(df, *a, **kw):
            with rec.span("token_curation") as s:
                df.write.format("noop").mode("overwrite").save()
                with rec.span("trace.counters"):
                    s.counters["exact"] = _count(df)
            return _forced(rec, "dedup.lsh", lambda: orig(df, *a, **kw),
                           lambda out: {"pairs": _count(out)})
        return call

    def survivors(orig):
        def call(*a, **kw):
            return _forced(rec, "cluster", lambda: orig(*a, **kw),
                           lambda out: {"survivors": _count(out)})
        return call

    def spans(orig):
        def call(*a, **kw):
            def removed(out):
                n = out.agg(F.sum("n_removed")).first()[0]
                return {"tokens_removed": int(n or 0)}
            return _forced(rec, "dedup.spans", lambda: orig(*a, **kw),
                           removed)
        return call

    with ExitStack() as stack:
        for obj, attr, wrap in [
            (tq_mod, "token_quality", quality),
            (dedup_mod, "minhash_tokens_lsh", lsh),
            (cluster_mod, "connected_components",
             lambda orig: _eager(rec, "cluster", orig)),
            (cluster_mod, "cluster_survivors", survivors),
            (dedup_mod, "remove_dup_spans", spans),
        ]:
            stack.enter_context(_patched(obj, attr, wrap))
        yield


# -- the per-layer metric table -----------------------------------------

_MB = float(1 << 20)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer_values(spans: dict, groups: dict, ctx: dict) -> dict[str, float]:
    """Every per-layer metric (0 for a layer the workload never calls)
    from the recorder's per-name span aggregates, the Spark metrics per
    job group and run context (``session_s``, ``root`` span name,
    ``traced_wall``, ``untraced_walls``, and per workload
    ``cycle_walls``, ``cycle_jobs``, ``files_written`` or ``packed``)."""
    def sp(name: str) -> dict:
        return spans.get(name, {"self_s": 0.0, "py_cpu_s": 0.0,
                                "write_b": 0, "counters": {}})

    def grp(*names: str) -> dict:
        out: dict = {}
        for n in names:
            for k, v in groups.get(n, {}).items():
                out[k] = max(out.get(k, 0), v) if k == "peak_exec_b" \
                    else out.get(k, 0) + v
        return out

    def c(name: str, key: str) -> float:
        return sp(name)["counters"].get(key, 0)

    def failed(*names: str) -> float:
        return grp(*names).get("failed_tasks", 0)

    cycles = ctx.get("cycle_walls", [])
    third = max(len(cycles) // 3, 1)
    growth = (median(cycles[-third:]) / median(cycles[:third])
              if len(cycles) >= 2 else 0.0)
    packed = ctx.get("packed", {})
    root = ctx["root"]
    v = {
        "session.start_s": ctx["session_s"],
        "tokens_source.self_s": sp("tokens_source")["self_s"],
        "tokens_source.rows": c("tokens_source", "rows"),
        "tokens_source.failed_tasks": failed("tokens_source"),
        "regex_parser.self_s": sp("regex_parser")["self_s"],
        "regex_parser.cpu_s": grp("regex_parser").get("cpu_s", 0.0),
        "regex_parser.py_cpu_s": sp("regex_parser")["py_cpu_s"],
        "regex_parser.parsed_ratio": _ratio(c("regex_parser", "parsed"),
                                            c("regex_parser", "rows")),
        "regex_parser.failed_tasks": failed("regex_parser"),
        "enrich.self_s": sp("enrich")["self_s"],
        "enrich.hit_ratio": _ratio(c("enrich", "hit"), c("enrich", "with_ip")),
        "enrich.failed_tasks": failed("enrich"),
        "routing.self_s": sp("routing")["self_s"],
        "routing.fanout_ratio": _ratio(c("routing", "routed"),
                                       c("routing", "rows_in")),
        "routing.failed_tasks": failed("routing"),
        "pipeline.self_s": sp("pipeline")["self_s"],
        "pipeline.cpu_s": grp("pipeline").get("cpu_s", 0.0),
        "pipeline.spill_mb": grp("pipeline").get("disk_spill_b", 0) / _MB,
        "pipeline.peak_exec_mb": grp("pipeline").get("peak_exec_b", 0) / _MB,
        "pipeline.write_mb": sp("pipeline")["write_b"] / _MB,
        "pipeline.files": ctx.get("files_written", 0),
        "pipeline.failed_tasks": failed("pipeline"),
        "incremental.discover_s": sp("incremental")["self_s"],
        "incremental.files_listed": c("incremental", "files_listed"),
        "incremental.jobs": ctx.get("cycle_jobs", 0),
        "incremental.cycle_growth": growth,
        "manifest.commit_s": sp("manifest")["self_s"],
        "maintenance.publish_s": sp("maintenance")["self_s"],
        "token_quality.self_s": sp("token_quality")["self_s"],
        "token_quality.py_cpu_s": sp("token_quality")["py_cpu_s"],
        "token_quality.keep_ratio": _ratio(c("token_quality", "keep"),
                                           c("token_quality", "rows")),
        "token_quality.failed_tasks": failed("token_quality"),
        "token_curation.exact_s": sp("token_curation")["self_s"],
        "token_curation.shuffle_mb":
            grp("token_curation").get("shuffle_write_b", 0) / _MB,
        "token_curation.exact_ratio": _ratio(c("token_curation", "exact"),
                                             c("token_quality", "keep")),
        "token_curation.failed_tasks": failed("token_curation"),
        "dedup.lsh_s": sp("dedup.lsh")["self_s"],
        "dedup.lsh_shuffle_mb":
            grp("dedup.lsh").get("shuffle_write_b", 0) / _MB,
        "dedup.pairs": c("dedup.lsh", "pairs"),
        "dedup.spans_s": sp("dedup.spans")["self_s"],
        "dedup.spans_shuffle_mb":
            grp("dedup.spans").get("shuffle_write_b", 0) / _MB,
        "dedup.spans_spill_mb":
            grp("dedup.spans").get("disk_spill_b", 0) / _MB,
        "dedup.tokens_removed": c("dedup.spans", "tokens_removed"),
        "dedup.failed_tasks": failed("dedup.lsh", "dedup.spans"),
        "cluster.self_s": sp("cluster")["self_s"],
        "cluster.jobs": grp("cluster").get("jobs", 0),
        "cluster.survivor_ratio": _ratio(c("cluster", "survivors"),
                                         c("token_curation", "exact")),
        "cluster.failed_tasks": failed("cluster"),
        "curation.pack_s": sp("curation.pack")["self_s"],
        "curation.pack_py_cpu_s": sp("curation.pack")["py_cpu_s"],
        "curation.pack_groups": packed.get("groups", 0),
        "curation.packed_rows": packed.get("rows", 0),
        "curation.fill_ratio": _ratio(packed.get("tokens", 0),
                                      packed.get("rows", 0)
                                      * packed.get("budget", 1)),
        "curation.failed_tasks": failed("curation.pack"),
        "trace.wall_s": ctx["traced_wall"],
        "trace.overhead_s": ctx["traced_wall"] - median(ctx["untraced_walls"]),
        "trace.unattributed_s": sp(root)["self_s"],
        "trace.counters_s": sp("trace.counters")["self_s"],
    }
    return {k: float(x) for k, x in v.items()}

