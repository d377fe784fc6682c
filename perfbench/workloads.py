"""The benchmark's workloads: inputs, the timed job through the
production entry points, output verification, and the traced re-run.

A workload object lives for one benchmark run.  ``generate`` writes its
seeded inputs, ``warm`` runs the untimed warm pass, ``prepare`` checks
what is checked once per run, and each ``job`` call is one timed unit
of work (one ingest cycle, or one curate-then-pack job) whose output
``verify`` checks.  ``traced_job`` runs the same job with every layer's
public calls wrapped in spans (see ``layers``).
"""

from __future__ import annotations

import os
import shutil

from opentelemetry_collector_contrib_spark.datapipe.curation import pack_tokens
from opentelemetry_collector_contrib_spark.datapipe.token_curation import (
    tokens_curation_pipeline)
from opentelemetry_collector_contrib_spark.operators.routing import (
    DEFAULT_ROUTES)
from opentelemetry_collector_contrib_spark.plans.incremental import (
    run_pipeline_incremental)
from opentelemetry_collector_contrib_spark.plans.pipeline import PipelineConfig

from . import gen, layers, oracle


class Workload:
    name = ""
    min_jobs = 1

    def __init__(self, work_dir: str, seed: int):
        self.work = work_dir
        self.seed = seed
        self.con = oracle.connect(os.path.join(work_dir, "duckdb"))

    def close(self) -> None:
        self.con.close()


class LogsIncrements(Workload):
    """A growing log table ingested one cycle at a time through
    ``run_pipeline_incremental`` (default routing table, 8 resume
    units).  Each cycle appends one seeded file of ``INC_ROWS`` rows."""

    name = "logs_increments"
    INC_ROWS = 20_000
    WARM_CYCLES = 3
    min_jobs = 3

    def __init__(self, work_dir: str, seed: int):
        super().__init__(work_dir, seed)
        self.input = os.path.join(work_dir, "input")
        self.table = os.path.join(self.input, "tokens")
        self.out = os.path.join(work_dir, "out")
        self.cycle = 0

    def _cfg(self) -> PipelineConfig:
        return PipelineConfig(tokens_path=self.table,
                              pods_path=os.path.join(self.input,
                                                     "pods.parquet"),
                              out_dir=self.out, n_units=8)

    def generate(self) -> None:
        gen.write_pods(self.input, self.seed)
        self._append()

    def _append(self) -> None:
        """Land the next cycle's file; the oracle sees it as its own
        ``tokens.parquet`` beside the pods table."""
        path = gen.write_log_increment(self.table, self.seed, self.cycle,
                                       self.INC_ROWS)
        d = os.path.join(self.work, "oracle", f"cycle-{self.cycle}")
        os.makedirs(d, exist_ok=True)
        os.link(path, os.path.join(d, "tokens.parquet"))
        os.link(os.path.join(self.input, "pods.parquet"),
                os.path.join(d, "pods.parquet"))
        self.cycle += 1

    def warm(self, spark) -> None:
        for i in range(self.WARM_CYCLES):
            if i:
                self._append()
            run_pipeline_incremental(spark, self._cfg())

    def prepare(self, spark) -> list[str]:
        return []

    def before_job(self) -> None:
        self._append()

    def job(self, spark) -> dict:
        r = run_pipeline_incremental(spark, self._cfg())
        return {**r, "oracle_cycle": self.cycle - 1}

    def verify(self, spark, r: dict) -> list[str]:
        problems = []
        if r.get("status") != "complete" or r.get("files_processed") != 1:
            return [f"cycle did not complete one file: {r}"]
        if r["rows_in"] != self.INC_ROWS:
            problems.append(f"rows_in {r['rows_in']} != {self.INC_ROWS}")
        exp = oracle.log_sinks_expected(
            self.con, os.path.join(self.work, "oracle",
                                   f"cycle-{r['oracle_cycle']}"))
        got = oracle.log_sinks_actual(self.con, self.cycle_sink_dirs(r))
        for sink in sorted(set(exp) | set(got)):
            if exp.get(sink) != got.get(sink):
                problems.append(f"sink {sink}: expected (rows, digest) "
                                f"{exp.get(sink)}, got {got.get(sink)}")
        return problems

    def cycle_sink_dirs(self, r: dict) -> dict[str, str]:
        cfg = self._cfg()
        return {s: os.path.join(cfg.sink_cfg(s).path,
                                f"cycle={r['cycle_id']}")
                for s in DEFAULT_ROUTES.all_sinks()}

    def cleanup(self, res: dict) -> None:
        # sinks are the growing table later cycles list; keep them
        pass

    def traced_job(self, spark, rec) -> dict:
        with layers.logs_patches(rec), rec.span("cycle"):
            res = self.job(spark)
        return res

    def trace_context(self, res: dict, walls: list[float],
                      untraced_jobs: int) -> dict:
        files = sum(len(fs) for d in self.cycle_sink_dirs(res).values()
                    for _, _, fs in os.walk(d))
        return {"cycle_walls": walls,
                "cycle_jobs": untraced_jobs / max(len(walls), 1),
                "files_written": files}


class CuratePack(Workload):
    """Curate a seeded training corpus with ``tokens_curation_pipeline``
    (written ``partitionBy("split")``), then pack the curated docs,
    together with a seeded shard of long already-curated docs, into
    2048-token rows with ``pack_tokens(n_groups="auto")``.  The shard
    gives packing its share of the job: the curated batch alone (under
    200k tokens) packs within Spark's fixed per-job time."""

    name = "curate_pack"
    N_DOCS = 600
    SHARD_DOCS = 3000
    BUDGET = gen.PACK_BUDGET

    def __init__(self, work_dir: str, seed: int):
        super().__init__(work_dir, seed)
        self.input = os.path.join(work_dir, "input", "tokens.parquet")
        self.shard = os.path.join(work_dir, "input", "shard.parquet")
        self.out = os.path.join(work_dir, "out")
        self.pack_oracle_in = os.path.join(work_dir, "oracle", "pack_in")
        self.jobs_run = 0
        self.warm_res: dict | None = None
        self.reference: tuple | None = None
        self.pack_expected: dict[tuple, tuple[int, int]] = {}

    def generate(self) -> None:
        gen.write_curation(os.path.dirname(self.input), self.seed,
                           self.N_DOCS)
        gen.write_shard(self.shard, self.seed, self.SHARD_DOCS)

    def warm(self, spark) -> None:
        self.warm_res = self.job(spark)

    def prepare(self, spark) -> list[str]:
        """Check the warm pass; its curated output is the reference
        every timed job must reproduce."""
        problems, self.reference = self._check(spark, self.warm_res)
        self.cleanup(self.warm_res)
        return problems

    def before_job(self) -> None:
        pass

    def _paths(self) -> tuple[str, str]:
        i = self.jobs_run
        return (os.path.join(self.out, f"curated-{i}"),
                os.path.join(self.out, f"packed-{i}"))

    def _curate(self, spark, cur_dir: str) -> dict:
        out, obs = tokens_curation_pipeline(spark.read.parquet(self.input))
        out.write.mode("overwrite").partitionBy("split").parquet(cur_dir)
        return obs

    def _pack_input(self, spark, cur_dir: str):
        return (spark.read.parquet(cur_dir).select("doc_id", "tokens")
                .unionByName(spark.read.parquet(self.shard)))

    def _pack(self, spark, cur_dir: str, pack_dir: str) -> None:
        pack_tokens(self._pack_input(spark, cur_dir), budget=self.BUDGET,
                    n_groups="auto").write.mode("overwrite").parquet(pack_dir)

    def job(self, spark) -> dict:
        cur_dir, pack_dir = self._paths()
        self.jobs_run += 1
        obs = self._curate(spark, cur_dir)
        self._pack(spark, cur_dir, pack_dir)
        return {"obs": obs, "cur_dir": cur_dir, "pack_dir": pack_dir}

    def _check(self, spark, res: dict) -> tuple[list[str], tuple]:
        from opentelemetry_collector_contrib_spark.datapipe.curation import (
            _resolve_groups)
        cur_dir, pack_dir = res["cur_dir"], res["pack_dir"]
        problems = []
        funnel = {k: int(o.get["n"]) for k, o in res["obs"].items()}
        steps = [funnel[k] for k in ("input", "quality_pass", "exact_unique",
                                     "fuzzy_unique")]
        if steps[0] != self.N_DOCS or steps != sorted(steps, reverse=True):
            problems.append(f"funnel {funnel} is not a narrowing of "
                            f"{self.N_DOCS} input docs")
        curated = oracle.curated_digest(self.con, cur_dir)
        if curated[0] != funnel["fuzzy_unique"]:
            problems.append(f"{curated[0]} curated rows written, funnel "
                            f"says {funnel['fuzzy_unique']}")
        problems += oracle.curation_invariants(self.con, self.input, cur_dir)
        n_groups = _resolve_groups(self._pack_input(spark, cur_dir), "auto")
        pack_in = [f"{cur_dir}/*/*.parquet", self.shard]
        key = (curated, n_groups)
        if key not in self.pack_expected:
            self.pack_expected[key] = oracle.pack_expected(
                self.con, pack_in, self.pack_oracle_in, n_groups)
        packed = oracle.pack_actual(self.con, pack_dir)
        if packed["digest"] != self.pack_expected[key]:
            problems.append(f"packed (rows, digest) {packed['digest']} != "
                            f"oracle {self.pack_expected[key]} at "
                            f"{n_groups} groups")
        in_tokens = sum(oracle.token_total(self.con, f) for f in pack_in)
        if packed["tokens"] != in_tokens:
            problems.append(f"packing lost tokens: {packed['tokens']} out "
                            f"of {in_tokens}")
        if packed["longest"] > self.BUDGET:
            problems.append(f"packed row of {packed['longest']} tokens "
                            f"exceeds the {self.BUDGET} budget")
        res.update(n_groups=n_groups, packed_rows=packed["digest"][0],
                        packed_tokens=packed["tokens"])
        return problems, (curated, funnel)

    def verify(self, spark, res: dict) -> list[str]:
        problems, got = self._check(spark, res)
        if got != self.reference:
            problems.append(f"curated (digest, funnel) {got} differs from "
                            f"the warm pass's {self.reference} on the same "
                            f"input")
        return problems

    def cleanup(self, res: dict) -> None:
        shutil.rmtree(res["cur_dir"], ignore_errors=True)
        shutil.rmtree(res["pack_dir"], ignore_errors=True)

    def traced_job(self, spark, rec) -> dict:
        cur_dir, pack_dir = self._paths()
        self.jobs_run += 1
        with rec.span("job"):
            with layers.curation_patches(rec):
                obs = self._curate(spark, cur_dir)
            with rec.span("curation.pack"):
                self._pack(spark, cur_dir, pack_dir)
        return {"obs": obs, "cur_dir": cur_dir, "pack_dir": pack_dir}

    def trace_context(self, res: dict, walls: list[float],
                      untraced_jobs: int) -> dict:
        return {"packed": {"groups": res["n_groups"],
                           "rows": res["packed_rows"],
                           "tokens": res["packed_tokens"],
                           "budget": self.BUDGET}}


WORKLOADS = {w.name: w for w in (LogsIncrements, CuratePack)}

