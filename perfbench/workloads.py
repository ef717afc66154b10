"""The workloads: one pass each, plus the check of its outputs.

A pass does the same work every time from an empty output directory;
``run.py`` clears library and Spark caches between passes. Each pass
returns the operations it attempted and the ones that raised. An
operation is a query, a load, a sink write or a streaming drain.

Only public functions of the program are called: ``session``,
``sources``, ``jobspec``/``pipeline``, ``operators``, ``loaders``,
``streaming`` and the query registries via ``__spark_entry__``.
"""

from __future__ import annotations

import os
import sys
import traceback

from pyspark.sql import functions as F

import __spark_entry__
from lightlane_spark.jobspec import build_pipeline
from lightlane_spark.operators.clustering import dedup_by_components
from lightlane_spark.operators.fuzzy_dedup import dedup_exact, dedup_minhash
from lightlane_spark.operators.text import (
    language_id,
    pack_sequences,
    quality_score,
    quota_sample,
    token_count,
)
from lightlane_spark.sources.parquet import read_table
from lightlane_spark.streaming.incremental import (
    run_to_completion,
    stream_from_directory,
    streaming_merge,
)
from perfbench import checks, gen

ANALYTIC_MIX = (
    "pricing_summary",
    "join_3way",
    "asof_join",
    "sessionize",
)


class Ops:
    """Attempted/failed tally for one pass."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn, count: int = 1) -> None:
        self.attempted += count
        try:
            fn()
        except Exception:  # noqa: BLE001 — a failed operation is counted, the pass goes on
            self.failed += count
            print(f"perfbench: operation {name} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)


class Workload:
    name = ""
    # Warm passes a run makes at least. The first warm passes still
    # speed up as the JIT settles, so every run of a workload must sample
    # the same ones: with passes longer than ``--seconds`` a run makes
    # exactly this many.
    min_warm = 1

    def __init__(self, inputs: str, info: dict):
        self.inputs = inputs
        self.info = info
        self.rows = sum(info["rows"].values())

    def run_pass(self, spark, out: str, tr) -> Ops:
        raise NotImplementedError

    def check(self, spark, out: str) -> list[str]:
        raise NotImplementedError


class AnalyticQueries(Workload):
    name = "analytic_queries"
    min_warm = 3

    def __init__(self, inputs, info):
        super().__init__(inputs, info)
        registry = __spark_entry__.queries()
        self.queries = {n: registry[n] for n in ANALYTIC_MIX}
        oracles = __spark_entry__.oracle_sql()
        self.oracles = {n: oracles[n] for n in ANALYTIC_MIX}

    def run_pass(self, spark, out, tr):
        ops = Ops()
        for name, fn in self.queries.items():

            def op(fn=fn):
                with tr.span("queries.build", "queries"):
                    df = fn(spark, self.inputs)
                tr.plan_phases(df)
                with tr.span("queries.action", "queries"):
                    df.write.format("noop").mode("overwrite").save()

            ops.run(name, op)
        return ops

    def check(self, spark, out):
        return checks.analytic(spark, self.inputs, self.queries, self.oracles)


ORDERS_BATCH_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
    "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING, o_version INT"
)


class EtlLoad(Workload):
    """LightLane's job through ``jobspec``: events to CSV and Hive text
    with quarantine, an orders OVERWRITE, a batch MERGE, further MERGEs
    through ``streaming_merge`` as batch files land, and an APPEND; then
    the corpus curation chain writes a training set."""

    name = "etl_load"

    def specs(self, out: str) -> dict:
        """Job specs by name: {name: (operations, spec)}."""
        src = self.inputs
        orders_tbl = os.path.join(out, "orders_tbl")
        return {
            "events_to_text": (
                3,
                {
                    "extract": {"kind": "parquet", "sf_dir": src, "table": "events", "splitby": "event_id", "splits": 4},
                    "transforms": [
                        {"op": "json_extract", "column": "props", "fields": {"k": "$.k", "tags": "$.tags"}},
                        {"op": "with_column", "name": "tag", "expr": "from_json(tags, 'array<string>')"},
                        {"op": "explode", "column": "tag"},
                        {"op": "with_column", "name": "k", "expr": "CAST(k AS INT)"},
                        {"op": "select", "columns": list(checks.ETL_TEXT_COLUMNS)},
                    ],
                    "quarantine": {"good_predicate": "k IS NOT NULL", "bad_path": os.path.join(out, "bad")},
                    "sinks": [
                        {"kind": "csv", "path": os.path.join(out, "csv"), **checks.ETL_CSV_OPTIONS},
                        {"kind": "hive_text", "path": os.path.join(out, "hive")},
                    ],
                },
            ),
            "orders_overwrite": (
                1,
                {
                    "extract": {"kind": "parquet", "sf_dir": src, "table": "orders"},
                    "transforms": [{"op": "with_column", "name": "o_version", "expr": "CAST(0 AS INT)"}],
                    "load": {"path": orders_tbl, "mode": "overwrite"},
                },
            ),
            "orders_merge": (
                1,
                {
                    "extract": {"kind": "parquet", "sf_dir": src, "table": "merge_0"},
                    # "o_version DESC" would parse as an alias and keep the
                    # oldest version (see CHANGES.md); negation sorts newest first
                    "transforms": [{"op": "dedup", "keys": ["o_orderkey"], "orderby": ["-o_version"]}],
                    "load": {"path": orders_tbl, "mode": "merge", "primary_keys": ["o_orderkey"]},
                },
            ),
            "orders_append": (
                1,
                {
                    "extract": {"kind": "parquet", "sf_dir": src, "table": "orders_new"},
                    "load": {"path": orders_tbl, "mode": "append"},
                },
            ),
        }

    def run_pass(self, spark, out, tr):
        ops = Ops()
        specs = self.specs(out)

        def job(name):
            n_ops, spec = specs[name]

            def step():
                with tr.span("jobspec.build"):
                    p = build_pipeline(spark, spec)
                with tr.span("pipeline.run", "pipeline"):
                    p.run()

            ops.run(name, step, n_ops)

        def stream_merge():
            # the later batches arrive as files: one MERGE per trigger
            with tr.span("streaming.build", "streaming"):
                src = stream_from_directory(spark, self.info["merge_stream"], ORDERS_BATCH_SCHEMA, max_files_per_trigger=1)
                q = streaming_merge(
                    src,
                    os.path.join(out, "orders_tbl"),
                    ["o_orderkey"],
                    os.path.join(out, "ck_merge"),
                    orderby=[F.col("o_version").desc()],
                )
            with tr.span("streaming.drain", "streaming"):
                run_to_completion(q, timeout_sec=120)
            if tr.enabled:
                record_progress(tr, q.recentProgress)

        job("events_to_text")
        job("orders_overwrite")
        job("orders_merge")
        ops.run("orders_stream_merge", stream_merge)
        job("orders_append")
        curation(spark, self.inputs, out, tr, ops)
        return ops

    def check(self, spark, out):
        return checks.etl(self.inputs, out, self.info["merge_batches"]) + checks.corpus(
            self.inputs, out, gen.CORPUS_QUOTA
        )


def curation(spark, inputs: str, out: str, tr, ops: Ops) -> None:
    """The LLM-data chain of ``examples/curation_end_to_end.py``, with
    exact dedup ahead of the near-dup collapse: quality and language
    gates, exact dedup, MinHash pairs to connected components, per-source
    quota, token counts, then sequence packing from the written set."""
    curated_path = os.path.join(out, "curated")

    def curate():
        docs = read_table(spark, inputs, "documents")
        with tr.span("operators.build", "operators"):
            gated = (
                docs.withColumn("q", quality_score(F.col("text")))
                .withColumn("lang_pred", language_id(F.col("text")))
                .where((F.col("q") >= 0.3) & F.col("lang_pred").isNotNull())
            )
            exact = dedup_exact(gated)
            pairs = dedup_minhash(exact.select("doc_id", "text"), threshold=0.7)
            deduped = dedup_by_components(exact, pairs.select("id_a", "id_b"))
            sampled = quota_sample(deduped, "source", n_per_group=gen.CORPUS_QUOTA)
            curated = sampled.select("doc_id", "source", "text", token_count(F.col("text")).alias("n_tokens"))
        with tr.span("operators.action", "operators"):
            curated.write.mode("overwrite").parquet(curated_path)

    def pack():
        with tr.span("operators.build", "operators"):
            packed = pack_sequences(spark.read.parquet(curated_path), "n_tokens", window_tokens=256)
        with tr.span("operators.action", "operators"):
            packed.write.mode("overwrite").parquet(os.path.join(out, "packed"))

    ops.run("curate", curate)
    ops.run("pack", pack)


def record_progress(tr, progress) -> None:
    """Per-trigger durations of one drain."""
    for p in progress:
        d = p.durationMs
        tr.add("streaming.triggers", 1)
        tr.add("streaming.trigger_ms", d.get("triggerExecution", 0))
        tr.add("streaming.add_batch_ms", d.get("addBatch", 0))
        tr.add("streaming.query_planning_ms", d.get("queryPlanning", 0))
        tr.add("streaming.wal_commit_ms", d.get("walCommit", 0))


WORKLOADS = {w.name: w for w in (EtlLoad, AnalyticQueries)}


def install_layer_spans(tr) -> None:
    """Traced runs only: wrap the program's public entry points that
    the workloads reach indirectly (``read_table`` inside the query
    registries and pipelines, the loader and text sinks inside
    ``Pipeline.run``) in spans. Nothing inside the program changes."""
    import functools

    import lightlane_spark.loaders.loader as loader_mod
    import lightlane_spark.loaders.text_sinks as sinks_mod
    import lightlane_spark.sources.parquet as parquet_mod

    def wrap(fn, name, layer=None):
        @functools.wraps(fn)
        def inner(*a, **k):
            with tr.span(name, layer):
                return fn(*a, **k)

        return inner

    def replace_everywhere(orig, new):
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "")
            if not (modname.startswith(("lightlane_spark", "perfbench")) or modname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)

    replace_everywhere(parquet_mod.read_table, wrap(parquet_mod.read_table, "sources.read_table"))
    for fn in (sinks_mod.write_csv, sinks_mod.write_hive_text):
        replace_everywhere(fn, wrap(fn, "loaders.text_sink", "loaders"))

    execute = loader_mod.Loader.execute

    @functools.wraps(execute)
    def traced_execute(self, staging):
        with tr.span(f"loaders.{self.mode.value}", "loaders"):
            return execute(self, staging)

    loader_mod.Loader.execute = traced_execute
