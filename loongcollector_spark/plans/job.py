"""End-to-end checkpointed batch job: the ``CollectionPipeline::Process`` +
``Router::Route`` + flusher-commit lifecycle (SURVEY.md §3.1) as one resumable
Spark job.

    read sequences → decode (JVM UTF-8) → parse (per-source CASE) → enrich
      → route → [one pass over the pending sinks: explode each row to the
      sinks it matches → count on write → salted repartition → partitioned
      parquet write → file lineage] → per-sink commit by rename
      → counts stage (per-sink rows + token bytes)

Each sink is its own committed stage (one Iceberg-snapshot analog per flusher);
re-running with the same ``run_id`` skips committed sinks — the kill/rerun
contract ("a killed run resumes from the last committed snapshot without
reprocessing"). The sinks a run still owes are written together by
``sources/io.py::write_sinks``, so the input is scanned once per run, not once
per sink, and nothing is cached (Router.cpp:50-82 semantics allow a row in >1
sink: it is written once per sink it matches).

Rows are counted in the pass that moves them (the reference's self-monitor
counters): the write carries one ``Observation`` of each sink's row count and
token sum, which that sink's stage commits as its checkpoint record. The counts
a run returns are read back from those committed records, so a fresh, a partly
resumed and a fully resumed run all report them the same way.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import SparkSession

from ..checkpoint import ResumableRun
from ..operators.route import RouteRule, SinkCondition
from ..sources.io import read_sequences, write_sinks
from .pipeline import DEFAULT_ROUTES, ParserSpec, build_pipeline, default_enrich


COUNTS_SCHEMA = pa.schema([("route", pa.string()), ("n_rows", pa.int64()), ("n_tok_sum", pa.int64())])


def _committed_counts(run: ResumableRun, sinks: list[str]) -> dict[str, dict[str, int]]:
    recs = {s: run.log.read(run.run_id, f"sink_{s}") for s in sinks}
    return {s: {"n_rows": r["n_rows"], "n_tok_sum": r["n_bytes"]} for s, r in recs.items()}


def run_job(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    run_id: str,
    parsers: dict[str, ParserSpec] | None = None,
    routes: list[RouteRule] | None = None,
    conditions: list[SinkCondition] | None = None,
    default_sink: str | None = "sink_default",
    num_partitions: int | None = None,
    keep_tokens: bool = False,
    enrich: str | None = "default",
) -> dict:
    """Run (or resume) the flagship pipeline. Returns
    ``{"run_id", "sinks": {name: path}, "counts": {name: {n_rows, n_tok_sum}},
    "executed": [stage...]}`` — ``executed`` is empty on a fully-resumed run.

    Without ``conditions`` every route sink (each ``routes`` sink plus
    ``default_sink``) gets a ``route`` condition, so a route no row matches
    still commits an empty sink with zero counts.
    """
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism * 2
    run = ResumableRun(spark, out_root, run_id)
    if conditions is None:
        route_sinks = [r.sink for r in (DEFAULT_ROUTES if routes is None else routes)]
        route_sinks += [default_sink] if default_sink is not None else []
        conditions = [SinkCondition(sink=s, type="route", value=s) for s in sorted(set(route_sinks))]
    names = [c.sink for c in conditions]
    pending = [c for c in conditions if not run.log.committed(run.run_id, f"sink_{c.sink}")]

    # A fully committed run starts no Spark job: everything it returns is in
    # the checkpoint log.
    if pending:
        enrich_fn = default_enrich(spark) if enrich == "default" else enrich
        routed = build_pipeline(
            read_sequences(spark, input_path), parsers, routes, default_sink, enrich=enrich_fn
        )
        write_sinks(
            routed, out_root, pending, lambda name, fn: run.stage(f"sink_{name}", fn),
            num_partitions, keep_tokens,
        )

    def _counts_fn(inprog: str):
        recs = {n: run.log.read(run.run_id, f"sink_{n}") for n in sorted(names)}
        n_rows = [r["n_rows"] for r in recs.values()]
        n_tok = [r["n_bytes"] for r in recs.values()]
        # from Arrow, so the table is a LocalRelation, not a Python RDD
        table = pa.table([list(recs), n_rows, n_tok], schema=COUNTS_SCHEMA)
        spark.createDataFrame(table).coalesce(1).write.mode("overwrite").parquet(inprog)
        # the union of the sink file lineages: it adds up to the record's
        # totals however the sinks overlap
        files = [{**p, "sink": n} for n, r in recs.items() for p in r["partitions"]]
        return sum(n_rows), sum(n_tok), files

    run.stage("counts", _counts_fn)
    return {
        "run_id": run.run_id,
        "sinks": {n: run.stage_dir(f"sink_{n}") for n in names},
        "counts": _committed_counts(run, names),
        "executed": run.executed,
    }
