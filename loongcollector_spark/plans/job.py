"""End-to-end checkpointed batch job: the ``CollectionPipeline::Process`` +
``Router::Route`` + flusher-commit lifecycle (SURVEY.md §3.1) as one resumable
Spark job.

    read sequences → decode (JVM UTF-8) → parse (per-source CASE) → enrich
      → route → [per-sink stage: filter → count on write → salted
      repartition → parquet commit]
      → counts stage (per-sink rows + token bytes)

Each sink is its own committed stage (one Iceberg-snapshot analog per flusher);
re-running with the same ``run_id`` skips committed sinks — the kill/rerun
contract ("a killed run resumes from the last committed snapshot without
reprocessing"). The routed plan is persisted once so N sink writes don't
recompute the parse stage N times (SURVEY.md §7.4 multi-sink duplication;
Router.cpp:50-82 semantics allow a row in >1 sink).

Rows are counted in the pass that moves them (the reference's self-monitor
counters): each sink write carries one ``Observation`` of its row count and
token sum, which the stage commits as its checkpoint record. The counts a run
returns are read back from those committed records, so a fresh, a partly
resumed and a fully resumed run all report them the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..checkpoint import ResumableRun, partition_lineage
from ..operators.aggregate import salted_repartition
from ..operators.route import RouteRule, SinkCondition, fan_out
from ..sources.io import read_sequences
from .pipeline import DEFAULT_ROUTES, ParserSpec, build_pipeline, default_enrich


def _write_sink(df: DataFrame, path: str, num_partitions: int, keep_tokens: bool) -> tuple[int, int]:
    """Write one sink; returns its ``(n_rows, n_tok_sum)`` observed on the write."""
    if not keep_tokens and "tokens" in df.columns and "content" in df.columns:
        df = df.drop("tokens")
    obs = Observation()
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).alias("n_tok_sum"),
    )
    out = salted_repartition(df, num_partitions) if num_partitions else df
    # zstd, matching write_routed_partitioned/write_fanout: measured faster
    # than the snappy default AND 35% smaller (sources/io.py)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", 1_000_000)
        .option("compression", "zstd")
        .parquet(path)
    )
    m = obs.get
    return int(m["n_rows"]), int(m["n_tok_sum"])


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
    stages = [f"sink_{n}" for n in names] + ["counts"]

    # A fully committed run starts no Spark job: everything it returns is in
    # the checkpoint log.
    if not all(run.log.committed(run.run_id, s) for s in stages):
        enrich_fn = default_enrich(spark) if enrich == "default" else enrich
        routed = build_pipeline(
            read_sequences(spark, input_path), parsers, routes, default_sink, enrich=enrich_fn
        )
        routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for name, df in fan_out(routed, conditions).items():
                def _fn(inprog: str, df=df):
                    return (*_write_sink(df, inprog, num_partitions, keep_tokens), None)

                run.stage(f"sink_{name}", _fn)

            def _counts_fn(inprog: str):
                counts = _committed_counts(run, names)
                cdf = spark.createDataFrame(
                    [(k, v["n_rows"], v["n_tok_sum"]) for k, v in sorted(counts.items())],
                    "route string, n_rows long, n_tok_sum long",
                )
                cdf.coalesce(1).write.mode("overwrite").parquet(inprog)
                total_rows = sum(v["n_rows"] for v in counts.values())
                total_tok = sum(v["n_tok_sum"] for v in counts.values())
                return total_rows, total_tok, partition_lineage(routed)

            run.stage("counts", _counts_fn)
        finally:
            routed.unpersist()

    return {
        "run_id": run.run_id,
        "sinks": {n: run.stage_dir(f"sink_{n}") for n in names},
        "counts": _committed_counts(run, names),
        "executed": run.executed,
    }
