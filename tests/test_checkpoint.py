"""Checkpoint / lineage / resume tests (the kill/rerun contract).

Mirrors the reference's exactly-once range-checkpoint behavior
(core/file_server/checkpoint/RangeCheckpoint.h:27-49): a killed run re-invoked
with the same run_id must not reprocess committed stages, and per-stage
lineage must reconcile with the committed sink contents.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.checkpoint import CheckpointLog, ResumableRun
from loongcollector_spark.operators.route import SINK_COL, SinkCondition
from loongcollector_spark.plans.job import run_job
from loongcollector_spark.synth import ensure_sequences


@pytest.fixture(scope="module")
def seq_path():
    return ensure_sequences(5000)


def test_full_run_commits_all_sinks(spark, seq_path, tmp_path):
    out = str(tmp_path / "job1")
    res = run_job(spark, seq_path, out, run_id="r1")
    assert set(res["counts"]) == {"sink_nginx", "sink_apsara", "sink_structured", "sink_default"}
    assert sum(v["n_rows"] for v in res["counts"].values()) == 5000
    # every sink stage + counts committed
    log = CheckpointLog(out + "/_checkpoint")
    for name in res["sinks"]:
        assert log.committed("r1", f"sink_{name}")
        rec = log.read("r1", f"sink_{name}")
        assert rec["n_rows"] == res["counts"][name]["n_rows"]
        # file lineage reconciles with the stage totals
        assert sum(p["n_rows"] for p in rec["partitions"]) == rec["n_rows"]
        assert sum(p["n_bytes"] for p in rec["partitions"]) == rec["n_bytes"]
    crec = log.read("r1", "counts")
    assert crec["n_rows"] == 5000
    assert len(crec["partitions"]) > 0  # the union of the sink file lineages
    # sink contents match the counts
    for name, path in res["sinks"].items():
        assert spark.read.parquet(path).count() == res["counts"][name]["n_rows"]


def test_sink_payload_token_equality(spark, seq_path, tmp_path):
    """Routed-row token equality: re-encoding the sink's content payload must
    reproduce the original token arrays exactly (bijective codec)."""
    out = str(tmp_path / "job2")
    res = run_job(spark, seq_path, out, run_id="r2")
    sink = spark.read.parquet(res["sinks"]["sink_nginx"])
    orig = spark.read.parquet(seq_path)
    rows = (
        sink.select("doc_id", "content")
        .join(orig.select("doc_id", "tokens"), "doc_id")
        .limit(500)
        .collect()
    )
    assert rows, "empty sink"
    for r in rows:
        assert list(r["content"].encode("utf-8")) == list(r["tokens"])


def test_resume_skips_committed_stages(spark, seq_path, tmp_path):
    out = str(tmp_path / "job3")
    res1 = run_job(spark, seq_path, out, run_id="rr")
    assert len(res1["executed"]) == 5  # 4 sinks + counts
    # "kill" after commit: simply rerun with same run_id — nothing reprocessed
    res2 = run_job(spark, seq_path, out, run_id="rr")
    assert res2["executed"] == []
    assert res2["counts"] == res1["counts"]


def test_partial_failure_then_resume(spark, seq_path, tmp_path):
    """Simulate a crash mid-run: commit two stages, die, resume — only the
    remaining stages execute."""
    out = str(tmp_path / "job4")
    run = ResumableRun(spark, out, run_id="crash")
    run.stage("sink_a", lambda d: (1, 1, [{"partition_id": 0, "n_rows": 1, "n_bytes": 1}]))
    run.stage("sink_b", lambda d: (2, 2, []))

    boom = []

    def failing(d):
        boom.append(1)
        raise RuntimeError("killed")

    with pytest.raises(RuntimeError):
        run.stage("sink_c", failing)

    resumed = ResumableRun(spark, out, run_id="crash")
    calls = []

    def fn(name):
        def _f(d):
            calls.append(name)
            return (0, 0, [])
        return _f

    for s in ["sink_a", "sink_b", "sink_c", "counts"]:
        resumed.stage(s, fn(s))
    assert calls == ["sink_c", "counts"]  # a and b resumed over, not re-run


def test_checkpoint_log_dataframe(spark, seq_path, tmp_path):
    out = str(tmp_path / "job5")
    run_job(spark, seq_path, out, run_id="df1")
    log = CheckpointLog(out + "/_checkpoint")
    df = log.as_dataframe(spark)
    assert df.filter(F.col("status") == "committed").count() == 5
    assert {r["stage"] for r in df.select("stage").collect()} == {
        "sink_sink_nginx", "sink_sink_apsara", "sink_sink_structured", "sink_sink_default", "counts",
    }


def test_run_id_separator_rejected(tmp_path):
    """run_id may not contain the '__' catalog separator: 'run1' vs 'run1__x'
    would otherwise cross-list each other's stage files on resume."""
    import pytest
    from loongcollector_spark.checkpoint import CheckpointLog, ResumableRun

    log = CheckpointLog(str(tmp_path / "_cp"))
    with pytest.raises(ValueError):
        log.record("run1__x", "sink_a", 0, 0, [])
    with pytest.raises(ValueError):
        log.stages("bad__id")
    with pytest.raises(ValueError):
        ResumableRun(None, str(tmp_path / "out"), run_id="a__b")
    # clean ids still work
    log.record("run1", "sink_a", 1, 2, [])
    assert log.stages("run1") == ["sink_a"]


def test_run_job_condition_sinks_record_real_counts(spark, seq_path, tmp_path):
    """Condition-named sinks are not route values — their checkpoint records
    and returned counts must reflect the rows actually written, not 0."""
    from loongcollector_spark.operators.route import SinkCondition

    out = str(tmp_path / "jobc")
    res = run_job(
        spark, seq_path, out, run_id="rc",
        conditions=[SinkCondition(sink="all_events", type="always")],
    )
    assert res["counts"]["all_events"]["n_rows"] == 5000
    assert res["counts"]["all_events"]["n_tok_sum"] > 0
    log = CheckpointLog(out + "/_checkpoint")
    assert log.read("rc", "sink_all_events")["n_rows"] == 5000
    # resume returns the same sink-keyed counts from the committed record
    res2 = run_job(
        spark, seq_path, out, run_id="rc",
        conditions=[SinkCondition(sink="all_events", type="always")],
    )
    assert res2["executed"] == [] and res2["counts"]["all_events"]["n_rows"] == 5000


def test_stage_name_validated(tmp_path):
    """Stage names share the run_id's '<run>__<stage>.json' filename rules:
    '/' would fail the catalog write AFTER the sink snapshot committed
    (stage done on disk, unrecorded — rerun loops forever), '__' and a
    leading '_' collide across runs ('a_' + 'x' == 'a' + '_x')."""
    import pytest
    from loongcollector_spark.checkpoint import CheckpointLog

    log = CheckpointLog(str(tmp_path / "_cp"))
    for bad in ("a/b", "a__b", "_x", ""):
        with pytest.raises(ValueError):
            log.record("run1", bad, 0, 0, [])
    with pytest.raises(ValueError):
        log.record("run_", "x", 0, 0, [])  # trailing '_' run_id collides
    log.record("run1", "stage-ok.v2", 1, 2, [])
    assert log.stages("run1") == ["stage-ok.v2"]


@pytest.fixture(scope="module")
def clean_run(spark, seq_path, tmp_path_factory):
    """One uninterrupted run, kept on disk for the resume tests."""
    out = str(tmp_path_factory.mktemp("clean") / "job")
    return out, run_job(spark, seq_path, out, run_id="clean")


def test_route_without_rows_commits_empty_sink(spark, seq_path, tmp_path):
    """A configured route no row matches still commits its sink: an empty
    table with zero counts, which a rerun reports unchanged."""
    from loongcollector_spark.operators.route import RouteRule
    from loongcollector_spark.plans.pipeline import DEFAULT_ROUTES

    out = str(tmp_path / "jobe")
    routes = DEFAULT_ROUTES + [RouteRule("no_such_source", "sink_unmatched")]
    res = run_job(spark, seq_path, out, run_id="re", routes=routes)
    assert res["counts"]["sink_unmatched"] == {"n_rows": 0, "n_tok_sum": 0}
    assert spark.read.parquet(res["sinks"]["sink_unmatched"]).count() == 0
    assert CheckpointLog(out + "/_checkpoint").read("re", "sink_sink_unmatched")["n_rows"] == 0
    assert sum(v["n_rows"] for v in res["counts"].values()) == 5000
    res2 = run_job(spark, seq_path, out, run_id="re", routes=routes)
    assert res2["executed"] == [] and res2["counts"] == res["counts"]


def test_failed_sink_write_then_resume(spark, seq_path, tmp_path, monkeypatch, clean_run):
    """The second sink commit (the rename of its written files) raises; the
    rerun executes only the stages that did not commit and reports the same
    counts as an uninterrupted run."""
    import os

    real_replace, calls = os.replace, []

    def flaky_replace(src, dst, *args, **kwargs):
        if f"{SINK_COL}=" in os.fspath(src):
            calls.append(src)
            if len(calls) == 2:
                raise RuntimeError("killed")
        return real_replace(src, dst, *args, **kwargs)

    out = str(tmp_path / "jobk")
    monkeypatch.setattr(os, "replace", flaky_replace)
    with pytest.raises(RuntimeError, match="killed"):
        run_job(spark, seq_path, out, run_id="rk")
    monkeypatch.undo()

    committed = CheckpointLog(out + "/_checkpoint").stages("rk")
    assert len(committed) == 1
    res = run_job(spark, seq_path, out, run_id="rk")
    clean = clean_run[1]
    assert res["executed"] == [s for s in clean["executed"] if s not in committed]
    assert res["counts"] == clean["counts"]
    for name, path in res["sinks"].items():
        assert spark.read.parquet(path).count() == res["counts"][name]["n_rows"]


def test_failed_one_pass_write_then_resume(spark, seq_path, tmp_path, monkeypatch, clean_run):
    """The one-pass write itself fails part way: no sink commits, and the
    rerun's leftover scratch rows (planted as a killed process would leave
    them) do not leak into any sink."""
    import glob
    import os
    import shutil

    import loongcollector_spark.sources.io as io

    real_repartition = io.salted_repartition

    def failing_repartition(df, *args, **kwargs):
        doomed = F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 3  # a fifth of the rows fail the write stage
        return real_repartition(df, *args, **kwargs).filter(
            F.assert_true(~doomed, "killed").isNull())

    out = str(tmp_path / "jobw")
    monkeypatch.setattr(io, "salted_repartition", failing_repartition)
    with pytest.raises(Exception, match="killed"):
        run_job(spark, seq_path, out, run_id="rw")
    monkeypatch.undo()
    assert CheckpointLog(out + "/_checkpoint").stages("rw") == []

    clean = clean_run[1]
    for i in range(len(clean["sinks"])):
        leftover = os.path.join(out, "_sinks.scratch", f"{SINK_COL}={i}")
        os.makedirs(leftover, exist_ok=True)
        for f in glob.glob(os.path.join(clean["sinks"]["sink_nginx"], "*.parquet")):
            shutil.copy(f, os.path.join(leftover, "leftover-" + os.path.basename(f)))
    res = run_job(spark, seq_path, out, run_id="rw")
    assert res["executed"] == clean["executed"]
    assert res["counts"] == clean["counts"]
    for name, path in res["sinks"].items():
        got = {r.doc_id for r in spark.read.parquet(path).select("doc_id").collect()}
        want = {r.doc_id for r in spark.read.parquet(clean["sinks"][name]).select("doc_id").collect()}
        assert got == want and len(got) == res["counts"][name]["n_rows"]
    assert not os.path.exists(os.path.join(out, "_sinks.scratch"))


OVERLAPPING = [
    SinkCondition(sink="audit", type="always"),
    SinkCondition(sink="nginx", type="route", value="sink_nginx"),
    SinkCondition(sink="default", type="route", value="sink_default"),
]


def _sink_contents(spark, res) -> dict:
    return {
        name: sorted((r.doc_id, r.content) for r in spark.read.parquet(path).select("doc_id", "content").collect())
        for name, path in res["sinks"].items()
    }


def test_overlapping_sinks_match_independent_filters(spark, seq_path, tmp_path):
    """An ``always`` sink plus route sinks: each committed sink holds exactly
    the rows of an independent filter of the routed plan, its counts are that
    filter's counts, and the counts stage lineage adds up to the counts
    record (the sum over sinks, not the input row count)."""
    from loongcollector_spark.operators.route import sink_predicate
    from loongcollector_spark.plans.pipeline import build_pipeline, default_enrich

    out = str(tmp_path / "jobo")
    res = run_job(spark, seq_path, out, run_id="ro", conditions=OVERLAPPING)
    routed = build_pipeline(spark.read.parquet(seq_path), enrich=default_enrich(spark))
    for c in OVERLAPPING:
        want = routed.filter(sink_predicate(c, routed.columns))
        want_ids = {r.doc_id for r in want.select("doc_id").collect()}
        got_ids = [r.doc_id for r in spark.read.parquet(res["sinks"][c.sink]).select("doc_id").collect()]
        assert sorted(got_ids) == sorted(want_ids)
        n_tok = want.agg(F.sum("n_tok")).first()[0]
        assert res["counts"][c.sink] == {"n_rows": len(want_ids), "n_tok_sum": n_tok}

    crec = CheckpointLog(out + "/_checkpoint").read("ro", "counts")
    assert crec["n_rows"] == sum(v["n_rows"] for v in res["counts"].values()) > 5000
    assert sum(p["n_rows"] for p in crec["partitions"]) == crec["n_rows"]
    assert sum(p["n_bytes"] for p in crec["partitions"]) == crec["n_bytes"]


def test_sinks_do_not_depend_on_parallelism(spark, seq_path, tmp_path):
    """Committed sink contents and counts are identical whether the one-pass
    write runs as 1 task or 8."""
    res = {
        n: run_job(spark, seq_path, str(tmp_path / f"p{n}"), run_id=f"p{n}",
                   conditions=OVERLAPPING, num_partitions=n)
        for n in (1, 8)
    }
    assert res[1]["counts"] == res[8]["counts"]
    assert _sink_contents(spark, res[1]) == _sink_contents(spark, res[8])


def test_duplicate_sink_names_rejected(spark, seq_path, tmp_path):
    with pytest.raises(ValueError, match="duplicate sink"):
        run_job(spark, seq_path, str(tmp_path / "jobd"), run_id="rd", conditions=[
            SinkCondition(sink="s", type="always"),
            SinkCondition(sink="s", type="route", value="sink_nginx"),
        ])


def _jobs_started(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        return fn(), sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_fresh_run_starts_at_most_eight_spark_jobs(spark, seq_path, tmp_path):
    """Every sink is written in one pass: a fresh run is a fixed handful of
    Spark jobs, not a filter/write/lineage round per sink."""
    sc = spark.sparkContext
    res, jobs = _jobs_started(sc, "fresh-run", lambda: run_job(spark, seq_path, str(tmp_path / "j"), run_id="rj"))
    assert len(res["executed"]) == 5
    assert 0 < len(jobs) <= 8, jobs
    # positive control: the group does count jobs started in a loop
    _, control = _jobs_started(sc, "control", lambda: [spark.range(3).collect() for _ in range(9)])
    assert len(control) >= 9


def test_fully_resumed_run_starts_no_spark_job(spark, seq_path, clean_run):
    out, clean = clean_run
    sc = spark.sparkContext
    sc.setJobGroup("resume-check", "fully resumed run_job")
    try:
        res = run_job(spark, seq_path, out, run_id="clean")
        assert sc.statusTracker().getJobIdsForGroup("resume-check") == []
        spark.range(3).collect()  # the group does tag jobs from this thread
        assert sc.statusTracker().getJobIdsForGroup("resume-check")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res["executed"] == [] and res["counts"] == clean["counts"]
