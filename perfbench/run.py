"""Fixed-run benchmark of loongcollector_spark on a local[4] session.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 12 --trace 0

Run from the repository root.  One process runs one workload as a closed
loop: one job at a time from one driver.  It generates the workload's input
from ``--seed`` (cached under ``.data/perfbench/``, never timed), starts the
session and warms up (``setup_s``), then repeats the job until ``--seconds``
of job wall time have passed, checking every job's output outside the timed
window.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``:

* ``--trace 0``: the end-to-end metrics (medians over the timed jobs);
* ``--trace 1``: one traced pass with Spark's event log on: cumulative noop
  cuts per layer, the full job, counts per layer and per-stage task metrics.

See NOTES.md for the workloads, the metric definitions and launch notes.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SLOTS = 4
K = 8  # token k-gram length for the dedup workload
LSH_THRESHOLD = 0.5
LSH_MAX_BUCKET = 64
HEAP = "3g"
CUT_REPS = 3

# name -> (input kind, input rows, minimum timed jobs per run)
WORKLOADS = {
    "flagship": ("skewed", 60_000, 2),
    "fanout_bigdict": ("uniform", 40_000, 1),
    "dedup_tokens": ("skewed", 3_000, 1),
}

E2E = {"seqs_per_s": "1/s", "toks_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}

SOURCES = ("nginx", "apsara", "json", "delimiter", "kv")
SINKS = ("sink_nginx", "sink_apsara", "sink_structured", "sink_default", "audit")
PER_LAYER = {
    "io.scan_s": "s", "codec.decode_s": "s", "parse.parse_s": "s",
    **{f"parse.ok_rows.{s}": "count" for s in SOURCES},
    **{f"parse.fail_rows.{s}": "count" for s in SOURCES},
    "enrich.enrich_s": "s", "enrich.dict_hit_frac": "fraction", "route.route_s": "s",
    **{f"route.rows.{s}": "count" for s in SINKS},
    **{f"route.toks.{s}": "count" for s in SINKS},
    "job.tail_s": "s", "job.spark_jobs": "count", "job.spark_stages": "count",
    "tokens.ngram_stats_s": "s", "tokens.span_strip_s": "s", "dedup.lsh_pairs_s": "s",
    "dedup.pairs": "count", "tokens.removed_tok_frac": "fraction",
    "stage.task_cpu_s": "s", "stage.gc_s": "s", "stage.shuffle_write_mb": "MB",
    "stage.shuffle_read_mb": "MB", "stage.spill_disk_mb": "MB", "stage.spill_mem_mb": "MB",
    "stage.output_mb": "MB", "stage.task_skew": "ratio",
    "scaling_eff": "ratio", "scaling.seqs_per_s_1slot": "1/s", "trace.seqs_per_s": "1/s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def noop(df) -> None:
    """Materialize into the noop sink (the flusher_blackhole analog)."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


class Session:
    """One SparkSession from the program's ``get_spark``, with its JVM."""

    def __init__(self, work: str, event_log: bool):
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap: RSS no longer swings with G1's
            # heap-sizing decisions (see NOTES.md, peak_rss_mb)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                             f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        }
        if event_log:
            self.event_dir = os.path.join(work, "eventlog")
            os.makedirs(self.event_dir)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = None
        self.tree = None

    def start(self, slots: int):
        from loongcollector_spark.session import get_spark

        from perfbench.tracing import ProcTree

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(cpus=slots, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tree = ProcTree(self.spark.sparkContext._gateway.proc.pid)
        return self.spark

    def tag(self, name: str) -> None:
        self.spark.sparkContext.setLocalProperty("perfbench.tag", name)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class JobWorkload:
    """``plans.job.run_job`` into fresh output roots.

    ``flagship``: default parsers, ``default_enrich``, disjoint route sinks.
    ``fanout_bigdict``: an ``always`` audit sink plus one ``route`` condition
    per route sink (every row written twice) and an enrich of ``dict_map``
    over the generated ip dictionary followed by ``desensitize_md5`` on ip.
    """

    def __init__(self, name: str, inp, work: str):
        from loongcollector_spark.plans.pipeline import DEFAULT_ROUTES

        self.name = name
        self.inp = inp
        self.work = work
        self.routes = DEFAULT_ROUTES
        self.fanout = name == "fanout_bigdict"
        self.rows = inp.rows()
        self.n_runs = 0

    def sinks_of(self, source: str) -> set[str]:
        from perfbench.inputs import route_of

        route = route_of(source, self.routes, "sink_default")
        return {route, "audit"} if self.fanout else {route}

    def prepare(self, spark) -> None:
        from loongcollector_spark.operators.enrich import desensitize_md5, dict_map
        from loongcollector_spark.operators.route import SinkCondition
        from loongcollector_spark.plans.pipeline import default_enrich

        if not self.fanout:
            self.enrich = default_enrich(spark)
            self.conditions = None
            return
        dict_df = spark.read.parquet(self.inp.dict_path)

        def enrich(df):
            df = dict_map(df, dict_df, source_key="ip", dest_key="ip_owner", missing="unknown")
            return desensitize_md5(df, "ip", r"\d+$")

        self.enrich = enrich
        self.conditions = [SinkCondition(sink="audit", type="always")] + [
            SinkCondition(sink=s, type="route", value=s) for s in SINKS[:4]
        ]

    def run(self, spark) -> dict:
        from loongcollector_spark.plans.job import run_job

        self.n_runs += 1
        out = os.path.join(self.work, "out", f"r{self.n_runs}")
        return run_job(spark, self.inp.table, out, f"r{self.n_runs}",
                       conditions=self.conditions, enrich=self.enrich)

    def warm_up(self, spark) -> None:
        """One untimed, unchecked job on the same input."""
        self.run(spark)
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)

    def prepare_check(self, corrupt: bool) -> None:
        """Fix the expectation every job is checked against; ``corrupt`` adds
        one row to the first sink so the self-test can show that a wrong
        count fails."""
        self.expected = copy.deepcopy(self.inp.meta["expected"])
        if corrupt:
            self.expected[sorted(self.expected)[0]]["n_rows"] += 1

    def check(self, res: dict) -> list[str]:
        from perfbench.checks import check_job

        try:
            return check_job(res, self.rows, self.expected, self.sinks_of)
        finally:
            shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)

    def trace(self, session: Session) -> tuple[dict[str, float], list[str], float]:
        """Cumulative noop cuts scan -> decode -> parse -> enrich -> route,
        then the full job; counts per source and per sink."""
        from loongcollector_spark.codec import with_content
        from loongcollector_spark.operators.parse import PARSE_OK
        from loongcollector_spark.operators.route import route_rows
        from loongcollector_spark.plans.pipeline import DEFAULT_PARSERS, parse_by_source
        from loongcollector_spark.sources.io import read_sequences
        from pyspark.sql import functions as F

        spark = session.spark
        scan = read_sequences(spark, self.inp.table)
        decoded = with_content(scan)
        parsed = parse_by_source(decoded, DEFAULT_PARSERS)
        enriched = self.enrich(parsed)
        routed = route_rows(enriched, self.routes, source_key="source", default_sink="sink_default")

        src, ok = F.col("source"), F.col(PARSE_OK)
        p = observe(session, parsed, "parse", *(
            [F.sum(((src == s) & ok).cast("long")).alias(f"ok.{s}") for s in SOURCES]
            + [F.sum(((src == s) & ~ok).cast("long")).alias(f"fail.{s}") for s in SOURCES]))
        key, dest, missing = ("ip", "ip_owner", "unknown") if self.fanout else (
            "response_code", "status_class", "other")
        has_key = F.col("fields")[key].isNotNull()
        e = observe(session, enriched, "enrich", F.sum(has_key.cast("long")).alias("keyed"),
                    F.sum((has_key & (F.col("fields")[dest] != missing)).cast("long")).alias("hits"))
        cuts = run_cuts(session, {"scan": scan, "decode": decoded, "parse": parsed,
                                  "enrich": enriched, "route": routed})
        session.tag("full")
        full_s, res = timed(lambda: self.run(spark), with_result=True)
        errors = self.check(res)
        m = {
            "io.scan_s": cuts["scan"],
            "codec.decode_s": cuts["decode"] - cuts["scan"],
            "parse.parse_s": cuts["parse"] - cuts["decode"],
            "enrich.enrich_s": cuts["enrich"] - cuts["parse"],
            "route.route_s": cuts["route"] - cuts["enrich"],
            "job.tail_s": full_s - cuts["route"],
            "enrich.dict_hit_frac": e["hits"] / max(e["keyed"], 1),
            "trace.seqs_per_s": self.inp.n_rows / full_s,
        }
        for s in SOURCES:
            m[f"parse.ok_rows.{s}"] = p[f"ok.{s}"]
            m[f"parse.fail_rows.{s}"] = p[f"fail.{s}"]
        for sink, c in res["counts"].items():
            m[f"route.rows.{sink}"] = c["n_rows"]
            m[f"route.toks.{sink}"] = c["n_tok_sum"]
        return m, errors, full_s


class DedupWorkload:
    """Token and text dedup on the raw table, each output into the noop
    sink: ``token_ngram_dup_stats`` and ``dup_span_strip`` (k=8) on the
    token arrays, ``minhash_lsh_pairs_md5`` (with ``max_bucket_size``) on the
    decoded text."""

    def __init__(self, name: str, inp, work: str):
        self.name = name
        self.inp = inp
        self.rows = inp.rows()
        self.errors: list[str] = []

    def prepare(self, spark) -> None:
        from loongcollector_spark.codec import with_content
        from loongcollector_spark.operators.dedup import minhash_lsh_pairs_md5
        from loongcollector_spark.operators.tokens import dup_span_strip, token_ngram_dup_stats
        from loongcollector_spark.sources.io import read_sequences

        df = read_sequences(spark, self.inp.table)
        self.steps = {
            "ngram_stats": token_ngram_dup_stats(df, k=K),
            "span_strip": dup_span_strip(df, k=K),
            "lsh_pairs": minhash_lsh_pairs_md5(
                with_content(df), text_col="content", id_col="doc_id",
                threshold=LSH_THRESHOLD, max_bucket_size=LSH_MAX_BUCKET),
        }

    def warm_up(self, spark) -> None:
        """The warm-up pass runs on the workload's own input and collects the
        three outputs, so that they can be checked."""
        self.outputs = {k: df.toArrow() for k, df in self.steps.items()}

    def prepare_check(self, corrupt: bool) -> None:
        """Check the warm-up outputs once.  Every timed pass computes the
        same plans into the noop sink, so their verdict is this one."""
        from perfbench.checks import check_dedup

        o = self.outputs
        self.errors = check_dedup(o["ngram_stats"], o["span_strip"], o["lsh_pairs"], self.rows,
                                  self.inp.n_rows + corrupt, K, LSH_THRESHOLD, self.inp.meta["seed"])

    def run(self, spark) -> None:
        for df in self.steps.values():
            noop(df)

    def check(self, res) -> list[str]:
        return self.errors

    def trace(self, session: Session) -> tuple[dict[str, float], list[str], float]:
        from loongcollector_spark.codec import with_content
        from loongcollector_spark.sources.io import read_sequences
        from pyspark.sql import functions as F

        scan = read_sequences(session.spark, self.inp.table)
        strip = observe(session, self.steps["span_strip"], "span_strip",
                        F.sum("n_removed").alias("removed"), F.sum("n_tok").alias("tok"))
        pairs = observe(session, self.steps["lsh_pairs"], "lsh_pairs", F.count(F.lit(1)).alias("pairs"))
        cuts = run_cuts(session, {"scan": scan, "decode": with_content(scan), **self.steps})
        session.tag("full")
        full_s = timed(lambda: self.run(session.spark))
        m = {
            "io.scan_s": cuts["scan"],
            "codec.decode_s": cuts["decode"] - cuts["scan"],
            "tokens.ngram_stats_s": cuts["ngram_stats"],
            "tokens.span_strip_s": cuts["span_strip"],
            "dedup.lsh_pairs_s": cuts["lsh_pairs"],
            "dedup.pairs": pairs["pairs"],
            "tokens.removed_tok_frac": strip["removed"] / max(strip["tok"], 1),
            "trace.seqs_per_s": self.inp.n_rows / full_s,
        }
        return m, self.errors, full_s


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------


def run_cuts(session: Session, frames: dict) -> dict[str, float]:
    """Wall seconds of each frame's noop write: the median of CUT_REPS
    passes over all frames in order."""
    times: dict[str, list[float]] = {name: [] for name in frames}
    for _ in range(CUT_REPS):
        for name, df in frames.items():
            session.tag(f"cut:{name}")
            times[name].append(timed(lambda df=df: noop(df)))
    return {name: statistics.median(v) for name, v in times.items()}


def observe(session: Session, df, name: str, *aggs) -> dict:
    """Counts from one extra, untimed noop pass over ``df``."""
    from pyspark.sql import Observation

    obs = Observation(name)
    session.tag(f"count:{name}")
    noop(df.observe(obs, *aggs))
    return obs.get


def timed(fn, with_result: bool = False):
    t0 = time.perf_counter()
    res = fn()
    dt = time.perf_counter() - t0
    return (dt, res) if with_result else dt


def make_workload(name: str, seed: int, work: str, n_rows: int | None):
    from loongcollector_spark.plans.pipeline import DEFAULT_ROUTES

    from perfbench.inputs import ensure_input

    kind, default_rows, _ = WORKLOADS[name]
    always = ("audit",) if name == "fanout_bigdict" else ()

    inp = ensure_input(os.path.join(ROOT, ".data", "perfbench"), kind, n_rows or default_rows,
                       seed, DEFAULT_ROUTES, "sink_default", always)
    return (DedupWorkload if name == "dedup_tokens" else JobWorkload)(name, inp, work)


def setup(session: Session, wl) -> float:
    """Session start plus one warm-up pass; returns its wall seconds."""
    t0 = time.perf_counter()
    spark = session.start(SLOTS)
    wl.prepare(spark)
    wl.warm_up(spark)
    return time.perf_counter() - t0


def measure(args, work: str) -> dict:
    from perfbench.tracing import RssSampler

    wl = make_workload(args.workload, args.seed, work, args.rows)
    log(f"{wl.name}: {wl.inp.n_rows} rows, {wl.inp.n_tok} tokens, input {wl.inp.path}")
    session = Session(work, event_log=False)
    try:
        setup_s = setup(session, wl)
        wl.prepare_check(args.corrupt_expected)
        log(f"setup {setup_s:.3f}s")
        walls, cpus, failed = [], [], 0
        with RssSampler(session.tree) as rss:
            while len(walls) < WORKLOADS[wl.name][2] or sum(walls) < args.seconds:
                c0 = session.tree.cpu_s()
                t0 = time.perf_counter()
                try:
                    res = wl.run(session.spark)
                    dt = time.perf_counter() - t0
                    errors = wl.check(res)
                except Exception as e:  # a run that raises counts as failed
                    dt = time.perf_counter() - t0
                    errors = [f"raised {type(e).__name__}: {e}"]
                cpus.append(session.tree.cpu_s() - c0)
                walls.append(dt)
                failed += bool(errors)
                log(f"run {len(walls)}: {dt:.3f}s cpu {cpus[-1]:.2f}s "
                    + ("ok" if not errors else "FAILED: " + "; ".join(errors[:3])))
    finally:
        session.close()
    wall = statistics.median(walls)
    values = {
        "seqs_per_s": wl.inp.n_rows / wall,
        "toks_per_s": wl.inp.n_tok / wall,
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": rss.peak_mb,
        "setup_s": setup_s,
    }
    log(f"{len(walls)} timed runs, wall median {wall:.3f}s min {min(walls):.3f}s "
        f"max {max(walls):.3f}s, failed_frac {failed / len(walls):.3f}")
    return {"correct": failed == 0, "attempted": len(walls), "failed": failed,
            "metrics": {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}}


def trace(args, work: str) -> dict:
    from perfbench.tracing import by_call_site, read_event_log, summarize

    wl = make_workload(args.workload, args.seed, work, args.rows)
    session = Session(work, event_log=True)
    m = dict.fromkeys(PER_LAYER, 0.0)
    try:
        setup(session, wl)
        wl.prepare_check(False)
        layer, errors, full_s = wl.trace(session)
        m.update(layer)
        if wl.name == "flagship":
            # the N leg of the N-vs-4N pair: same input and job at 1 slot
            spark = session.start(1)
            wl.prepare(spark)
            wl.warm_up(spark)
            session.tag("full_1slot")
            one_s, res = timed(lambda: wl.run(spark), with_result=True)
            errors += wl.check(res)
            m["scaling.seqs_per_s_1slot"] = wl.inp.n_rows / one_s
            m["scaling_eff"] = one_s / (SLOTS * full_s)
            log(f"scaling_eff {m['scaling_eff']:.3f} (north-rule check >= 0.8: "
                f"{'pass' if m['scaling_eff'] >= 0.8 else 'FAIL'})")
    finally:
        session.close()
    jobs = read_event_log(session.event_dir)
    full = [j for j in jobs if j["tag"] == "full"]
    st = summarize(full)
    m["job.spark_jobs"] = st["spark_jobs"]
    m["job.spark_stages"] = st["spark_stages"]
    for k in ("task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_disk_mb",
              "spill_mem_mb", "output_mb", "task_skew"):
        m[f"stage.{k}"] = st[k]
    for site, s in by_call_site(full).items():
        log(f"stage | {site}: jobs {s['spark_jobs']:.0f} stages {s['spark_stages']:.0f} "
            f"cpu {s['task_cpu_s']:.2f}s gc {s['gc_s']:.2f}s shuffle w/r "
            f"{s['shuffle_write_mb']:.2f}/{s['shuffle_read_mb']:.2f}MB out {s['output_mb']:.2f}MB")
    for k, v in m.items():
        log(f"{k:32s} {v:14.4f} {PER_LAYER[k]}")
    if errors:
        log("FAILED: " + "; ".join(errors[:3]))
    return {"correct": not errors, "attempted": 1, "failed": int(bool(errors)),
            "metrics": {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None, help="input size override (self-test)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="check against a deliberately wrong expected count (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "loongcollector_spark", "__init__.py")):
        print(f"perfbench: no loongcollector_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the short-lived JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    sys.path.insert(0, ROOT)
    try:
        result = (trace if args.trace else measure)(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
