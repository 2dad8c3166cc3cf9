"""Routing: row-level logstore router + group-level flusher conditions.

* ``route_rows`` — aggregator_logstore_router semantics: anchored full-match
  regexes tried in order, first hit wins, non-matching rows → default sink or
  dropped (plugins/aggregator/logstorerouter/aggregator_router.go:97-133).
  Compiles to ONE chained when/otherwise — a single projection, no shuffle.
* ``sink_conditions`` — Router fan-out semantics
  (core/collection_pipeline/route/Router.cpp:50-82): unconditional sinks always
  receive a copy; conditional sinks receive rows matching their Condition
  (event_type equality or tag equality, Condition.cpp:36-113). A row can go to
  MULTIPLE sinks: ``tag_sinks`` explodes each row to the index of every sink
  it matches, which ``fan_out`` splits into one DataFrame per sink and
  ``sources/io.py::write_sinks`` writes in one pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SINK_COL = "__sink"  # index of a row's sink in tag_sinks' output


@dataclass(frozen=True)
class RouteRule:
    regex: str  # full-match on the key's value (anchored automatically)
    sink: str


def _anchor(r: str) -> str:
    # Wrap in a non-capturing group BEFORE anchoring: bare "^" + "json|delimiter"
    # + "$" would anchor only the alternation's outer branches ("^json" OR
    # "delimiter$"), matching 'json2' / 'xdelimiter' — not a full match. The
    # group makes the anchors apply to the whole pattern; redundant inner
    # anchors (a user-supplied "^foo$") stay valid inside the group.
    return rf"^(?:{r})$"


def route_rows(
    df: DataFrame,
    rules: list[RouteRule],
    source_key: str = "source",
    default_sink: str | None = "default",
    route_col: str = "route",
    fields_col: str = "fields",
) -> DataFrame:
    """First-match-wins anchored regex routing into a ``route`` column.

    ``default_sink=None`` reproduces DropDisMatch (aggregator_router.go:97-133):
    non-matching rows are dropped.
    """
    src = F.col(source_key) if source_key in df.columns else F.col(fields_col)[source_key]
    expr: Column | None = None
    for rule in rules:
        cond = src.isNotNull() & src.rlike(_anchor(rule.regex))
        expr = F.when(cond, F.lit(rule.sink)) if expr is None else expr.when(cond, F.lit(rule.sink))
    if expr is None:
        expr = F.lit(default_sink)
    else:
        expr = expr.otherwise(F.lit(default_sink))
    out = df.withColumn(route_col, expr)
    if default_sink is None:
        out = out.filter(F.col(route_col).isNotNull())
    return out


@dataclass(frozen=True)
class SinkCondition:
    """Condition (core/collection_pipeline/route/Condition.cpp).

    type: 'always' (unconditional flusher) | 'event_type' | 'tag' | 'route'.
    """

    sink: str
    type: str = "always"
    key: str = ""
    value: str = ""
    discard_tag: bool = False  # DiscardingTag removes the tag after routing


def sink_predicate(cond: SinkCondition, df_cols: list[str]) -> Column:
    if cond.type == "always":
        return F.lit(True)
    if cond.type == "event_type":
        return F.col("event_type") == F.lit(cond.value)
    if cond.type == "tag":
        return F.col("tags")[cond.key] == F.lit(cond.value)
    if cond.type == "route":
        return F.col("route") == F.lit(cond.value)
    raise ValueError(f"unknown condition type {cond.type!r}")


def tag_sinks(df: DataFrame, conditions: list[SinkCondition]) -> DataFrame:
    """Router.cpp:50-82 multi-sink duplication as one projection: each row is
    exploded to the index (``__sink``) of every condition it matches, so a
    row in k sinks becomes k rows. A ``tag`` condition with ``discard_tag``
    removes the tag from its own copy only (Condition.cpp:62-113)."""
    dup = {c.sink for c in conditions if sum(x.sink == c.sink for x in conditions) > 1}
    if dup:
        raise ValueError(
            f"fan_out: duplicate sink name(s) {sorted(dup)} — each later "
            "condition would silently REPLACE the earlier one's rows; give "
            "each condition a distinct sink (or pre-merge the conditions)"
        )
    sink = F.col(SINK_COL)
    matches = F.array(*[F.when(sink_predicate(c, df.columns), F.lit(i)) for i, c in enumerate(conditions)])
    out = df.withColumn(SINK_COL, F.explode(F.filter(matches, lambda x: x.isNotNull())))
    for i, c in enumerate(conditions):
        if c.type == "tag" and c.discard_tag:
            dropped = F.map_filter(F.col("tags"), lambda k, _: k != F.lit(c.key))
            out = out.withColumn("tags", F.when(sink == i, dropped).otherwise(F.col("tags")))
    return out


def fan_out(df: DataFrame, conditions: list[SinkCondition]) -> dict[str, DataFrame]:
    """Each sink's rows as its own DataFrame; a row may appear in several
    sinks. Caller should ``df.persist()`` first so the routed plan is computed
    once (``sources/io.py::write_sinks`` writes all sinks in one pass)."""
    tagged = tag_sinks(df, conditions)
    return {c.sink: tagged.filter(F.col(SINK_COL) == i).drop(SINK_COL) for i, c in enumerate(conditions)}
