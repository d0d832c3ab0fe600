"""Composite point-in-time feature job with hot-key-aware planning.

``pit_enrich`` is the engine's headline composite: strict as-of join + any of
{rolling count, sessionize, forward-fill} in one call, with a skew plan
decided once, at build time:

- **the split**: one small aggregation — per-(entity, bucket) event counts
  of the entities above ``hot_threshold`` — is collected to the driver.  An
  entity is hot when its total exceeds the threshold and, with a rows-mode
  ``rolling_spec``, every interior event bucket (one with earlier and later
  event buckets) holds at least ``rows`` events, so one bucket of context
  rows carries its whole trailing frame.  A hot-count entity with a sparser
  interior bucket is routed to the plain path, which is exact for any
  timeline.  The split enters the plan as literal entity filters.
- **cold entities** (the overwhelming majority): the plain composition — ONE
  shuffle on entity, ONE sort, every window function sharing it.
- **hot entities**: ONE ``skew.pit_fused_bucketed`` call, whose partitions
  are bounded by (entity, bucket) — no task ever sees a whole hot entity —
  and whose other exchanges carry per-(entity, bucket) summaries.
- results unioned.  An empty hot set plans the plain path alone.

At 100 TB the hot set is exactly the Zipf head (a handful of doc_ids holding
double-digit percent of rows); leaving them in the plain path puts 25% of the
dataset in ONE task — an Amdahl floor measured at ~9× the deskewed runtime on
this box.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from feathr_online_spark.operators.asof import asof_join
from feathr_online_spark.operators.skew import _bkt, pit_fused_bucketed
from feathr_online_spark.operators.windows import forward_fill, rolling, sessionize


def hot_entities(df: DataFrame, on: str = "entity", threshold: int = 100_000) -> DataFrame:
    """Entities with more rows than ``threshold`` — the Zipf head.  Tiny
    result (broadcastable) by construction."""
    return df.groupBy(on).agg(F.count(F.lit(1)).alias("__n")).filter(
        F.col("__n") > threshold
    ).select(on)


def _hot_keys(events: DataFrame, on: str, ts: str, threshold: int,
              bucket_seconds: int, rows: int | None) -> list:
    """The entities for the bucketed path (see the module docstring), from
    one collected per-(entity, bucket) count of the entities above
    ``threshold``."""
    counts = events.groupBy(on, _bkt(ts, bucket_seconds).alias("__bkt")).agg(
        F.count(F.lit(1)).alias("__n"))
    heavy = counts.withColumn("__total", F.sum("__n").over(Window.partitionBy(on))).filter(
        F.col("__total") > threshold)
    per = defaultdict(list)
    for e, b, n, _ in heavy.collect():
        per[e].append((b, n))
    if rows is None:
        return list(per)
    return [e for e, bs in per.items() if all(n >= rows for _, n in sorted(bs)[1:-1])]


def pit_enrich(
    events: DataFrame,
    features: DataFrame,
    on: str = "entity",
    left_ts: str = "event_time",
    right_ts: str = "feature_time",
    strict: bool = True,
    rolling_spec: dict | None = None,   # {"name": ..., "col": ..., "fn": ..., "rows": N}
    session_gap: int | None = None,
    ffill_cols: list[str] | None = None,
    hot_threshold: int = 100_000,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """As-of join + windowed derivations with hot/cold split planning.

    ``rolling_spec`` is ROWS-mode, ``{"name", "col", "fn", "rows": N}``, over
    an event column; the frame is the N events before each event.
    ``ffill_cols`` may name event columns or attached feature columns.
    Building the plan runs one small Spark job (the hot/cold split)."""
    if rolling_spec is not None:
        if "rows" not in rolling_spec:
            raise ValueError("pit_enrich rolling_spec needs 'rows' (the last N events); "
                             "pit_fused_bucketed also takes 'range_seconds'")
        if rolling_spec["col"] not in events.columns:
            raise ValueError("pit_enrich rolling_spec col must be an event column, "
                             f"got {rolling_spec['col']!r}")
        rolling_spec = {**rolling_spec, "include_current": False}

    def plain(ev: DataFrame, ft: DataFrame) -> DataFrame:
        out = asof_join(ev, ft, on=on, left_ts=left_ts, right_ts=right_ts, strict=strict)
        if rolling_spec is not None:
            out = rolling(out, {rolling_spec["name"]: (rolling_spec["col"], rolling_spec["fn"])},
                          on=on, ts=left_ts, rows=rolling_spec["rows"], include_current=False)
        if session_gap is not None:
            out = sessionize(out, session_gap, on=on, ts=left_ts)
        if ffill_cols:
            out = forward_fill(out, ffill_cols, on=on, ts=left_ts)
        return out

    hot = _hot_keys(events, on, left_ts, hot_threshold, bucket_seconds,
                    rolling_spec["rows"] if rolling_spec is not None else None)
    if not hot:
        return plain(events, features)
    # features split the same way: a hot entity's feature rows would otherwise
    # stay one giant window partition inside the plain branch
    is_hot = F.col(on).isin([h for h in hot if h is not None])
    if None in hot:
        is_hot = is_hot | F.col(on).isNull()
    is_hot = F.coalesce(is_hot, F.lit(False))
    cold = plain(events.filter(~is_hot), features.filter(~is_hot))
    hot_out = pit_fused_bucketed(
        events.filter(is_hot), features.filter(is_hot), on=on, left_ts=left_ts,
        right_ts=right_ts, strict=strict, ffill_cols=ffill_cols, rolling_spec=rolling_spec,
        session_gap=session_gap, bucket_seconds=bucket_seconds,
    )
    return cold.unionByName(hot_out.select(*cold.columns))
