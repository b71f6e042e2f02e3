"""Stream-stream joins.

The reference has no streaming surface (SURVEY.md §2.12); these are the
extension operators a continuous ingest pipeline needs to correlate two
live streams — e.g. attributing purchases to the click that preceded them.

Stream-stream joins in Spark require (a) watermarks on both sides and
(b) a time-range join condition, so the engine can bound the join state:
each side buffers only rows younger than `watermark + interval`. Without
the range condition state grows forever; with it, state size is
O(rate × (watermark + attribution window)) per side regardless of total
stream length — the property that makes this viable on an unbounded
100 TB/day stream.

Both builders accept streaming OR batch inputs (the join predicate is
identical), which is how the tests pin stream == batch equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import counters

ATTRIBUTION_WINDOW_SECONDS = 3600


def attribute_purchases_to_clicks(
    clicks: DataFrame,
    purchases: DataFrame,
    click_watermark: str = "2 hours",
    purchase_watermark: str = "1 hour",
    observe_as: str | None = None,
) -> DataFrame:
    """Inner interval join: every (click, purchase) pair for the same user
    where the purchase lands within 1 hour AFTER the click.

    The click side keeps the longer watermark: a click must stay in state
    until any purchase inside its attribution window can still arrive
    (purchase_watermark + attribution interval), while purchases can be
    dropped as soon as their own watermark passes.

    `observe_as`: probe-only candidate/output instrumentation (the
    round-8 verdict's interval-join economics ask). When the caller names
    itself AND counters are enabled AND both inputs are batch, the join
    decomposes into the user equi-join (the CANDIDATE stage — every
    same-user click x purchase pair) followed by the interval predicate
    as a filter, with a row counter on each side of the predicate. The
    CollectMetrics node pins the predicate outside the join, so the
    candidate count is real. Production and streaming calls never take
    this path: counters are off in production (plan byte-identical,
    plan_audit-enforced), and a streaming join must carry the range
    condition INSIDE the join condition to bound its state.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", click_watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", purchase_watermark)
    interval = (F.col("purchase_ts") >= F.col("click_ts")) & (
        F.col("purchase_ts")
        <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_SECONDS} SECONDS")
    )
    if observe_as and counters.is_enabled() and not (c.isStreaming or p.isStreaming):
        joined = counters.observe_stage(
            c.join(p, F.col("c_user") == F.col("p_user"), "inner"),
            observe_as,
            "candidates",
        ).filter(interval)
    else:
        joined = c.join(p, (F.col("c_user") == F.col("p_user")) & interval, "inner")
    out = joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        "purchase_value",
    )
    # same streaming guard as the candidate stage above: df.observe with
    # an Observation is rejected on streaming Datasets, and the counters
    # are a batch-probe instrument anyway
    if observe_as and counters.is_enabled() and not out.isStreaming:
        out = counters.observe_stage(out, observe_as, "output")
    return out
