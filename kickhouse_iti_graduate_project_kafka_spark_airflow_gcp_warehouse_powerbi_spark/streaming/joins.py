"""Watermarked stream-stream joins — bounded-state event enrichment.

The reference enriches events against lookup topics by *batch* joins after
landing (ClickHouse MV joins; `streaming/parts_stream.py` lands them as
foreachBatch parts). When BOTH sides are live streams, the Spark-native answer
is a watermarked interval join: each side declares how late it can be, the
join condition bounds how far apart matching rows' event times may sit, and
the state store holds only rows inside watermark ± interval — bounded
state at any scale, no external table.

State math (100 TB posture): per key, rows are retained for
``watermark_delay + interval_width``; the shuffle is hash-partitioned on
the join key across both streams, so a 1000-executor cluster shards state
horizontally. Skewed keys behave like any skewed shuffle — salt upstream
if one entity dominates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    left_delay: str = "10 minutes",
    right_delay: str = "10 minutes",
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join two watermarked streams on equality keys plus the event-time
    band ``left_ts - lower <= right_ts <= left_ts + upper``.

    Inner joins emit as soon as both sides arrive; outer joins emit the
    null-padded row only once the watermark proves the other side cannot
    come — streaming semantics, identical logical results to the batch
    equivalent."""
    lw = left.withWatermark(left_ts, left_delay)
    rw = right.withWatermark(right_ts, right_delay)
    cond = None
    for k in keys:
        c = lw[k] == rw[k]
        cond = c if cond is None else cond & c
    band = (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lower}")) & (
        rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {upper}")
    )
    joined = lw.join(rw, cond & band, how)
    # drop the duplicated key columns from the right side
    for k in keys:
        joined = joined.drop(rw[k])
    return joined
