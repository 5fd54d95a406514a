"""Streaming sessionization: native session_window over micro-batches.

The streaming twin of the batch gap-sessionization family (m2
`prep.sessionize`, m9 native `session_window`): sessions form
incrementally across micro-batches in the state store, merge when a
new event lands within the gap, and emit exactly once when the
watermark guarantees no more events can extend them.

Append-mode emission semantics (probed on this Spark version and
mirrored by the st9 oracle): with watermark delay D, a session whose
window end (last event + gap) is <= max(event time) - D at stream end
is emitted; later sessions remain in state awaiting events that — in a
finite drain — never come. A `0 seconds` watermark therefore emits
everything except sessions still extendable past the final observed
event time, and the boundary is INCLUSIVE (end == watermark emits).

Scale shape: state is keyed by (user, session) and bounded by the
watermark — expired sessions leave the store at emission, so state
size tracks ACTIVE sessions only, not history. This is the property
that lets the same query run for months on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_GAP = "30 minutes"


def stream_session_metrics(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Per-(user, session) metrics over a streaming DataFrame: event
    count plus the session window bounds (end = last event + DEFAULT_GAP,
    Spark's native session_window convention, same as the m9 batch
    query). Works on a batch DataFrame too (watermark skipped) — the
    batch/stream parity the Structured Streaming model promises.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, "0 seconds")
    return (
        df.groupBy(F.col(user_col), F.session_window(ts_col, DEFAULT_GAP))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end_gap"),
            "n_events",
        )
    )
