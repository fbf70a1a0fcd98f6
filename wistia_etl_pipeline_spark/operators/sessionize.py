"""Sessionization — gap-based visitor sessions, two ways.

The reference's docx data model implies per-visitor engagement analysis
(`dim_visitor`, watch-time metrics); sessionization is the canonical
derived grain for it:

- :func:`sessionize` — batch gaps-and-islands: ``lag`` + running sum
  over a (user, time) window. One shuffle on the user key; every row
  keeps its session_id (row-grain output).
- :func:`session_rollup` — ``F.session_window`` (built-in session
  aggregation; batch AND streaming): session-grain output. At 100 TB
  prefer this over the window-function form when only aggregates are
  needed — no row_number state, partial-mergeable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(
    df: DataFrame,
    *,
    user: str,
    event_time: str,
    gap_minutes: int = 30,
    tiebreak: str | None = None,
) -> DataFrame:
    """Row-grain session assignment: a new session starts when the gap
    from the previous event of the same user exceeds ``gap_minutes``.

    Output adds ``session_seq`` (1-based per user). Window functions
    shuffle once on ``user``; the running sum is computed within the
    sorted partition — no second exchange. Pass a unique ``tiebreak``
    column when event times can collide (total order ⇒ deterministic
    session numbering).
    """
    order = [F.col(event_time)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(user).orderBy(*order)
    prev = F.lag(event_time).over(w)
    # Gap at MICROS grain (unix_micros), not second-floored cast("long"):
    # integer micros are engine-canonical (NOTES determinism rule #3) and
    # match the session_window / epoch_us convention used everywhere else.
    gap = F.unix_micros(F.col(event_time)) - F.unix_micros(prev)
    new_session = F.when(
        prev.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_seq",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_rollup(
    df: DataFrame,
    *,
    user: str,
    event_time: str,
    gap_minutes: int = 30,
    value: str | None = None,
) -> DataFrame:
    """Session-grain aggregate via the built-in session window (works
    identically on batch DataFrames and streams)."""
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(event_time).alias("session_start"),
        F.max(event_time).alias("session_end"),
    ]
    if value is not None:
        aggs.append(F.sum(value).alias("value_sum"))
    return (
        df.groupBy(
            F.col(user),
            F.session_window(F.col(event_time), f"{gap_minutes} minutes").alias("w"),
        )
        .agg(*aggs)
        .drop("w")
    )

