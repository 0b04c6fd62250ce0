"""Structured Streaming: stateful sessionization via applyInPandasWithState.

Custom stateful operator (SURVEY §2.7 streaming extension): per-user web-log
sessions split on a >gap event-time silence, with the in-progress session
tail carried in GroupState across micro-batches. Semantics are EXACTLY the
batch window-SQL sessionization (__spark_entry__._q_sessionize): same gap
rule (strict >), same second-truncated epoch, same (ts, event_id) ordering,
same ROUND-half-up micros — so a single-batch (availableNow) run is
value-identical to the batch query and oracle-checkable in DuckDB.

State per user: (session_idx, last_ts, n_events, first_event, value_micros)
— the open session's tail. Each batch emits every session it completed plus
the updated in-progress session (update semantics: a later batch that
extends an open session re-emits it with more events; readers keep the row
with max n_events per (user_id, session_idx)).
``run_sessionize_available_now`` drains a table through the package's one
availableNow runner and applies that max-n_events rule.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geo_spark.streaming import run_available_now

_OUT_SCHEMA = (
    "user_id long, session_idx long, n_events long, first_event long, "
    "value_micros long"
)
_STATE_SCHEMA = (
    "session_idx long, last_ts long, n_events long, first_event long, "
    "value_micros long"
)


def sessionize_stateful(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """events stream (event_id, user_id, ts, value) → per-session rows.

    ``value_micros`` is computed JVM-side with the same ROUND expression as
    the batch query before entering Python, so the stateful fold only sums
    integers.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    prepped = events.select(
        "user_id",
        "event_id",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("epoch"),
        F.round(F.col("value") * 1000000, 0).cast("bigint").alias("micros"),
    )

    def fn(key, pdfs, state: "GroupState"):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["epoch", "event_id"])
        if state.exists:
            sidx, last_ts, n_ev, first_ev, vmic = state.get
        else:
            sidx, last_ts, n_ev, first_ev, vmic = 0, None, 0, None, 0
        out = []
        for ep, ev_id, mic in zip(
            rows["epoch"].astype("int64"),
            rows["event_id"].astype("int64"),
            rows["micros"].astype("int64"),
        ):
            ep, ev_id, mic = int(ep), int(ev_id), int(mic)
            if last_ts is None or ep - last_ts > gap_sec:
                if n_ev > 0:
                    out.append((key[0], sidx, n_ev, first_ev, vmic))
                sidx += 1
                n_ev, first_ev, vmic = 0, None, 0
            n_ev += 1
            vmic += mic
            first_ev = ev_id if first_ev is None else min(first_ev, ev_id)
            last_ts = ep
        if n_ev > 0:
            out.append((key[0], sidx, n_ev, first_ev, vmic))  # in-progress tail
            state.update((sidx, last_ts, n_ev, first_ev, vmic))
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_idx", "n_events", "first_event", "value_micros"],
        )

    return prepped.groupBy("user_id").applyInPandasWithState(
        fn, _OUT_SCHEMA, _STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )


def run_sessionize_available_now(
    spark: SparkSession,
    events_path: str,
    gap_sec: int = 1800,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the stateful sessionizer over a parquet dir with availableNow and
    return the final per-session batch DataFrame.

    Re-emitted open sessions (multi-batch runs) are resolved by keeping the
    emission with the most events per (user_id, session_idx)."""
    sunk = run_available_now(
        spark,
        events_path,
        lambda stream: sessionize_stateful(stream, gap_sec),
        mode="update",
        max_files_per_trigger=max_files_per_trigger,
    )
    w = Window.partitionBy("user_id", "session_idx").orderBy(F.col("n_events").desc())
    return (
        sunk.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
