"""Custom stateful streaming operator: gap-based sessionizer via
``applyInPandasWithState`` (SURVEY.md §7 phase 5 — the
custom-stateful-operator surface Structured Streaming exposes beyond
built-in windows).

Per user, events within a 30-minute gap belong to one session. Closed
sessions are emitted as soon as a later event proves the gap; the
still-open session is carried in ``GroupState`` across microbatches
(exercised in tests by a 2-file source with ``maxFilesPerTrigger=1``).
The open tail session at end-of-stream stays in state — exactly the
semantics of an unbounded stream, where "the last session" doesn't
exist yet.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

SESSION_GAP_US = 30 * 60 * 1_000_000

OUTPUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, "
    "n_events long, total_value double"
)
STATE_SCHEMA = "start_us long, last_us long, n long, total double"


def _ts_to_us(s: pd.Series) -> pd.Series:
    """Arrow hands the TIMESTAMP column to pandas as datetime64 of
    whatever unit the batch carries (ns historically, us on newer
    stacks, tz-aware if the session attaches one); legacy int64 columns
    are epoch-nanos. Normalize all of them to epoch-µs int64."""
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    if pd.api.types.is_datetime64_any_dtype(s):
        return s.astype("datetime64[us]").astype("int64")
    return s.astype("int64") // 1000  # epoch-nanos long


def _sessionize_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    events: list[tuple[int, float]] = []
    for pdf in pdfs:
        us = _ts_to_us(pdf["ts"])
        events.extend(zip(us.tolist(), pdf["value"].tolist()))
    events.sort()

    if state.exists:
        start_us, last_us, n, total = state.get
    else:
        start_us = last_us = None
        n, total = 0, 0.0

    closed: list[tuple[int, int, int, int, float]] = []
    for ts_us, value in events:
        if start_us is None:
            start_us, last_us, n, total = ts_us, ts_us, 1, float(value)
        elif ts_us - last_us <= SESSION_GAP_US:
            last_us, n, total = ts_us, n + 1, total + float(value)
        else:
            closed.append((user_id, start_us, last_us, n, round(total, 2)))
            start_us, last_us, n, total = ts_us, ts_us, 1, float(value)

    state.update((start_us, last_us, n, total))
    yield pd.DataFrame(
        closed,
        columns=["user_id", "session_start_us", "session_end_us", "n_events", "total_value"],
    )


def stateful_sessions(events: DataFrame) -> DataFrame:
    """Apply the custom sessionizer to a (streaming) events frame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..shipping import ensure_package_shipped

    ensure_package_shipped(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def split_events_stream(
    spark: SparkSession, sf_dir: str, n_splits: int = 2
) -> DataFrame:
    """A multi-batch streaming source: the events table split into
    ``n_splits`` time-ordered files, fed one file per microbatch — so
    state genuinely crosses batch boundaries."""
    import glob
    import os
    import shutil

    from ..operators.index_cache import stage_dir, table_paths
    from ..sources.readers import read_table

    batch = read_table(spark, sf_dir, "events")

    def build(stage: str) -> None:
        cut = int(batch.selectExpr("percentile(unix_micros(ts), 0.5) AS m").first().m)
        for i, pred in enumerate(
            [f"unix_micros(ts) <= {cut}", f"unix_micros(ts) > {cut}"]
        ):
            tmp = os.path.join(stage, f"_tmp{i}")
            batch.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part_file = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dest = os.path.join(stage, f"batch{i}.parquet")
            shutil.move(part_file, dest)
            shutil.rmtree(tmp)
            # the file source orders same-config batches by mtime
            # (oldest first) — pin them so batch0 always streams first
            os.utime(dest, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    stage = stage_dir(
        "stateful_stream", table_paths(sf_dir, ["events"]), n_splits, build
    )
    return (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(stage)
    )
