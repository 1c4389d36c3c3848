"""Streaming SCD change tracking with per-entity state.

The reference computes change status by re-windowing the full
accumulated history every run (reference jobs/create_employee_all.py:
111-150). The streaming form keeps ONE row of state per entity — the
last seen row hash — and classifies each arriving snapshot row against
it: the O(history) re-window becomes O(arriving rows) per micro-batch
with O(entities) keyed state, the shape that survives a 100 TB
accumulated history (history size never matters).

The operator, ``scd_status_stream``, is built on
``applyInPandasWithState`` (the GroupState API, on every Spark 3.4+).

Semantics vs the batch operator (operators/scd.py with_change_status):
- New / Changed / No Change match the batch classification.
- Deleted is NOT emitted: absence is undetectable row-by-row in a
  stream without a per-snapshot completeness marker. The batch twin
  (or a foreachBatch reconciliation against the current view) owns
  delete detection — documented divergence, asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _classify(last_hash, hashes, times, last_time=None, ttl_days=None):
    """Fold (hash, time) pairs, already time-ordered, against the
    entity's last (hash, time); returns (statuses, new_last_hash,
    new_last_time). With ``ttl_days``, an entity whose gap since its
    previous snapshot exceeds the TTL re-enters as New — EVENT-time
    expiry, deterministic under replay (unlike the processing-time
    GroupState timeout, which depends on wall-clock)."""
    import pandas as pd

    statuses = []
    for h, t in zip(hashes, times):
        t = pd.Timestamp(t)
        expired = (
            ttl_days is not None
            and last_time is not None
            and (t - last_time).days > ttl_days
        )
        if last_hash is None or expired:
            statuses.append("New")
        elif h != last_hash:
            statuses.append("Changed")
        else:
            statuses.append("No Change")
        last_hash, last_time = h, t
    return statuses, last_hash, last_time


def scd_status_stream(
    snapshots: DataFrame,
    key_col: str = "key",
    time_col: str = "snap_date",
    hash_col: str = "row_hash",
    state_ttl_minutes: int | None = None,
    event_ttl_days: int | None = None,
) -> DataFrame:
    """Classify each streaming snapshot row as New / Changed /
    No Change against per-entity GroupState holding the last row hash.

    Rows within a micro-batch fold in ``time_col`` order, so a batch
    carrying several days of one entity produces the same statuses the
    batch operator would; cross-batch late rows (an earlier snapshot
    arriving after a later one) classify against the newest state —
    the stream's ordering contract, enforce upstream with a watermark
    + sorted replay if required.

    State is one string per entity. ``state_ttl_minutes`` arms a
    processing-time timeout that drops state for entities idle longer
    than the TTL — the knob that bounds state for unbounded key spaces
    (a dropped entity re-enters as New, the correct cold-start
    semantics for dimension keys retired longer than the TTL).

    ``event_ttl_days`` is the DETERMINISTIC expiry twin: it compares
    EVENT times (the snapshot dates themselves), so an entity whose
    gap between consecutive snapshots exceeds the TTL re-enters as
    New regardless of processing wall-clock — replayable, and
    therefore oracle-checkable (registry ``stream_scd_status_ttl``).
    Both knobs bound state semantics; processing-time TTL additionally
    frees the state store.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = snapshots.schema[key_col].dataType
    time_type = snapshots.schema[time_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(key_col, key_type),
            T.StructField(time_col, time_type),
            T.StructField("change_status", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_hash", T.StringType()),
            T.StructField("last_time", T.StringType()),
        ]
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )

    def _fold(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {key_col: [], time_col: [], "change_status": []}
            )
            return
        last_hash = state.get[0] if state.exists else None
        last_time = (
            pd.Timestamp(state.get[1])
            if state.exists and state.get[1] is not None
            else None
        )
        batch = pd.concat(list(pdfs))
        batch = batch.sort_values(time_col, kind="mergesort")
        statuses, last_hash, last_time = _classify(
            last_hash,
            batch[hash_col].tolist(),
            batch[time_col].tolist(),
            last_time=last_time,
            ttl_days=event_ttl_days,
        )
        state.update(
            (last_hash, str(last_time) if last_time is not None else None)
        )
        if state_ttl_minutes is not None:
            state.setTimeoutDuration(state_ttl_minutes * 60 * 1000)
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(statuses),
                time_col: batch[time_col].tolist(),
                "change_status": statuses,
            }
        )

    return snapshots.groupBy(key_col).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )

