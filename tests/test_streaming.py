"""Structured Streaming tests: watermarked session windows and the
file-source snapshot ingest, both run with availableNow triggers so
they terminate deterministically in CI."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyspark_scd_spark.functions.time import epoch_us
from pyspark_scd_spark.sources.readers import read_parquet_table
from pyspark_scd_spark.streaming import ingest, sessions


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written as a plain parquet dir (micros timestamps) so
    readStream can consume it."""
    out = str(tmp_path_factory.mktemp("events_stream") / "events")
    read_parquet_table(spark, sf_dir, "events").write.mode(
        "overwrite"
    ).parquet(out)
    return out


def test_streaming_sessionize_matches_batch(spark, events_dir, tmp_path):
    ev_stream = spark.readStream.schema(
        spark.read.parquet(events_dir).schema
    ).parquet(events_dir)
    sessionized = sessions.sessionize_stream(
        ev_stream, gap="30 minutes", watermark="10 hours"
    )
    q = (
        sessionized.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sess_out")

    # batch twin: lag-gap sessionization over the same data. Counts of
    # (user, n_events) multisets must agree for all sessions the
    # watermark closed; with availableNow + bounded input, sessions not
    # emitted are only those still open at end-of-stream.
    ev = spark.read.parquet(events_dir)
    from pyspark.sql import Window

    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    marked = ev.withColumn(
        "is_start",
        F.when(
            (epoch_us("ts") - F.lag(epoch_us("ts")).over(wo)).isNull()
            | (
                epoch_us("ts") - F.lag(epoch_us("ts")).over(wo)
                > gap_us
            ),
            1,
        ).otherwise(0),
    )
    batch = (
        marked.withColumn(
            "session_id",
            F.sum("is_start").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )

    got_sessions = {
        (r["user_id"], r["n_events"])
        for r in got.groupBy("user_id", "n_events").count().collect()
    }
    batch_sessions = {
        (r["user_id"], r["n_events"])
        for r in batch.groupBy("user_id", "n_events").count().collect()
    }
    # every emitted streaming session exists in the batch result
    assert got.count() > 0
    assert got_sessions <= batch_sessions


def test_file_source_scd_ingest(spark, tmp_path):
    """foreachBatch + scd_merge over a file-source stream: the
    streaming-native version of the reference's drop-directory loop."""
    from pyspark_scd_spark.jobs import employee_dim
    from tests.test_employee_job import _write_csvs

    base = str(tmp_path / "stream_scd")
    _write_csvs(base, days=range(1, 11))

    from pyspark_scd_spark.profiles import EMP_SNAPSHOT_SCHEMA

    cur_path = str(tmp_path / "cur")
    stream = ingest.stream_csv_snapshots(
        spark,
        f"{base}/input/*.csv",
        EMP_SNAPSHOT_SCHEMA,
        max_files_per_trigger=1,
    )

    def apply_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        # one micro-batch may carry several snapshot days; apply in
        # day order so merge semantics hold
        days = sorted(
            r[0] for r in batch_df.select("snapshot_date").distinct().collect()
        )
        for d in days:
            employee_dim.run_incremental(
                spark,
                batch_df.filter(F.col("snapshot_date") == F.lit(d)),
                cur_path,
            )

    q = ingest.foreach_batch_scd(
        stream, str(tmp_path / "ck2"), apply_batch
    )
    q.awaitTermination(180)

    cur = spark.read.parquet(cur_path)
    rows = {r["employee_number"]: r["change_status"] for r in cur.collect()}
    assert rows[30] == "Deleted"
    assert rows[1] == "No Change"
    assert os.path.isdir(str(tmp_path / "ck2"))


def test_stateful_sessionizer(spark, events_dir, tmp_path):
    """applyInPandasWithState custom sessionizer: closed sessions from
    a bounded stream must match the batch sessionizer's closed
    sessions (the open tail session per user is withheld by design)."""
    ev_stream = spark.readStream.schema(
        spark.read.parquet(events_dir).schema
    ).parquet(events_dir)
    sessions_out = sessions.sessionize_stateful(ev_stream, gap_seconds=1800)
    q = (
        sessions_out.writeStream.format("memory")
        .queryName("stateful_sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_state"))
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT user_id, n_events FROM stateful_sess"
    ).collect()
    got_multiset = sorted((r["user_id"], r["n_events"]) for r in got)

    ev = spark.read.parquet(events_dir)
    from pyspark.sql import Window

    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    d = epoch_us("ts") - F.lag(epoch_us("ts")).over(wo)
    batch = (
        ev.withColumn(
            "is_start", F.when(d.isNull() | (d > gap_us), 1).otherwise(0)
        )
        .withColumn(
            "session_id",
            F.sum("is_start").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts"))
    )
    # closed sessions = all but each user's final session
    w_last = Window.partitionBy("user_id")
    closed_batch = batch.withColumn(
        "max_last", F.max("last_ts").over(w_last)
    ).filter(F.col("last_ts") != F.col("max_last"))
    want_multiset = sorted(
        (r["user_id"], r["n_events"]) for r in closed_batch.collect()
    )
    assert got_multiset == want_multiset
    assert len(got_multiset) > 0


def test_stream_dedup_bounded_state(spark, events_dir, tmp_path):
    from pyspark_scd_spark.streaming.dedup import dedup_stream

    # Double every event: an at-least-once redelivery in the same
    # micro-batch window must collapse to one row per event_id.
    ev = spark.read.parquet(events_dir).limit(200)
    dup_dir = str(tmp_path / "dup_events")
    ev.union(ev).write.mode("overwrite").parquet(dup_dir)

    stream = spark.readStream.schema(ev.schema).parquet(dup_dir)
    deduped = dedup_stream(stream, ["event_id"], horizon="30 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT COUNT(*) AS n FROM dedup_sink").first()["n"]
    assert got == ev.count()


def test_stream_static_enrichment_join(spark, events_dir, sf_dir, tmp_path):
    # Stream-static join: the static dim is re-read per micro-batch
    # (picking up dim updates), the stream side never buffers state.
    ev = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(ev.schema).parquet(events_dir)
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("signup", "growth"),
         ("error", "ops")],
        ["event_type", "category"],
    )
    enriched = stream.join(F.broadcast(dim), "event_type")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT category, COUNT(*) AS n FROM enrich_sink GROUP BY 1"
    ).collect()
    by_cat = {r["category"]: r["n"] for r in got}
    assert by_cat["engagement"] == ev.filter(
        F.col("event_type").isin("click", "view")
    ).count()
    assert set(by_cat) == {"engagement", "revenue", "growth", "ops"}


def test_stream_neardup_signature_store(spark, tmp_path):
    from pyspark_scd_spark.streaming.dedup import neardup_filter_batch

    base = (
        "the quick brown fox jumps over the lazy dog near the wide "
        "river bank while the sun sets slowly behind the old stone "
        "bridge and birds sing"
    )
    batch1 = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark shuffles "
                        "catalyst plans and adaptive query execution at "
                        "scale with many executors")],
        ["doc_id", "text"],
    )
    # 11 = near-dup of 1 (one word changed), 12 = fresh content
    batch2 = spark.createDataFrame(
        [(11, base.replace("slowly", "quickly")),
         (12, "a third corpus document with entirely novel words "
              "flamingo zeppelin quartz marble typhoon ledger apricot "
              "monsoon gravel lantern")],
        ["doc_id", "text"],
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batch1.coalesce(1).write.mode("overwrite").parquet(str(in_dir / "f1"))
    batch2.coalesce(1).write.mode("overwrite").parquet(str(in_dir / "f2"))

    accepted: list[int] = []

    def sink(df, batch_id):
        accepted.extend(r["doc_id"] for r in df.select("doc_id").collect())

    process = neardup_filter_batch(
        str(tmp_path / "sigstore"), accept_sink=sink
    )
    # drive the two parquet dirs as two micro-batches, in order
    b1 = spark.read.parquet(str(in_dir / "f1"))
    b2 = spark.read.parquet(str(in_dir / "f2"))
    process(b1, 0)
    process(b2, 1)

    # 11 must be rejected (near-dup of already-accepted 1);
    # 1, 2, 12 accepted
    assert sorted(accepted) == [1, 2, 12]


def _scd_stream_expected(spark, snaps):
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("snap_date")
    return {
        (r["key"], r["snap_date"]): r["status"]
        for r in snaps.withColumn(
            "status",
            F.when(F.lag("row_hash").over(w).isNull(), "New")
            .when(F.lag("row_hash").over(w) != F.col("row_hash"), "Changed")
            .otherwise("No Change"),
        ).collect()
    }


def _scd_snaps(spark, sf_dir):
    from pyspark_scd_spark.operators import scd
    from pyspark_scd_spark.registry import order_snapshots, SCD_HASH_COLS

    return scd.with_row_hash(
        order_snapshots(spark, sf_dir), SCD_HASH_COLS
    ).select("key", "snap_date", "row_hash")


def test_stateful_stream_scd_matches_batch(spark, sf_dir, tmp_path):
    """Streaming SCD (applyInPandasWithState) must classify every
    snapshot row exactly as the batch lag-window does, minus Deleted
    (absence is undetectable in a row stream — documented
    divergence)."""
    from pyspark_scd_spark.streaming import scd_stream

    snaps = _scd_snaps(spark, sf_dir)
    src = str(tmp_path / "snaps")
    snaps.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = scd_stream.scd_status_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("scd_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["key"], r["snap_date"]): r["change_status"]
        for r in spark.sql("SELECT * FROM scd_stream_out").collect()
    }
    expected = _scd_stream_expected(spark, snaps)
    assert len(got) == len(expected) > 0
    assert got == expected


def test_stream_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    from pyspark_scd_spark.streaming.join import (
        attribution_candidates_stream,
    )

    ev = spark.read.parquet(events_dir)
    schema = ev.schema
    clicks_s = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .filter(F.col("event_type") == "click")
    )
    purch_s = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .filter(F.col("event_type") == "purchase")
    )
    out = attribution_candidates_stream(clicks_s, purch_s)
    q = (
        out.writeStream.format("memory")
        .queryName("attr_candidates")
        .option("checkpointLocation", str(tmp_path / "ck_attr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("select * from attr_candidates").collect()
    }

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("interval 1 hour"))
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(c, cond).collect()
    }
    assert got == want and len(want) > 0


def test_stream_debounce_bursts_chain_across_batches(spark, tmp_path):
    """A burst split across two micro-batches must still debounce as
    ONE burst: the second file's events sit within the gap of the
    first file's last event, so the carried state suppresses them."""
    import pandas as pd

    from pyspark_scd_spark.streaming.dedup import debounce_stream

    src = tmp_path / "src"
    src.mkdir()
    us = 1_000_000
    # file 1: burst opens at t=0s, extends to t=4s
    pd.DataFrame(
        {"event_id": [1, 2], "user_id": [7, 7],
         "event_type": ["click", "click"], "ts_us": [0, 4 * us]}
    ).to_parquet(src / "a.parquet")
    # file 2: t=8s is within 5s of t=4s -> same burst (suppressed);
    # t=20s opens a new burst
    pd.DataFrame(
        {"event_id": [3, 4], "user_id": [7, 7],
         "event_type": ["click", "click"], "ts_us": [8 * us, 20 * us]}
    ).to_parquet(src / "b.parquet")

    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, ts_us bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "out"
    q = (
        debounce_stream(stream, gap_seconds=5)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        r["event_id"] for r in spark.read.parquet(str(out)).collect()
    )
    # leaders: 1 (burst A, spans both files) and 4 (new burst);
    # 2 and 3 suppressed — 3 only if state chained across batches
    assert got == [1, 4]


def _debounce_crash_files(tmp_path):
    """Two source files forming one burst that SPANS the restart
    boundary: events 1,2 (t=0,4s) in file a; 3 (t=8s, within gap of
    t=4s — suppressed only if state survives the restart) and 4
    (t=20s, new burst) in file b."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    us = 1_000_000
    pd.DataFrame(
        {"event_id": [1, 2], "user_id": [7, 7],
         "event_type": ["click", "click"], "ts_us": [0, 4 * us]}
    ).to_parquet(src / "a.parquet")
    b = pd.DataFrame(
        {"event_id": [3, 4], "user_id": [7, 7],
         "event_type": ["click", "click"], "ts_us": [8 * us, 20 * us]}
    )
    return src, b


def _debounce_stream_from(spark, src):
    from pyspark_scd_spark.streaming.dedup import debounce_stream

    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, ts_us bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return debounce_stream(stream, gap_seconds=5)


def test_stream_crash_recovery_restart_from_checkpoint(spark, tmp_path):
    """Kill-and-resume: drain the stream while only HALF the source
    exists (simulating a failure mid-source), then restart a NEW query
    from the SAME checkpoint once the rest has arrived. Recovery must
    (a) reload the stateful operator's state — event 3 is suppressed
    only if the burst state survived the restart — and (b) not re-emit
    run 1's output — the file-source offsets and the parquet sink's
    commit log both live in the checkpoint."""
    src, file_b = _debounce_crash_files(tmp_path)
    out, ck = tmp_path / "out", tmp_path / "ck"

    def run_once():
        q = (
            _debounce_stream_from(spark, src)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()  # run 1: only file a visible; query terminates (the "crash")
    got1 = sorted(r["event_id"] for r in spark.read.parquet(str(out)).collect())
    assert got1 == [1], got1  # leader of the open burst

    file_b.to_parquet(src / "b.parquet")
    run_once()  # run 2: fresh query object, same checkpoint
    got2 = sorted(r["event_id"] for r in spark.read.parquet(str(out)).collect())
    # equals the batch twin over the full source: 2 suppressed in run 1,
    # 3 suppressed ACROSS the restart, 4 opens a new burst; 1 not re-emitted
    assert got2 == [1, 4], got2


def test_manifest_sink_exactly_once_across_restart(spark, tmp_path):
    """The manifest sink's exactly-once claim, exercised end to end:
    a checkpointed foreachBatch stream through idempotent_batch_writer
    is killed mid-source, restarted, and then a completed micro-batch
    is REPLAYED (foreachBatch's documented at-least-once hazard). The
    manifest must hold each batch_id at most once and the committed
    table must equal the batch twin with no duplicates."""
    from pyspark_scd_spark.sources import manifest_sink as MS

    MS.register(spark)
    src, file_b = _debounce_crash_files(tmp_path)
    table, ck = str(tmp_path / "table"), tmp_path / "ck2"
    handler = MS.idempotent_batch_writer(table)

    def run_once():
        q = (
            _debounce_stream_from(spark, src)
            .writeStream.foreachBatch(handler)
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()  # run 1: file a only (crash mid-source)
    df1, m1 = MS.read_manifest_table(spark, table)
    assert sorted(r["event_id"] for r in df1.collect()) == [1], m1

    file_b.to_parquet(src / "b.parquet")
    run_once()  # run 2: restart from checkpoint

    df2, m2 = MS.read_manifest_table(spark, table)
    # simulate a crash-replay of an already-committed micro-batch:
    # rerun the handler with batch_id 0 and run-1's data
    replay_df = spark.createDataFrame(
        [(1, 7, "click", 0)],
        "event_id bigint, user_id bigint, event_type string, ts_us bigint",
    )
    handler(replay_df, 0)
    df3, m3 = MS.read_manifest_table(spark, table)
    assert m3 == m2, "replayed batch mutated the manifest"
    # one committed data file per (micro-batch, non-empty partition);
    # the two leaders land in two batches (maxFilesPerTrigger=1) and
    # a replayed batch adds nothing
    bids = sorted(e["batch_id"] for e in m3["files"])
    assert bids == [0, 1], bids
    got = sorted(r["event_id"] for r in df3.collect())
    assert got == [1, 4], got
    assert m3["total_rows"] == 2
