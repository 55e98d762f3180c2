"""Streaming/batch duality: the streaming hourly rollup must equal the batch
twin (which is itself oracle-checked against DuckDB)."""

from __future__ import annotations

from gmr_spark.streaming.windowed import events_hourly_batch, start_events_hourly_stream

SF = "/root/testdata/sf0.001"


def test_stream_equals_batch(spark):
    q = start_events_hourly_stream(spark, SF, query_name="t_events_hourly")
    try:
        q.processAllAvailable()
        got = {
            (r.hour_epoch, r.event_type): (r.n, r.total_value)
            for r in spark.sql("SELECT * FROM t_events_hourly").collect()
        }
    finally:
        q.stop()
    want = {
        (r.hour_epoch, r.event_type): (r.n, r.total_value)
        for r in events_hourly_batch(spark, SF).collect()
    }
    assert got == want
    assert len(want) > 0


def test_stateful_running_counts(spark):
    from gmr_spark.streaming.stateful import start_user_running_counts

    q = start_user_running_counts(spark, SF, query_name="t_user_counts")
    try:
        q.processAllAvailable()
        got = {
            (r.user_id): r.n_events
            for r in spark.sql(
                "SELECT user_id, MAX(n_events) AS n_events FROM t_user_counts GROUP BY user_id"
            ).collect()
        }
    finally:
        q.stop()
    from gmr_spark.sources.tables import load_tables

    want = {
        r.user_id: r.n
        for r in load_tables(spark, SF)["events"].groupBy("user_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == want


def test_foreach_batch_sink(spark, tmp_path):
    import os

    from gmr_spark.streaming.windowed import _windowed_agg, read_events_stream

    out_dir = str(tmp_path / "hourly_out")
    events = read_events_stream(spark, SF)
    agg = _windowed_agg(events.withWatermark("ts", "1 hour"))

    def sink(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (agg.writeStream.outputMode("complete").foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert os.path.isdir(out_dir)
    written = spark.read.parquet(out_dir)
    from gmr_spark.streaming.windowed import events_hourly_batch

    assert written.count() == events_hourly_batch(spark, SF).count()


def test_streaming_dedup_equals_batch_distinct(spark):
    from gmr_spark.streaming.dedup import start_events_dedup_stream
    from gmr_spark.sources.tables import load_tables

    q = start_events_dedup_stream(spark, SF, query_name="t_events_dedup")
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.event_type)
            for r in spark.sql("SELECT * FROM t_events_dedup").collect()
        }
    finally:
        q.stop()
    events = load_tables(spark, SF)["events"]
    want = {
        (r.user_id, r.event_type)
        for r in events.select("user_id", "event_type").distinct().collect()
    }
    assert got == want
    assert len(want) > 0


def test_transform_with_state_totals_equals_batch(spark):
    """transformWithStateInPandas (Spark 4 arbitrary-state API) running
    per-user totals must equal the batch groupBy on the same file. Skips
    where the API's protobuf dependency is absent (this container) — the
    applyInPandasWithState duality test above still covers the stateful
    capability."""
    import pytest

    from gmr_spark.streaming.stateful import start_user_value_totals, tws_available

    if not tws_available():
        pytest.skip("google.protobuf absent: transformWithStateInPandas unusable")
    q = start_user_value_totals(spark, SF, query_name="t_user_totals")
    try:
        q.processAllAvailable()
        got = {
            r.user_id: (r.total_value, r.n_events)
            for r in spark.sql(
                "SELECT user_id, MAX(total_value) AS total_value,"
                " MAX(n_events) AS n_events FROM t_user_totals GROUP BY user_id"
            ).collect()
        }
    finally:
        q.stop()
    from pyspark.sql import functions as F

    from gmr_spark.sources.tables import load_tables

    want = {
        r.user_id: (r.tv, r.n)
        for r in load_tables(spark, SF)["events"].groupBy("user_id")
        .agg(F.round(F.sum("value"), 6).alias("tv"),
             F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(got) == set(want)
    for uid, (tv, n) in want.items():
        gtv, gn = got[uid]
        assert gn == n and abs(gtv - tv) < 1e-6, (uid, got[uid], (tv, n))


def test_tws_gate_mirrors_environment():
    """Environment assertion behind the transformWithStateInPandas skip
    (round-5 verdict item 6): the gate must track the REAL protobuf
    availability, so if the container ever grows a working protobuf the
    duality test above converts from skip to run in the same session —
    a rotted twin then fails loudly instead of hiding behind a stale gate."""
    from gmr_spark.streaming.stateful import tws_available

    try:
        from google.protobuf import descriptor  # noqa: F401
        have_protobuf = True
    except ImportError:
        have_protobuf = False
    assert tws_available() == have_protobuf


def test_sliding_stream_equals_batch(spark):
    """The SLIDING-window streaming rollup must equal its declared batch
    twin (every event in exactly two 2h/1h windows) — same duality pin the
    tumbling window has."""
    from gmr_spark.streaming.windowed import (events_sliding_batch,
                                              start_events_sliding_stream)

    q = start_events_sliding_stream(spark, SF, query_name="t_sliding")
    try:
        q.processAllAvailable()
        got = {
            (r.window_epoch, r.event_type): (r.n, r.total_value)
            for r in spark.sql("SELECT * FROM t_sliding").collect()
        }
    finally:
        q.stop()
    want = {
        (r.window_epoch, r.event_type): (r.n, r.total_value)
        for r in events_sliding_batch(spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_join_equals_batch(spark):
    """Stream-stream inner join (two-sided watermarks, time-range condition)
    emits exactly the batch twin's attribution pairs."""
    from gmr_spark.streaming.joins import (
        attribution_pairs_batch,
        start_attribution_stream,
    )

    q = start_attribution_stream(spark, SF, query_name="t_attrib")
    try:
        q.processAllAvailable()
        got = {
            (r.purchase_id, r.view_id)
            for r in spark.sql("SELECT * FROM t_attrib").collect()
        }
    finally:
        q.stop()
    want = {
        (r.purchase_id, r.view_id)
        for r in attribution_pairs_batch(spark, SF).collect()
    }
    assert got == want
    assert len(want) > 0


def test_session_window_stream_append_duality(spark):
    """Append-mode session windows emit exactly the batch twin's rows for
    every session the watermark closed; sessions still open at end-of-input
    remain in state (the production contract). With a 0-second watermark
    delay, the final watermark is the max event time, so any session whose
    end precedes it must have been emitted."""
    from pyspark.sql import functions as F

    from gmr_spark.sources.tables import load_tables
    from gmr_spark.streaming.windowed import (
        events_session_windows_batch,
        start_events_session_stream,
    )

    q = start_events_session_stream(spark, SF, query_name="t_sessions")
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql("SELECT * FROM t_sessions").collect()}
    finally:
        q.stop()
    batch = {tuple(r) for r in events_session_windows_batch(spark, SF).collect()}
    assert got <= batch, f"stream emitted rows not in batch: {got - batch}"
    max_s = load_tables(spark, SF)["events"].agg(
        F.max(F.col("ts").cast("long"))).first()[0]
    must_emit = {r for r in batch if r[2] < max_s}  # end < final watermark
    assert must_emit <= got, f"closed sessions not emitted: {must_emit - got}"
    assert len(got) > 0


def _recovery_scenario(spark, tmp_path):
    """Shared crash-recovery drill (see the two tests below for the
    contract): inject a sink failure after a partial write, restart from
    the same checkpoint, assert epoch resume + idempotent replay + exact
    state recovery against the batch twin."""
    import pytest
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gmr_spark.sources.tables import load_tables
    from gmr_spark.streaming.windowed import (
        _windowed_agg,
        events_hourly_batch,
        read_events_stream,
    )

    # 6-part NTZ corpus (multiple files -> multiple micro-batches),
    # range-partitioned by ts; the ``stream`` scale family's layout at
    # test size
    src = str(tmp_path / "src")
    ev = load_tables(spark, SF)["events"].withColumn(
        "ts", F.expr("CAST(ts AS TIMESTAMP_NTZ)"))
    (ev.select("event_id", "ts", "user_id", "event_type", "value", "props")
       .repartitionByRange(6, "ts").write.parquet(src))

    # generous watermark: recovery semantics must not depend on drop timing
    # (file arrival order is mtime-based and all 6 parts share one mtime)
    opts = {"pathGlobFilter": "*.parquet", "maxFilesPerTrigger": "1"}
    ckpt = str(tmp_path / "ckpt")
    out_root = str(tmp_path / "out")
    CRASH_EPOCH = 3
    crashed = {"flag": False}

    def make_sink(fail_once: bool):
        def sink(batch_df, epoch_id):
            if fail_once and epoch_id == CRASH_EPOCH and not crashed["flag"]:
                batch_df.limit(1).write.mode("overwrite").parquet(
                    f"{out_root}/epoch={epoch_id}")
                crashed["flag"] = True
                raise RuntimeError("injected sink failure")
            batch_df.write.mode("overwrite").parquet(
                f"{out_root}/epoch={epoch_id}")
        return sink

    def start(fail_once: bool):
        events = read_events_stream(spark, src, options=opts).withWatermark(
            "ts", "30 days")
        return (_windowed_agg(events).writeStream.outputMode("update")
                .foreachBatch(make_sink(fail_once))
                .option("checkpointLocation", ckpt).start())

    q = start(fail_once=True)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert crashed["flag"], "fault injector never fired"

    q2 = start(fail_once=False)
    try:
        q2.processAllAvailable()
        replayed = [int(p["batchId"]) for p in q2.recentProgress]
    finally:
        q2.stop()
    # (1) resumed from the offset log: nothing before the failed epoch reran
    assert replayed and min(replayed) == CRASH_EPOCH, replayed

    # (2)+(3): final state per key = the row from its LAST update epoch;
    # across crash + replay it must equal the batch twin bit for bit
    got_df = spark.read.option("basePath", out_root).parquet(out_root)
    w = W.partitionBy("hour_epoch", "event_type").orderBy(F.col("epoch").desc())
    latest = got_df.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    got = {(r.hour_epoch, r.event_type): (r.n, r.total_value)
           for r in latest.collect()}
    want = {(r.hour_epoch, r.event_type): (r.n, r.total_value)
            for r in events_hourly_batch(spark, SF).collect()}
    assert got == want
    assert len(want) > 0


def test_stream_recovers_from_checkpoint_exactly_once(spark, tmp_path):
    """Crash-recovery contract — the operational half of the 100 TB
    streaming story that duality tests don't touch. A streaming aggregation
    is killed mid-run by an injected sink failure (after a PARTIAL output
    write, like a real task death); restarted from the SAME checkpoint it
    must (1) resume at the failed epoch rather than batch 0, (2) replay that
    epoch with the SAME epoch_id so the idempotent per-epoch sink erases the
    partial write, and (3) recover the state store so the reconstructed
    final state equals the batch twin exactly."""
    _recovery_scenario(spark, tmp_path)


def test_stream_recovery_under_rocksdb_state_store(spark, tmp_path):
    """The same crash-recovery contract under the RocksDB state store
    provider — the 100 TB state path (windowed/session/join state spills to
    local disk instead of the default HDFS-backed in-memory map, which
    caps state at executor heap). The provider is read at query start from
    the session conf; restored after so other tests keep the default."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        _recovery_scenario(spark, tmp_path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow — the production batch-drain mode (bounded run
    over everything available, then self-terminate; the pattern a 100 TB
    backfill uses instead of a forever-running query). The query must stop
    on its own, process every micro-batch (maxFilesPerTrigger still caps
    batch size under AvailableNow), and produce the batch twin's result."""
    from pyspark.sql import functions as F

    from gmr_spark.sources.tables import load_tables
    from gmr_spark.streaming.windowed import (
        _windowed_agg,
        events_hourly_batch,
        read_events_stream,
    )

    src = str(tmp_path / "src")
    ev = load_tables(spark, SF)["events"].withColumn(
        "ts", F.expr("CAST(ts AS TIMESTAMP_NTZ)"))
    (ev.select("event_id", "ts", "user_id", "event_type", "value", "props")
       .repartitionByRange(4, "ts").write.parquet(src))

    events = read_events_stream(
        spark, src, options={"pathGlobFilter": "*.parquet",
                             "maxFilesPerTrigger": "1"}
    ).withWatermark("ts", "30 days")
    q = (_windowed_agg(events).writeStream.outputMode("complete")
         .format("memory").queryName("t_available_now")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "availableNow query did not self-stop"
    n_batches = sum(1 for p in q.recentProgress if int(p["numInputRows"]) > 0)
    assert n_batches == 4, [p["numInputRows"] for p in q.recentProgress]
    got = {(r.hour_epoch, r.event_type): (r.n, r.total_value)
           for r in spark.sql("SELECT * FROM t_available_now").collect()}
    want = {(r.hour_epoch, r.event_type): (r.n, r.total_value)
            for r in events_hourly_batch(spark, SF).collect()}
    assert got == want and len(want) > 0
