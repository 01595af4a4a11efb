"""True Structured Streaming tests: the streaming plans must produce
exactly what their batch mirrors produce (Spark's unified model), via
file sources + availableNow triggers + memory sinks."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import load_table
from sample_emr_on_eks_fgac_iceberg_spark.streaming import (
    dedup_within_watermark,
    read_event_stream,
    run_to_memory,
    session_window_counts,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events written to a directory the file stream source can tail."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    return path


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_stream_tumbling_matches_batch(spark, sf_dir, events_dir):
    stream = tumbling_counts(
        read_event_stream(spark, events_dir).withWatermark("ts", "2 hours")
    )
    run_to_memory(stream, "tumbling_out", output_mode="complete")
    got = spark.table("tumbling_out")
    batch = tumbling_counts(load_table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(batch)


def test_stream_session_window_matches_batch(spark, sf_dir, events_dir):
    stream = session_window_counts(
        read_event_stream(spark, events_dir).withWatermark("ts", "2 hours")
    )
    run_to_memory(stream, "session_out", output_mode="complete")
    got = spark.table("session_out")
    batch = session_window_counts(load_table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(batch)


def test_stream_dedup_within_watermark(spark, sf_dir, events_dir):
    stream = dedup_within_watermark(read_event_stream(spark, events_dir))
    run_to_memory(stream, "dedup_out", output_mode="append")
    got = spark.table("dedup_out")
    batch = load_table(spark, sf_dir, "events")
    n_keys = batch.select("user_id", "event_type").distinct().count()
    # one survivor per (user_id, event_type); keys must match exactly
    assert got.count() == n_keys
    assert _rows(got.select("user_id", "event_type")) == _rows(
        batch.select("user_id", "event_type").distinct()
    )


def test_stream_foreach_batch_sink(spark, events_dir, tmp_path):
    """foreachBatch → parquet (the production sink pattern)."""
    out = str(tmp_path / "sink")
    stream = tumbling_counts(
        read_event_stream(spark, events_dir).withWatermark("ts", "2 hours")
    )

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() > 0


def test_stateful_running_totals_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState must carry per-user state across
    micro-batches: replay events as TWO files processed one per
    trigger; the LAST update per user must equal the batch group-by."""
    from pyspark.sql import functions as F

    from sample_emr_on_eks_fgac_iceberg_spark.streaming import (
        running_user_totals,
    )

    src = str(tmp_path / "two_chunks")
    events = load_table(spark, sf_dir, "events")
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.filter(F.col("event_id") % 2 == 1)
    half.coalesce(1).write.mode("append").parquet(src)
    other.coalesce(1).write.mode("append").parquet(src)

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("running_two")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("running_two")
    # multiple updates per user are expected (one per micro-batch that
    # touched the user); totals must be non-decreasing and the max must
    # equal the batch aggregate
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value").alias("total_value"),
    )
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0
        ).alias("total_value"),
    )
    assert _rows(final) == _rows(batch)
    # state really carried: at least one user saw two cumulative updates
    multi = got.groupBy("user_id").count().filter(F.col("count") >= 2).count()
    assert multi > 0


@pytest.mark.slow
def test_watermark_drops_late_events(spark, sf_dir, tmp_path):
    """Late-data semantics: an event older than (max event time seen -
    watermark) arriving in a later micro-batch must NOT reopen its
    closed window in append mode."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    src = str(tmp_path / "late")
    base = dt.datetime(2024, 6, 1, 10, 0, 0)

    def ev(eid, minutes, uid=1):
        return Row(
            event_id=eid,
            ts=base + dt.timedelta(minutes=minutes),
            user_id=uid,
            event_type="click",
            value=1.0,
            props="{}",
        )

    import glob
    import os
    import time

    # batch 1: events up to 12:00 → watermark (1h) advances to 11:00
    # batch 2: a 12:30 event — the 10:00-11:00 window's state is
    #          evicted at the end of this batch (watermark >= end)
    # batch 3: a 10:05 event, hours late — its window is closed and its
    #          state gone; the watermark filter must drop it
    # (Spark only guarantees the drop once state is evicted, which
    # happens a batch *after* the watermark crosses the window — hence
    # the intermediate batch.)
    batches = [[ev(1, 0), ev(2, 30), ev(3, 120)], [ev(5, 150)], [ev(4, 5)]]
    now = time.time()
    seen: set = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)
        new_files = set(glob.glob(os.path.join(src, "part-*.parquet"))) - seen
        seen |= new_files
        # the file source orders micro-batches by modification time;
        # pin strictly increasing mtimes so replay order is batch order
        for f in new_files:
            os.utime(f, (now + 100 * i, now + 100 * i))

    stream = (
        read_event_stream(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    run_to_memory(stream, "late_out", output_mode="append")
    got = {r["window_start"]: r["n"] for r in spark.table("late_out").collect()}
    # the 10:00 window closed with 2 events; the late 4th must not appear
    assert got.get(base) == 2, got


def test_policy_filter_composes_with_streaming(spark, sf_dir, events_dir):
    """FGAC × streaming (SURVEY.md §7 stage 3's hard part): the
    DataCellsFilter's row filter + column whitelist apply to a
    streaming DataFrame BEFORE the stateful aggregation, so unfiltered
    rows never enter streaming state."""
    from pyspark.sql import functions as F

    from sample_emr_on_eks_fgac_iceberg_spark.policy import DataCellsFilter

    policy = DataCellsFilter(
        name="clicks_only",
        table="events",
        allowed_columns=("ts", "user_id", "event_type"),
        row_filter="event_type = 'click'",
    )
    stream = policy.apply(
        read_event_stream(spark, events_dir).withWatermark("ts", "2 hours")
    )
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    run_to_memory(agg, "fgac_stream_out", output_mode="complete")
    got = spark.table("fgac_stream_out")
    batch = (
        load_table(spark, sf_dir, "events")
        .filter("event_type = 'click'")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert _rows(got) == _rows(batch)
    assert set(got.columns) == {"user_id", "n"}


def test_stream_stream_interval_join(spark, sf_dir, events_dir):
    """Stream-stream join with watermarks + a time-interval condition:
    each purchase joins clicks by the same user within the preceding
    hour. Both sides carry watermarks so join state is bounded; the
    result must equal the identical batch join."""
    from pyspark.sql import functions as F

    def sides(df):
        purchases = (
            df.filter("event_type = 'purchase'")
            .select(
                F.col("event_id").alias("p_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
        )
        clicks = df.filter("event_type = 'click'").select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        return purchases, clicks

    cond = (
        "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"
    )

    sp = read_event_stream(spark, events_dir).withWatermark("ts", "2 hours")
    sc2 = read_event_stream(spark, events_dir).withWatermark("ts", "2 hours")
    s_purch, _ = sides(sp)
    _, s_click = sides(sc2)
    joined = s_purch.join(s_click, F.expr(cond)).select("p_id", "c_id")
    run_to_memory(joined, "ssj_out", output_mode="append")
    got = spark.table("ssj_out")

    b = load_table(spark, sf_dir, "events")
    b_purch, b_click = sides(b)
    expected = b_purch.join(b_click, F.expr(cond)).select("p_id", "c_id")
    assert _rows(got) == _rows(expected)


def test_foreach_batch_into_warehouse(spark, sf_dir, events_dir, tmp_path):
    """foreachBatch → the engine's own warehouse table: the production
    sink pattern (stream lands in a governed, partitioned table that
    FGAC sessions can then query)."""
    from pyspark.sql import functions as F

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "hourly_counts",
        "window_start timestamp, event_type string, n_events bigint, "
        "total_value double",
        partition_by=["event_type"],
    )
    stream = tumbling_counts(
        read_event_stream(spark, events_dir).withWatermark("ts", "2 hours")
    )

    def sink(batch_df, batch_id):
        wh.insert_into("hourly_counts", batch_df)

    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    landed = wh.read_table("hourly_counts")
    batch = tumbling_counts(load_table(spark, sf_dir, "events"))
    assert landed.count() == batch.count()
    # identity partitioning materialized per event_type
    import os

    parts = {
        d
        for d in os.listdir(wh.data_dir("hourly_counts"))
        if d.startswith("event_type=")
    }
    assert len(parts) == 5


def test_stream_static_join_matches_batch(spark, sf_dir, events_dir):
    from sample_emr_on_eks_fgac_iceberg_spark.streaming import enrich_with_segments

    customers = load_table(spark, sf_dir, "customer")
    stream = enrich_with_segments(
        read_event_stream(spark, events_dir), customers
    )
    assert stream.isStreaming
    run_to_memory(stream, "enriched_out", output_mode="append")
    got = spark.table("enriched_out")
    batch = enrich_with_segments(load_table(spark, sf_dir, "events"), customers)
    assert _rows(got) == _rows(batch)


def test_exactly_once_ingestion_replay_fence(spark, events_dir, tmp_path):
    """Idempotent streaming ingestion: a redelivered micro-batch (the
    at-least-once failure mode of foreachBatch) commits nothing — the
    warehouse's (source_id, batch_id) fence skips it. Iceberg/Delta's
    txn-id exactly-once pattern."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
    from sample_emr_on_eks_fgac_iceberg_spark.streaming.ingest import (
        stream_into_warehouse,
        warehouse_sink,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    raw = read_event_stream(spark, events_dir).selectExpr(
        "event_id", "user_id", "event_type", "ts"
    )
    wh.create_table(
        "landed",
        "event_id bigint, user_id bigint, event_type string, ts timestamp",
        partition_by=["event_type"],
    )
    stream_into_warehouse(
        raw, wh, "landed", "ingest-job-1", str(tmp_path / "ckpt"), available_now=True
    )
    n = wh.read_table("landed").count()
    assert n > 0
    snaps = [s for s in wh.snapshots("landed") if s.get("source_id") == "ingest-job-1"]
    assert snaps and all("batch_id" in s for s in snaps)

    # redeliver every committed batch verbatim → all fenced, no growth
    sink = warehouse_sink(wh, "landed", "ingest-job-1")
    batch0 = wh.read_table("landed")
    for s in snaps:
        sink(batch0.limit(5), s["batch_id"])
    assert wh.read_table("landed").count() == n
    # a genuinely new batch id still lands
    assert wh.insert_into("landed", batch0.limit(2), txn=("ingest-job-1", max(s["batch_id"] for s in snaps) + 1))
    assert wh.read_table("landed").count() == n + 2
    # an unrelated source is not fenced by this one
    assert wh.insert_into("landed", batch0.limit(1), txn=("other-job", 0))
    assert wh.read_table("landed").count() == n + 3


def test_ingested_table_tailed_incrementally(spark, events_dir, tmp_path):
    """Downstream incremental consumption: after ingestion, a consumer
    tails the table via read_changes between snapshot fences instead of
    rescanning — the batch analog of a changelog subscription."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
    from sample_emr_on_eks_fgac_iceberg_spark.streaming.ingest import (
        stream_into_warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    raw = read_event_stream(spark, events_dir).selectExpr("event_id", "ts")
    wh.create_table("landed", "event_id bigint, ts timestamp")
    stream_into_warehouse(
        raw, wh, "landed", "job", str(tmp_path / "ckpt"), available_now=True
    )
    fence = wh.current_snapshot_id("landed")
    total = wh.read_table("landed").count()
    assert wh.read_changes("landed", from_snapshot_id=fence).count() == 0
    wh.insert_values("landed", [(10**12, None)])
    delta = wh.read_changes("landed", from_snapshot_id=fence)
    assert [r.event_id for r in delta.collect()] == [10**12]
    assert wh.read_table("landed").count() == total + 1


# ------------------------------------------------- changelog tail (CDC read)
def test_changelog_tail_exactly_once_consumption(spark, tmp_path):
    """The read side of the CDC loop: poll/ack with a durable
    checkpoint — acknowledged snapshots never reprocess (even across
    consumer restarts), unacknowledged ones redeliver."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
    from sample_emr_on_eks_fgac_iceberg_spark.streaming.ingest import ChangelogTail

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", "k int")
    ckpt = str(tmp_path / "tail.ckpt")

    tail = ChangelogTail(wh, "t", ckpt)
    df, head = tail.poll()
    assert head is None and df.count() == 0  # empty table → nothing

    wh.insert_values("t", [(1,)])
    wh.insert_values("t", [(2,)])
    df, head = tail.poll()
    assert sorted(r.k for r in df.collect()) == [1, 2]
    tail.ack(head)

    # crash: new consumer instance, same checkpoint — nothing redelivers
    tail2 = ChangelogTail(wh, "t", ckpt)
    df, head2 = tail2.poll()
    assert head2 is None and df.count() == 0

    # new append, polled but NOT acked → redelivered after restart
    wh.insert_values("t", [(3,)])
    df, head3 = tail2.poll()
    assert [r.k for r in df.collect()] == [3]
    tail3 = ChangelogTail(wh, "t", ckpt)  # no ack happened
    df, head4 = tail3.poll()
    assert [r.k for r in df.collect()] == [3] and head4 == head3
    tail3.ack(head4)
    assert tail3.poll()[1] is None


def test_changelog_tail_rewrite_contract(spark, tmp_path):
    """Appends-only contract surfaced, not silently violated: a CoW
    DELETE in the polled range is skipped (its added files carry only
    rows an earlier append emitted) but an UPDATE — whose rewritten
    files hold rows the tail would otherwise lose — raises
    ChangelogRewriteError unless the consumer opted into skipping."""
    import pytest as _pytest

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
    from sample_emr_on_eks_fgac_iceberg_spark.streaming.ingest import (
        ChangelogRewriteError,
        ChangelogTail,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", "k int, v string")
    ckpt = str(tmp_path / "tail.ckpt")
    tail = ChangelogTail(wh, "t", ckpt)

    wh.insert_values("t", [(1, "a"), (2, "b")])
    _, head = tail.poll()
    tail.ack(head)

    # CoW delete: no new logical rows — poll passes, delta is the
    # append landed after it
    wh.delete_from("t", "k = 1")
    wh.insert_values("t", [(3, "c")])
    df, head = tail.poll()
    assert sorted(r.k for r in df.collect()) == [3]
    tail.ack(head)

    # UPDATE rewrites rows — appends-only tail must refuse by default
    wh.update_where("t", {"v": "'B'"}, "k = 2")
    with _pytest.raises(ChangelogRewriteError) as exc:
        tail.poll()
    assert exc.value.snapshots and exc.value.snapshots[0][1] == "update"
    # checkpoint did not advance — the range stays unacknowledged
    assert ChangelogTail(wh, "t", ckpt, on_rewrite="skip").poll()[0].count() == 0

    # opting in acknowledges past the rewrite explicitly
    skip_tail = ChangelogTail(wh, "t", ckpt, on_rewrite="skip")
    df, head = skip_tail.poll()
    skip_tail.ack(head)
    assert tail.poll()[1] is None  # strict consumer is clean again


def test_read_changes_includes_wap_publish(spark, tmp_path):
    """Rows landing through write-audit-publish appear in the changelog
    when PUBLISHED (not while staged) — previously they never appeared
    at all (publish commits carry operation='publish')."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", "k int")
    wh.insert_values("t", [(1,)])
    base = wh.current_snapshot_id("t")

    df = spark.createDataFrame([(2,)], "k int")
    staged_id = wh.insert_into("t", df, staged=True)
    # staged rows are invisible to the incremental read
    assert wh.read_changes("t", from_snapshot_id=base).count() == 0
    wh.publish_snapshot("t", staged_id)
    assert sorted(
        r.k for r in wh.read_changes("t", from_snapshot_id=base).collect()
    ) == [2]


def test_streaming_cms_merge_equals_batch_sketch(spark, sf_dir, events_dir, tmp_path):
    """Sketch linearity, operationally: per-micro-batch count-min
    partial sketches (over event_type tokens) appended by foreachBatch,
    then summed per (i, bucket), must equal the sketch computed in one
    batch pass over all events — the property that lets a 100 TB
    pipeline maintain heavy-hitter counts incrementally (partial
    aggregation = sketch merge; appending + summing = cross-batch
    merge). maxFilesPerTrigger=1 forces genuinely separate batches."""
    from pyspark.sql import functions as F

    D, W = 4, 64

    def cms_counts(df):
        pairs = df.select(
            F.col("event_type").alias("word"),
            F.explode(F.sequence(F.lit(0), F.lit(D - 1))).alias("i"),
        ).select(
            "i",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("word"))),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("int")
                % W
            ).alias("bucket"),
        )
        return pairs.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("c"))

    # a fresh multi-file copy: the shared events_dir may be one file,
    # which maxFilesPerTrigger can't split into several batches
    src = str(tmp_path / "events_multi")
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(src)
    out = str(tmp_path / "cms_partials")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)

    seen_batches = []

    def sink(batch_df, batch_id):
        seen_batches.append(batch_id)
        cms_counts(batch_df).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert len(seen_batches) > 1, "expected multiple micro-batches"

    merged = (
        spark.read.parquet(out)
        .groupBy("i", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    batch = cms_counts(load_table(spark, sf_dir, "events"))
    assert _rows(merged) == _rows(batch)


def test_streaming_moment_merge_equals_batch_anomaly_flags(
    spark, sf_dir, tmp_path
):
    """Moment-sketch linearity for the anomaly screen
    (operators/temporal.py::events_anomaly_hours): per-micro-batch
    partial moments — (user, hour) counts, then per-user (n, Σ, Σx²)
    require only the per-hour counts — are appended by foreachBatch and
    merged by summation; the flags recomputed from the MERGED hourly
    counts must equal the single-pass batch flags. This is what lets a
    100 TB pipeline keep burst detection incremental: hour counts are
    additive across batches, and every downstream statistic derives
    from them."""
    from pyspark.sql import functions as F

    from sample_emr_on_eks_fgac_iceberg_spark.operators.temporal import (
        events_anomaly_hours,
    )

    src = str(tmp_path / "events_multi")
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(src)
    out = str(tmp_path / "hour_partials")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)

    seen = []

    def sink(batch_df, batch_id):
        seen.append(batch_id)
        batch_df.groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events")).write.mode(
            "append"
        ).parquet(out)

    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert len(seen) > 1, "expected multiple micro-batches"

    hourly = (
        spark.read.parquet(out)
        .groupBy("user_id", "hr")
        .agg(F.sum("n_events").cast("bigint").alias("n_events"))
    )
    stats = hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("n_events").cast("bigint").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("bigint").alias("s2"),
    )
    dev = F.col("n_hours") * F.col("n_events") - F.col("s1")
    var_num = F.col("n_hours") * F.col("s2") - F.col("s1") * F.col("s1")
    merged = hourly.join(stats, "user_id").select(
        "user_id",
        "hr",
        "n_events",
        (
            (F.col("n_hours") >= 3)
            & (dev * dev * (F.col("n_hours") - 1) > 4 * F.col("n_hours") * var_num)
        ).alias("is_anomaly"),
    )
    batch = events_anomaly_hours(spark, sf_dir)
    assert _rows(merged) == _rows(batch)


def test_streaming_upsert_sink_exactly_once_mor(spark, tmp_path):
    """CDC-apply via the upsert sink: each micro-batch MERGEs
    idempotently under write.merge.mode=merge-on-read (one positional
    delete + one append per batch, nothing rewritten), the
    (source_id, batch_id) fence makes replays no-ops, and the final
    table state equals the last version per key."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
    from sample_emr_on_eks_fgac_iceberg_spark.streaming.ingest import upsert_sink

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("dim", "k int, v string, ver int")
    with wh._table_lock("dim"):
        meta = wh._read_meta("dim")
        meta.properties["write.merge.mode"] = "merge-on-read"
        wh._write_meta(meta)
    sink = upsert_sink(wh, "dim", "cdc-1", "t.k = s.k", keys=["k"])

    b0 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, ver int")
    b1 = spark.createDataFrame([(2, "B", 2), (3, "c", 1)], "k int, v string, ver int")
    b2 = spark.createDataFrame([(1, "A", 2)], "k int, v string, ver int")
    sink(b0, 0)
    sink(b1, 1)
    files_after_b1 = set(wh._live_files(wh._read_meta("dim")))
    # replay both committed batches (at-least-once failure mode)
    sink(b0, 0)
    sink(b1, 1)
    assert set(wh._live_files(wh._read_meta("dim"))) == files_after_b1
    sink(b2, 2)
    got = sorted((r.k, r.v, r.ver) for r in wh.read_table("dim").collect())
    assert got == [(1, "A", 2), (2, "B", 2), (3, "c", 1)]
    # merge-on-read shape: upsert batches never rewrote a data file
    for s in wh.snapshots("dim"):
        if s.get("operation") == "merge":
            assert not s.get("removed_files")
    # direct API: a fenced merge reports skipped
    r = wh.merge_into(
        "dim", b2, "t.k = s.k",
        matched_update={"v": "s.v", "ver": "s.ver"}, txn=("cdc-1", 2),
    )
    assert r.get("skipped") is True


def test_upsert_sink_order_by_keeps_last_version_per_key(spark, tmp_path):
    """ADVICE r8: a micro-batch carrying several versions of one key
    must apply the LAST version deterministically when order_by is
    given — not an arbitrary dropDuplicates survivor."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse
    from sample_emr_on_eks_fgac_iceberg_spark.streaming.ingest import upsert_sink

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("dim", "k int, v string, ver int")
    with wh._table_lock("dim"):
        meta = wh._read_meta("dim")
        meta.properties["write.merge.mode"] = "merge-on-read"
        wh._write_meta(meta)
    sink = upsert_sink(wh, "dim", "cdc-o", "t.k = s.k", keys=["k"], order_by="ver")

    # one batch, three versions of k=1 plus one of k=2 — last wins by ver
    b0 = spark.createDataFrame(
        [(1, "v1", 1), (1, "v3", 3), (1, "v2", 2), (2, "b", 1)],
        "k int, v string, ver int",
    )
    sink(b0, 0)
    got = sorted((r.k, r.v, r.ver) for r in wh.read_table("dim").collect())
    assert got == [(1, "v3", 3), (2, "b", 1)]
    # next batch downgrades nothing: version 4 replaces 3 deterministically
    b1 = spark.createDataFrame(
        [(1, "v4", 4), (1, "v0", 0)], "k int, v string, ver int"
    )
    sink(b1, 1)
    got = sorted((r.k, r.v, r.ver) for r in wh.read_table("dim").collect())
    assert got == [(1, "v4", 4), (2, "b", 1)]


def test_stream_stream_join_matches_batch(spark, sf_dir, events_dir):
    """The packaged stream-stream conversion join
    (join_click_purchase_streams) run as TWO watermarked file streams
    must be row-identical to the same function on batch frames — the
    unified-model contract behind the events_stream_stream_conversions
    driver query."""
    from sample_emr_on_eks_fgac_iceberg_spark.streaming.events import (
        join_click_purchase_streams,
    )

    s = join_click_purchase_streams(
        read_event_stream(spark, events_dir).filter("event_type = 'click'"),
        read_event_stream(spark, events_dir).filter("event_type = 'purchase'"),
    )
    assert s.isStreaming
    run_to_memory(s, "sscv_out", output_mode="append")
    got = spark.table("sscv_out")
    e = load_table(spark, sf_dir, "events")
    batch = join_click_purchase_streams(
        e.filter("event_type = 'click'"),
        e.filter("event_type = 'purchase'"),
    )
    assert _rows(got) == _rows(batch)
    assert got.count() > 0


# ---------------------------- policy-mediated streaming (round 12)
@pytest.fixture()
def fgac_engine(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark import healthcare
    from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine

    eng = FgacEngine(spark, str(tmp_path / "wh"))
    healthcare.setup_healthcare(eng)
    return eng


def _drain(sdf, sess, name, mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the memory sink registers in the session that started the stream
    return sess.spark.table(name)


def test_secure_stream_agg_equals_batch_policy_filtered(fgac_engine):
    """SURVEY §7 Stage 3: the policy filter applies BEFORE the stateful
    aggregate — team 1's streamed patients rollup equals its batch
    policy-filtered result row-for-row (VERDICT r11 missing #2)."""
    from pyspark.sql import functions as F

    s1 = fgac_engine.session_for("team1")
    sdf = s1.readStream("patients")
    assert sdf.isStreaming
    agg = sdf.groupBy("state").agg(F.count(F.lit(1)).alias("n"))
    got = _rows(_drain(agg, s1, "sec_agg", "complete"))
    batch = _rows(
        s1.sql("SELECT state, count(*) AS n FROM patients GROUP BY state")
    )
    assert got == batch and len(got) == 2  # Texas + New York only


def test_secure_stream_rows_equal_batch_rows(fgac_engine):
    s1 = fgac_engine.session_for("team1")
    out = _drain(s1.readStream("patients"), s1, "sec_rows", "append")
    assert _rows(out) == _rows(s1.sql("SELECT * FROM patients"))
    assert out.count() == 8


def test_secure_stream_hides_filtered_columns_at_plan_time(fgac_engine):
    """Column-level security holds on the unbounded frame: ssn is
    absent from the stream schema before any micro-batch runs."""
    sdf = fgac_engine.session_for("team1").readStream("patients")
    assert "ssn" not in sdf.columns
    with pytest.raises(Exception):  # unresolvable, never data
        sdf.select("ssn")


def test_secure_stream_denies_ungranted_principal_at_plan_time(fgac_engine):
    """team 2 holds no patients grant: readStream raises BEFORE any
    micro-batch — the reference's vend-at-job-start model."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        AccessDeniedException,
    )

    s2 = fgac_engine.session_for("team2")
    with pytest.raises(AccessDeniedException):
        s2.readStream("patients")
    # and an unknown table denies identically (no existence oracle)
    with pytest.raises(AccessDeniedException):
        s2.readStream("no_such_table")


def test_secure_stream_masked_column_vends_masked_bytes(fgac_engine, spark):
    """A mask composes with streaming: the streamed column carries only
    masked values through the stateful plan."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import DataCellsFilter

    fgac_engine.policy.create_data_cells_filter(
        DataCellsFilter(
            name="masked_ssn_stream",
            table="patients",
            allowed_columns=None,
            row_filter=None,
            column_masks={"ssn": "concat('XXX-XX-', substr(ssn, 8, 4))"},
        )
    )
    fgac_engine.policy.grant(
        "auditor", "patients", filter_name="masked_ssn_stream"
    )
    sa = fgac_engine.session_for("auditor")
    out = _drain(sa.readStream("patients"), sa, "sec_mask", "append")
    vals = [r["ssn"] for r in out.collect()]
    assert len(vals) == 12 and all(v.startswith("XXX-XX-") for v in vals)


def test_stream_table_refuses_non_append_history(spark, tmp_path):
    """The raw streaming source mirrors Iceberg's contract: delete/
    overwrite snapshots, MoR delete files, staged WAP snapshots, and
    schema evolution refuse at stream-definition time."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("t", "k bigint, v string")
    wh.insert_values("t", [(1, "a"), (2, "b")])
    assert wh.stream_table("t").isStreaming  # append-only: fine
    wh.delete_from("t", "k = 1")
    with pytest.raises(ValueError, match="append-only"):
        wh.stream_table("t")

    wh.create_table("u", "k bigint, v string")
    wh.insert_values("u", [(1, "a")])
    wh.rename_column("u", "v", "w")
    with pytest.raises(ValueError, match="evolved|renamed"):
        wh.stream_table("u")


def test_secure_stream_sees_post_start_appends(fgac_engine):
    """A second availableNow drain picks up ONLY-new committed appends
    (checkpointed incremental tail), still policy-filtered."""
    import tempfile

    s1 = fgac_engine.session_for("team1")
    ckpt = tempfile.mkdtemp(prefix="sec_ckpt_")
    seen: list[tuple] = []

    def sink(df, _bid):
        seen.extend((r["patient_id"], r["patient_name"]) for r in df.collect())

    def drain():
        q = (
            s1.readStream("patients")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert len(seen) == 8
    # append: one Texas row (passes filter) and one Ohio row (filtered)
    fgac_engine.sql(
        "INSERT INTO patients VALUES "
        "(1013, 'Pat Stream', DATE '1999-01-01', 'F', 'Austin', 'Texas', "
        "'111-22-3333', TIMESTAMP '2024-01-01 00:00:00', "
        "TIMESTAMP '2024-01-01 00:00:00'), "
        "(1014, 'Ohio Row', DATE '1999-01-02', 'M', 'Columbus', 'Ohio', "
        "'111-22-4444', TIMESTAMP '2024-01-01 00:00:00', "
        "TIMESTAMP '2024-01-01 00:00:00')"
    )
    drain()
    names = {n for _, n in seen}
    assert "Pat Stream" in names and "Ohio Row" not in names
    assert len(seen) == 9  # 8 originals + exactly the new Texas row


def test_stream_table_restores_partition_values(spark, tmp_path):
    """Streaming a hidden-partitioned table returns the LOGICAL schema:
    identity partition values restored from the directory layout with
    declared types, engine-managed transform columns (ts_day) absent,
    and the drained rows equal to the batch read row-for-row."""
    import datetime as dt

    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table(
        "ev",
        "event_id bigint, ts timestamp, city string, v double",
        partition_by=["city", "day(ts)"],
    )
    wh.insert_values(
        "ev",
        [
            (1, dt.datetime(2024, 1, 1, 10), "austin", 1.5),
            (2, dt.datetime(2024, 1, 2, 11), "nyc", 2.5),
            (3, dt.datetime(2024, 1, 2, 12), "austin", 3.5),
        ],
    )
    sdf = wh.stream_table("ev")
    assert sdf.isStreaming
    assert sdf.columns == ["event_id", "ts", "city", "v"]  # logical order
    q = (
        sdf.writeStream.format("memory")
        .queryName("part_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = _rows(spark.table("part_stream"))
    batch = _rows(wh.read_table("ev").select("event_id", "ts", "city", "v"))
    assert got == batch and len(got) == 3


# ----------------------- policy-mediated streaming WRITES (round 13)
@pytest.fixture()
def write_engine(spark, tmp_path):
    """Engine with a streamable source table and an empty landing
    table, plus principals exercising every grant combination the
    stream-write surface distinguishes."""
    from sample_emr_on_eks_fgac_iceberg_spark.engine import FgacEngine
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        DELETE,
        INSERT,
        SELECT,
    )

    eng = FgacEngine(spark, str(tmp_path / "wh"))
    eng.warehouse.create_table("src_ev", "k bigint, v string, ver bigint")
    eng.warehouse.insert_values(
        "src_ev", [(1, "a", 1), (2, "b", 1), (1, "a2", 2)]
    )
    eng.warehouse.create_table("landed", "k bigint, v string, ver bigint")
    eng.policy.grant("ingestor", "src_ev", {SELECT})
    eng.policy.grant("ingestor", "landed", {INSERT, DELETE})
    eng.policy.grant("reader", "src_ev", {SELECT})
    eng.policy.grant("reader", "landed", {SELECT})
    eng.policy.grant("half", "src_ev", {SELECT})
    eng.policy.grant("half", "landed", {INSERT})  # no DELETE
    return eng


def test_stream_write_granted_ingest_equals_batch_exactly_once(
    write_engine, tmp_path
):
    """A granted principal's streamed ingest lands exactly the source
    rows; a REPLAY under the same source_id (fresh checkpoint → Spark
    reissues the same batch ids) commits nothing — the
    (source_id, batch_id) fence through the policy surface."""
    sess = write_engine.session_for("ingestor")
    q = sess.writeStream_into(
        sess.readStream("src_ev"),
        "landed",
        "job-13",
        str(tmp_path / "ck1"),
    )
    assert q.lastProgress is not None
    got = _rows(write_engine.warehouse.read_table("landed"))
    exp = _rows(write_engine.warehouse.read_table("src_ev"))
    assert got == exp and len(got) == 3
    # replay: new checkpoint, same source_id → same batch ids → fenced
    sess.writeStream_into(
        sess.readStream("src_ev"), "landed", "job-13", str(tmp_path / "ck2")
    )
    assert write_engine.warehouse.read_table("landed").count() == 3
    # a different source_id is NOT fenced — it lands its own copy
    sess.writeStream_into(
        sess.readStream("src_ev"), "landed", "job-14", str(tmp_path / "ck3")
    )
    assert write_engine.warehouse.read_table("landed").count() == 6


def test_stream_write_ungranted_denies_at_sink_definition(
    write_engine, tmp_path
):
    """SELECT-only on the target: writeStream_into raises BEFORE any
    micro-batch — the write-side twin of readStream's plan-time denial
    (VERDICT r12 missing #1: raw sinks checked no principal)."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        AccessDeniedException,
    )

    sess = write_engine.session_for("reader")
    stream = sess.readStream("src_ev")
    with pytest.raises(AccessDeniedException):
        sess.writeStream_into(stream, "landed", "leak", str(tmp_path / "ckd"))
    assert write_engine.warehouse.read_table("landed").count() == 0
    # unknown table denies identically (no existence oracle)
    with pytest.raises(AccessDeniedException):
        sess.writeStream_into(
            stream, "no_such", "leak", str(tmp_path / "ckd2")
        )
    # the denial is auditable like every other authorization decision
    assert ("reader", "landed", "INSERT", "denied") in (
        write_engine.policy.audit_log
    )


def test_upsert_stream_demands_insert_and_delete(write_engine, tmp_path):
    """An upsert sink rewrites matched rows — INSERT alone is refused
    at sink definition (same INSERT+DELETE rule as batch UPDATE/MERGE);
    with both grants the stream applies last-version-per-key."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        AccessDeniedException,
    )

    half = write_engine.session_for("half")
    stream = half.readStream("src_ev")
    with pytest.raises(AccessDeniedException):
        half.upsert_writeStream_into(
            stream, "landed", "cdc", "t.k = s.k", ["k"],
            str(tmp_path / "cku0"),
        )
    assert write_engine.warehouse.read_table("landed").count() == 0

    sess = write_engine.session_for("ingestor")
    sess.upsert_writeStream_into(
        sess.readStream("src_ev"),
        "landed",
        "cdc",
        "t.k = s.k",
        ["k"],
        str(tmp_path / "cku1"),
        order_by="ver",
    )
    got = sorted(
        (r["k"], r["v"], r["ver"])
        for r in write_engine.warehouse.read_table("landed").collect()
    )
    # k=1 keeps ver 2 (last version per key), k=2 its only version
    assert got == [(1, "a2", 2), (2, "b", 1)]


# ------------------------------ streaming shared views (round 13)
def test_stream_shared_view_batch_equivalent(fgac_engine):
    """Team 1 tails a PRODUCER view: the body re-secures under team 1
    with streaming sources (invoker's rights) — drained rows equal the
    batch read through the same view."""
    fgac_engine.sql(
        "CREATE VIEW patient_cities AS SELECT patient_id, city, state "
        "FROM patients"
    )
    s1 = fgac_engine.session_for("team1")
    sdf = s1.readStream("patient_cities")
    assert sdf.isStreaming and sdf.columns == ["patient_id", "city", "state"]
    out = _drain(sdf, s1, "sv_rows", "append")
    batch = s1.sql("SELECT patient_id, city, state FROM patient_cities")
    assert _rows(out) == _rows(batch)
    assert out.count() == 8  # TX/NY only: team 1's own filter applied


def test_stream_shared_view_denies_ungranted_at_definition(fgac_engine):
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        AccessDeniedException,
    )

    fgac_engine.sql(
        "CREATE VIEW patient_states_sv AS SELECT state FROM patients"
    )
    s2 = fgac_engine.session_for("team2")  # no patients grant
    with pytest.raises(AccessDeniedException):
        s2.readStream("patient_states_sv")


def test_stream_own_view_and_nested_view(fgac_engine):
    """A consumer's OWN view streams too, including one that references
    a shared producer view (nested resolution, cycle-guarded)."""
    fgac_engine.sql(
        "CREATE VIEW sv_base AS SELECT patient_id, state FROM patients"
    )
    s1 = fgac_engine.session_for("team1")
    s1.sql("CREATE VIEW sv_tx AS SELECT patient_id FROM sv_base WHERE state = 'Texas'")
    out = _drain(s1.readStream("sv_tx"), s1, "sv_tx_rows", "append")
    assert sorted(r["patient_id"] for r in out.collect()) == [
        1005, 1006, 1007, 1008,
    ]


def _stream_rows(sess, view, name):
    return _rows(_drain(sess.readStream(view), sess, name, "append"))


def test_stream_view_cte_shadowing_a_table_drains_its_batch_rows(fgac_engine):
    """A CTE named after a table the reader holds no grant on is a local
    relation: the stream reads what the parse names (claims), as the
    batch read does, and audits no denial."""
    s2 = fgac_engine.session_for("team2")
    s2.sql(
        "CREATE VIEW v_cte AS WITH patients AS (SELECT patient_id FROM claims) "
        "SELECT patient_id FROM patients"
    )
    batch = _rows(s2.sql("SELECT * FROM v_cte"))
    before = len(fgac_engine.policy.audit_log)
    assert _stream_rows(s2, "v_cte", "sv_cte_rows") == batch and len(batch) == 10
    assert [e for e in fgac_engine.policy.audit_log[before:] if e[3] == "denied"] == []


def test_stream_view_column_named_like_a_table_drains_its_batch_rows(fgac_engine):
    """A column that shares its name with a table (``state``) is no
    relation of the view body."""
    fgac_engine.sql("CREATE TABLE state (code STRING)")
    s1 = fgac_engine.session_for("team1")
    s1.sql("CREATE VIEW v_state AS SELECT patient_id, state FROM patients")
    batch = _rows(s1.sql("SELECT * FROM v_state"))
    assert _stream_rows(s1, "v_state", "sv_state_rows") == batch and len(batch) == 8


def test_stream_view_backticked_table_drains_its_batch_rows(fgac_engine):
    """A backticked table name streams, and the batch read after the
    stream definition still reads its batch registration."""
    s1 = fgac_engine.session_for("team1")
    s1.sql("CREATE VIEW v_tick AS SELECT patient_id FROM `patients`")
    batch = _rows(s1.sql("SELECT * FROM v_tick"))
    assert _stream_rows(s1, "v_tick", "sv_tick_rows") == batch and len(batch) == 8
    assert not s1.sql("SELECT patient_id FROM patients").isStreaming
    assert _rows(s1.sql("SELECT * FROM v_tick")) == batch


def test_engine_grammar_maintenance_names_only_its_target(fgac_engine):
    """``WRITE ORDERED BY (claims)`` orders by a column: a principal
    holding ALTER on the target needs no grant on the table that shares
    the column's name."""
    from sample_emr_on_eks_fgac_iceberg_spark.policy import ALTER

    fgac_engine.sql("CREATE TABLE notes (claims STRING, n BIGINT)")
    fgac_engine.policy.grant("ops", "notes", {ALTER})
    before = len(fgac_engine.policy.audit_log)
    fgac_engine.session_for("ops").sql("ALTER TABLE notes WRITE ORDERED BY (claims)")
    assert fgac_engine.policy.audit_log[before:] == [("ops", "notes", ALTER, "granted")]


def test_stream_view_non_streamable_body_refuses(fgac_engine):
    s1 = fgac_engine.session_for("team1")
    s1.sql("CREATE VIEW sv_const AS SELECT 1 AS one")
    with pytest.raises(ValueError, match="streamable"):
        s1.readStream("sv_const")


def test_stream_view_revoke_denies_next_definition(fgac_engine):
    from sample_emr_on_eks_fgac_iceberg_spark.policy import (
        AccessDeniedException,
    )

    fgac_engine.sql(
        "CREATE VIEW sv_revoke AS SELECT patient_id FROM patients"
    )
    s1 = fgac_engine.session_for("team1")
    assert s1.readStream("sv_revoke").isStreaming
    fgac_engine.policy.revoke("team1", "patients")
    with pytest.raises(AccessDeniedException):
        s1.readStream("sv_revoke")
