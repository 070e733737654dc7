"""Structured Streaming runtime tests: incremental results must equal
the oracle-checked batch queries (batch/stream parity), and the
foreachBatch upsert sink must be idempotent."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pitlapetl_spark import registry, sources
from pitlapetl_spark.streaming import runtime
from tests.conftest import SF_SMOKE

registry.load_all()


@pytest.fixture(scope="module")
def events_dir():
    """File-stream sources list a *directory*; stage the single
    events parquet file into one."""
    tmp = tempfile.mkdtemp(prefix="pitlap_events_src_")
    shutil.copy(f"{SF_SMOKE}/events.parquet", f"{tmp}/events.parquet")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture()
def events_stream(spark, events_dir):
    return runtime.read_events_stream(spark, events_dir)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_stream_matches_batch(spark, events_stream):
    q = runtime.run_to_memory(
        runtime.tumbling_counts(events_stream), "t_tumbling"
    )
    q.awaitTermination(120)
    got = spark.table("t_tumbling")
    want = registry.QUERIES["stream_tumbling_counts"](spark, SF_SMOKE)
    cols = ["window_start", "window_end", "event_type", "n_events", "sum_value"]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_ohlc_stream_matches_batch(spark, events_stream):
    """The streaming OHLC candle (struct argmin/argmax open/close)
    must equal the oracle-checked batch twin — min/max over structs
    are incrementally maintainable aggregates, so first/last per
    window needs no sort and no custom state."""
    q = runtime.run_to_memory(runtime.ohlc_candles(events_stream), "t_ohlc")
    q.awaitTermination(120)
    got = spark.table("t_ohlc")
    want = registry.QUERIES["stream_ohlc_candles"](spark, SF_SMOKE)
    cols = [
        "window_start", "window_end", "user_id",
        "open_v", "close_v", "high_v", "low_v", "n_events", "volume",
    ]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_dedup_stream_preserves_distinct_ids(spark, events_stream):
    q = runtime.run_to_memory(
        runtime.dedup_stream(events_stream), "t_dedup", output_mode="append"
    )
    q.awaitTermination(120)
    got = spark.table("t_dedup")
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert got.count() == src.select("event_id").distinct().count()


def test_session_window_stream_matches_batch(spark, events_stream):
    """Session windows run incrementally (watermark-gated merge of
    open sessions) must produce the same sessions as the
    oracle-checked batch query."""
    agg = (
        events_stream.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "4 hours").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    q = runtime.run_to_memory(agg, "t_sessions", output_mode="complete")
    q.awaitTermination(120)
    got = spark.table("t_sessions")
    want = registry.QUERIES["stream_session_windows"](spark, SF_SMOKE)
    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_stateful_user_totals_matches_batch(spark, events_stream):
    q = runtime.run_to_memory(
        runtime.stateful_user_totals(events_stream),
        "t_stateful",
        output_mode="update",
    )
    q.awaitTermination(120)
    # update mode emits one row per user per batch; the LAST row per
    # user is the final state — with availableNow there is one batch,
    # so no key can time out (timeouts fire in a LATER batch) and all
    # rows are live (is_final = false)
    got = spark.table("t_stateful")
    assert got.filter(F.col("is_final")).count() == 0
    want = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.max("ts").alias("last_event_ts"),
        )
    )
    cols = ["user_id", "n_events", "total_value", "last_event_ts"]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_stateful_user_totals_expires_and_finalizes_segments(spark, tmp_path):
    """The bounded-state contract (VERDICT r6 #1 fix): with a small
    idle TTL and event-time-ordered micro-batches, idle keys must be
    EVICTED — their segment emitted as an ``is_final`` row — and the
    union of finalized segments plus each user's live segment must
    still reconstruct the exact batch totals (emit-on-expiry loses
    nothing). Mirrors debounce's across-batch harness: three
    event-time slices -> three batches, so the watermark advances
    between batches and the timeout path actually fires."""
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    from pitlapetl_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    q1, q2 = (
        ev.select(F.unix_micros("ts").alias("us"))
        .approxQuantile("us", [0.33, 0.66], 0.0)
    )
    us = F.unix_micros(F.col("ts"))
    slices = [
        ev.filter(us <= q1),
        ev.filter((us > q1) & (us <= q2)),
        ev.filter(us > q2),
    ]
    for i, s in enumerate(slices):
        s.coalesce(1).write.parquet(f"{src}/b{i}")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    # tight watermark + 1h TTL so keys idle across a slice boundary
    # get finalized when the next slice advances the watermark
    q = runtime.run_to_memory(
        runtime.stateful_user_totals(
            stream, watermark="1 minute", idle_ttl_ms=3600 * 1000
        ),
        "t_stateful_ttl",
        output_mode="update",
    )
    q.awaitTermination(180)
    got = spark.table("t_stateful_ttl")
    finals = got.filter(F.col("is_final"))
    assert finals.count() > 0  # the eviction path must actually fire
    # segment reconstruction: finalized segments + the live segment
    # (the non-final row with the latest last_event_ts AFTER the last
    # final, i.e. max n_events among rows newer than every final) must
    # sum to the batch totals per user
    w = W.partitionBy("user_id")
    final_ts = (
        finals.groupBy("user_id")
        .agg(F.max("last_event_ts").alias("final_ts"))
        .withColumnRenamed("user_id", "f_user")
    )
    live = (
        got.filter(~F.col("is_final"))
        .join(final_ts, F.col("user_id") == F.col("f_user"), "left")
        .filter(
            F.col("final_ts").isNull()
            | (F.col("last_event_ts") > F.col("final_ts"))
        )
        .withColumn("rk", F.row_number().over(w.orderBy(F.desc("n_events"))))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_events", "total_value")
    )
    recon = (
        finals.select("user_id", "n_events", "total_value")
        .unionByName(live)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("total_value"), 3).alias("total_value"),
        )
    )
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 3).alias("total_value"),
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(recon, *cols) == _rows(want, *cols)


def test_stream_static_enrich_matches_batch(spark, events_stream):
    """Stream-static broadcast enrichment must equal the same join in
    batch: every event row enriched with the static per-user dim."""
    batch_events = sources.load_table(spark, SF_SMOKE, "events")
    user_dim = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("hist_events"),
        F.round(F.sum("value"), 4).alias("hist_value"),
    )
    q = runtime.run_to_memory(
        runtime.stream_static_enrich(events_stream, user_dim),
        "t_enrich",
        output_mode="append",
    )
    q.awaitTermination(120)
    got = spark.table("t_enrich")
    want = batch_events.join(F.broadcast(user_dim), "user_id", "left")
    cols = ["event_id", "user_id", "hist_events", "hist_value"]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_stream_stream_join_matches_batch(spark, events_stream):
    """Stream-stream purchase<-click attribution join equals the same
    join run in batch over the full table."""
    q = runtime.run_to_memory(
        runtime.stream_stream_click_purchase_join(events_stream),
        "t_ssjoin",
        output_mode="append",
    )
    q.awaitTermination(120)
    got = spark.table("t_ssjoin")
    batch_events = sources.load_table(spark, SF_SMOKE, "events")
    # batch equivalent: same join body over the static frame
    clicks = batch_events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = batch_events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    )
    want = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 6 hours")),
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "click_ts", "amount")
    cols = ["purchase_id", "click_id", "p_user", "purchase_ts", "click_ts", "amount"]
    assert _rows(got, *cols) == _rows(want, *cols)
    assert got.count() > 0


def test_watermark_drops_late_rows(spark):
    """The late-data policy, exercised deterministically: Spark applies
    the watermark COMMITTED BY THE PREVIOUS BATCH when filtering a new
    batch, so the drop is only guaranteed across runs/batches — two
    sequential availableNow runs share one checkpoint. Run 1 (day-10
    rows) commits watermark 2024-01-09 05:00; run 2 carries a day-5
    straggler (window end < watermark -> filtered at batch start) and
    a day-11 row (aggregated). Within a single batch the drop is
    best-effort and NOT asserted — that was r1's red test."""
    import os

    tmp = tempfile.mkdtemp(prefix="pitlap_late_")
    try:
        src = f"{tmp}/src"
        os.makedirs(src)

        def write_file(rows: list[str]) -> None:
            spark.createDataFrame([(s,) for s in rows], ["s"]).select(
                F.col("s").cast("timestamp").alias("ts"),
                F.lit(1.0).alias("v"),
            ).coalesce(1).write.mode("append").parquet(src)

        def run_once() -> set[str]:
            emitted: list = []
            stream = spark.readStream.schema("ts TIMESTAMP, v DOUBLE").parquet(src)
            agg = (
                stream.withWatermark("ts", "1 day")
                .groupBy(F.window("ts", "1 day").alias("w"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("w.start").alias("window_start"), "n")
            )
            q = (
                agg.writeStream.foreachBatch(
                    lambda df, _bid: emitted.extend(df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {str(r.window_start) for r in emitted}

        write_file(["2024-01-10 01:00:00", "2024-01-10 05:00:00"])
        starts1 = run_once()
        assert any("2024-01-10" in s for s in starts1), starts1

        write_file(["2024-01-05 00:00:00", "2024-01-11 02:00:00"])
        starts2 = run_once()
        assert any("2024-01-11" in s for s in starts2), starts2
        # the day-5 straggler arrived after the committed watermark
        # (2024-01-09 05:00) passed its window: dropped, never emitted
        assert not any("2024-01-05" in s for s in starts2), starts2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_foreachbatch_upsert_idempotent(spark, events_stream, events_dir):
    tmp = tempfile.mkdtemp(prefix="pitlap_stream_")
    try:
        agg = (
            events_stream.withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )
        q = runtime.run_upsert_sink(
            agg, f"{tmp}/table", ["window_start", "event_type"], f"{tmp}/ckpt"
        )
        q.awaitTermination(120)
        final = spark.read.parquet(f"{tmp}/table")
        want = (
            sources.load_table(spark, SF_SMOKE, "events")
            .groupBy(
                F.window(F.col("ts"), "1 day").alias("w"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        )
        cols = ["window_start", "event_type", "n_events"]
        assert _rows(final, *cols) == _rows(want, *cols)

        # replaying the same (already-committed) data must not change state:
        # a second availableNow run over the same checkpoint sees no new files
        q2 = runtime.run_upsert_sink(
            runtime.read_events_stream(spark, events_dir)
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events"),
            f"{tmp}/table",
            ["window_start", "event_type"],
            f"{tmp}/ckpt",
        )
        q2.awaitTermination(120)
        final2 = spark.read.parquet(f"{tmp}/table")
        assert _rows(final2, *cols) == _rows(final, *cols)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_upsert_sink_no_data_loss_across_batches(spark):
    """Regression for the r1 sink bug: in update output mode a later
    micro-batch carries ONLY changed (window, event_type) rows; the old
    partition-overwrite sink then deleted every earlier window of that
    event_type. The MERGE sink must keep untouched windows intact
    across two sequential availableNow runs."""
    import os

    tmp = tempfile.mkdtemp(prefix="pitlap_upsert_mb_")
    try:
        src = f"{tmp}/src"
        os.makedirs(src)

        def write_events(rows):
            spark.createDataFrame(
                rows, "ts STRING, event_type STRING, value DOUBLE"
            ).select(
                F.col("ts").cast("timestamp").alias("ts"),
                "event_type",
                "value",
            ).coalesce(1).write.mode("append").parquet(src)

        def run_once():
            stream = spark.readStream.schema(
                "ts TIMESTAMP, event_type STRING, value DOUBLE"
            ).parquet(src)
            agg = (
                stream.withWatermark("ts", "30 days")
                .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"))
                .select(
                    F.col("w.start").alias("window_start"),
                    "event_type",
                    "n_events",
                )
            )
            q = runtime.run_upsert_sink(
                agg,
                f"{tmp}/table",
                ["window_start", "event_type"],
                f"{tmp}/ckpt",
            )
            q.awaitTermination(120)

        write_events(
            [
                ("2024-01-01 01:00:00", "click", 1.0),
                ("2024-01-02 01:00:00", "click", 1.0),
                ("2024-01-01 02:00:00", "view", 1.0),
            ]
        )
        run_once()
        # batch 2 touches ONLY a new window of 'click'
        write_events([("2024-01-03 01:00:00", "click", 1.0)])
        run_once()

        final = spark.read.parquet(f"{tmp}/table")
        got = {
            (str(r.window_start)[:10], r.event_type): r.n_events
            for r in final.collect()
        }
        assert got == {
            ("2024-01-01", "click"): 1,
            ("2024-01-02", "click"): 1,  # r1 sink silently deleted these
            ("2024-01-01", "view"): 1,
            ("2024-01-03", "click"): 1,
        }, got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_tws_user_profile_matches_batch(spark, events_stream):
    """transformWithStateInPandas (Spark 4.x arbitrary-state API) must
    reproduce the batch per-user profile; needs the RocksDB state
    store provider (set per-query here) and the protobuf package for
    Spark's state-server wire format — absent in this container, so
    the test SKIPS rather than stubs (runtime.tws_user_profile
    docstring records the dependency)."""
    pytest.importorskip("google.protobuf")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = runtime.run_to_memory(
            runtime.tws_user_profile(events_stream),
            "t_tws_profile",
            output_mode="update",
        )
        q.awaitTermination(120)
        got = spark.table("t_tws_profile")
        want = (
            spark.read.parquet(f"{SF_SMOKE}/events.parquet")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
                F.max(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                ).alias("max_purchase"),
            )
        )
        cols = ["user_id", "n_events", "total_value", "max_purchase"]
        assert _rows(got, *cols) == _rows(want, *cols)
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_dedup_ingest_sink_drops_store_dups_and_grows_store(spark, tmp_path):
    """Two micro-batch rounds of the streaming crawl-ingest dedup:
    batch 1 bootstraps the signature store; batch 2 contains one
    exact dup and one prefix-shifted near-dup of stored docs plus two
    fresh docs — the dups must be dropped, the fresh docs appended to
    BOTH the corpus and the store, and a third round containing a dup
    of a batch-2 doc must drop it (the store grew)."""
    import random

    from pitlapetl_spark.streaming.runtime import (
        read_documents_stream,
        run_dedup_ingest_sink,
    )

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    store, corpus, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
    )
    rng = random.Random(7)

    def doc(i, text):
        return (i, text, "en", f"src{i}", len(text))

    def text_for(i, n=40):
        return " ".join(f"w{i}x{rng.randrange(10**6)}" for _ in range(n))

    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def run_round(rows, fname):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(incoming))
        q = run_dedup_ingest_sink(
            read_documents_stream(spark, str(incoming)), store, corpus, ckpt
        )
        q.awaitTermination(120)

    t0, t1, t2 = text_for(0), text_for(1), text_for(2)
    run_round([doc(0, t0), doc(1, t1), doc(2, t2)], "b1")
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} == {0, 1, 2}

    t11 = text_for(11)
    run_round(
        [
            doc(10, t0),  # exact dup of stored doc 0
            doc(13, "shifted prefix pad " + t1),  # near-dup of stored doc 1
            doc(11, t11),  # fresh
            doc(12, text_for(12)),  # fresh
        ],
        "b2",
    )
    ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert ids == {0, 1, 2, 11, 12}, ids

    run_round([doc(20, t11), doc(21, text_for(21))], "b3")
    ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert ids == {0, 1, 2, 11, 12, 21}, ids
    # store rows mirror the corpus exactly
    assert {r.doc_id for r in spark.read.parquet(store).collect()} == ids


def test_cdc_sink_matches_batch_snapshot_across_batches(spark, tmp_path):
    """Stream the event log in several file-batches (file order is
    arbitrary, so batches arrive out of time order) through the CDC
    sink; the final store must equal the batch cdc_latest_state
    snapshot exactly — same keys (tombstoned users absent), same
    winning (ts, type, value) per key."""
    src = tmp_path / "src"
    store = str(tmp_path / "cdc_store")
    ckpt = str(tmp_path / "ckpt")
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    # 3 files -> 3 micro-batches with maxFilesPerTrigger=1; salted
    # split so a user's events spread across batches
    events.withColumn("_b", F.col("event_id") % 3).write.partitionBy(
        "_b"
    ).mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema(events.withColumn("_b", F.lit(0)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .drop("_b")
    )
    q = runtime.run_cdc_sink(stream, store, ckpt)
    q.awaitTermination(120)
    got = _rows(
        runtime.cdc_store_state(spark, store),
        "user_id", "last_ts", "last_type", "last_value",
    )
    from pitlapetl_spark.registry import QUERIES

    want = _rows(
        QUERIES["cdc_latest_state"](spark, SF_SMOKE),
        "user_id", "last_ts", "last_type", "last_value",
    )
    assert got == want
    assert len(got) > 0


def test_cdc_sink_full_replay_is_idempotent(spark, tmp_path):
    """The docstring's replay claim, proven: re-running the ENTIRE
    stream against the already-populated store (fresh checkpoint = a
    full source replay, the worst case) must leave the store
    byte-identical — the store-vs-batch winner election absorbs
    already-applied events."""
    src = tmp_path / "src"
    store = str(tmp_path / "cdc_store")
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    events.withColumn("_b", F.col("event_id") % 2).write.partitionBy(
        "_b"
    ).mode("overwrite").parquet(str(src))

    def run(ckpt):
        stream = (
            spark.readStream.schema(events.withColumn("_b", F.lit(0)).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .drop("_b")
        )
        q = runtime.run_cdc_sink(stream, store, str(tmp_path / ckpt))
        q.awaitTermination(120)

    run("ckpt1")
    first = _rows(
        runtime.cdc_store_state(spark, store),
        "user_id", "last_ts", "last_type", "last_value",
    )
    run("ckpt2")  # fresh checkpoint: every batch replays
    second = _rows(
        runtime.cdc_store_state(spark, store),
        "user_id", "last_ts", "last_type", "last_value",
    )
    assert first == second and len(first) > 0


def test_dedup_ingest_replay_and_intra_batch(spark, tmp_path):
    """The rewritten exactly-once contract: (1) a batch containing an
    internal dup pair keeps only the lowest doc_id (intra-batch
    dedup); (2) a FULL source replay (fresh checkpoint — the
    upper bound of any crash-recovery replay) overwrites the same
    batch-scoped directories and leaves corpus, store, and band table
    row-identical."""
    import random

    from pitlapetl_spark.streaming.runtime import (
        read_documents_stream,
        run_dedup_ingest_sink,
    )

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")
    rng = random.Random(11)
    text = " ".join(f"t{rng.randrange(10**6)}" for _ in range(40))
    fresh = " ".join(f"u{rng.randrange(10**6)}" for _ in range(40))
    rows = [
        (1, text, "en", "s", len(text)),
        (2, text, "en", "s", len(text)),  # intra-batch exact dup of 1
        (3, fresh, "en", "s", len(fresh)),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(incoming))

    def run(ckpt):
        q = run_dedup_ingest_sink(
            read_documents_stream(spark, str(incoming)),
            store,
            corpus,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(120)

    run("ck1")
    ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert ids == {1, 3}, ids  # 2 dropped intra-batch, lowest id kept

    def snap(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    before = (snap(corpus), snap(store), snap(store + "_bands"))
    run("ck2")  # full replay with a fresh checkpoint
    assert (snap(corpus), snap(store), snap(store + "_bands")) == before


def test_streaming_csv_ingest_preserves_micros_and_batches(spark):
    """CSV directory ingestion through readStream with the formats
    module's pinned micros timestampFormat: three dropped files become
    micro-batches (maxFilesPerTrigger=1), every micros-precision
    timestamp survives the text hop exactly, and the aggregated
    result matches the batch read of the same directory — the
    crawl-landing-zone pattern (scrapers drop CSV, the pipeline tails
    the dir)."""
    import os

    from pitlapetl_spark.operators.formats import CSV_OPTS

    tmp = tempfile.mkdtemp(prefix="pitlap_csvstream_")
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        rows = [
            (1, "2024-03-01 12:00:00.000001", 1.5),
            (2, "2024-03-01 12:00:00.789123", 2.5),
            (3, "2024-03-02 00:00:00.999999", 3.5),
        ]

        def write_file(batch):
            w = (
                spark.createDataFrame(batch, "id LONG, s STRING, v DOUBLE")
                .select("id", F.col("s").cast("timestamp").alias("ts"), "v")
                .coalesce(1)
                .write.mode("append")
                .format("csv")
            )
            for k, val in CSV_OPTS.items():
                w = w.option(k, val)
            w.save(src)

        for r in rows:
            write_file([r])

        seen_batches: list[int] = []
        got: list = []
        reader = spark.readStream.schema("id LONG, ts TIMESTAMP, v DOUBLE")
        for k, val in CSV_OPTS.items():
            reader = reader.option(k, val)
        stream = reader.option("maxFilesPerTrigger", 1).format("csv").load(src)
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: (seen_batches.append(bid), got.extend(df.collect()))
            )
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        assert len(seen_batches) == 3  # one micro-batch per dropped file
        micros = {r.id: r.ts.microsecond for r in got}
        assert micros == {1: 1, 2: 789123, 3: 999999}
        batch_rows = {r.id: r.ts for r in (
            spark.read.schema("id LONG, ts TIMESTAMP, v DOUBLE")
            .options(**CSV_OPTS)
            .csv(src)
            .collect()
        )}
        assert batch_rows == {r.id: r.ts for r in got}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_scoped_upsert_sink_touches_only_batch_partitions(spark):
    """The partition-scoped streaming upsert: two micro-batches over
    disjoint partition values — batch 2 must leave batch 1's partition
    bytes untouched (mtime proof), the final table must equal the
    batch aggregate of all input, and a full replay from a fresh
    checkpoint must converge to the same state."""
    import glob
    import os

    from pitlapetl_spark.streaming.runtime import run_upsert_sink_scoped

    tmp = tempfile.mkdtemp(prefix="pitlap_scoped_")
    try:
        src = f"{tmp}/src"
        os.makedirs(src)

        def write_file(rows):
            spark.createDataFrame(
                rows, "event_type string, user_id long, v double"
            ).coalesce(1).write.mode("append").parquet(src)

        def run(ckpt):
            stream = (
                spark.readStream.schema("event_type string, user_id long, v double")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            agg = stream.groupBy("event_type", "user_id").agg(
                F.sum("v").alias("total")
            )
            q = run_upsert_sink_scoped(
                agg, f"{tmp}/table", ["event_type", "user_id"],
                "event_type", ckpt,
            )
            q.awaitTermination(180)

        write_file([("click", 1, 1.0), ("click", 2, 2.0)])
        run(f"{tmp}/ckpt")
        click_files = sorted(glob.glob(f"{tmp}/table/event_type=click/*"))
        mtimes = [os.path.getmtime(f) for f in click_files]

        write_file([("view", 3, 5.0)])  # disjoint partition
        run(f"{tmp}/ckpt")
        got = {
            (r.event_type, r.user_id): r.total
            for r in spark.read.parquet(f"{tmp}/table").collect()
        }
        assert got == {("click", 1): 1.0, ("click", 2): 2.0, ("view", 3): 5.0}
        # batch 2 never rewrote the click partition
        assert [
            os.path.getmtime(f)
            for f in sorted(glob.glob(f"{tmp}/table/event_type=click/*"))
        ] == mtimes

        # full replay, fresh checkpoint: same final state
        run(f"{tmp}/ckpt2")
        again = {
            (r.event_type, r.user_id): r.total
            for r in spark.read.parquet(f"{tmp}/table").collect()
        }
        assert again == got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_debounce_stream_matches_batch_across_batches(spark, tmp_path):
    """The stateful streaming debounce must equal the batch
    window_debounce_events over the same events — including gaps that
    SPAN micro-batches (the carry-in timestamp is the state). Events
    are staged as three event-time-ordered files -> three batches.

    Exact-parity contract under state eviction (ADVICE r5 #1 fix):
    ``kept`` matches the batch twin on EVERY row; ``gap_us`` matches
    wherever the stream reports one, and is NULL only where the
    predecessor's state was already evicted — which can only happen
    when the true gap cleared the debounce threshold (so ``kept``
    still agrees). The test asserts all three clauses and that the
    eviction path actually fired (at least one NULL-for-non-NULL)."""
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    from pitlapetl_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events")  # ts as TIMESTAMP (UTC)
    # three ts-range slices, written in order (the operator's in-order
    # arrival contract)
    q1, q2 = (
        ev.select(F.unix_micros("ts").alias("us"))
        .approxQuantile("us", [0.33, 0.66], 0.0)
    )
    us = F.unix_micros(F.col("ts"))
    slices = [
        ev.filter(us <= q1),
        ev.filter((us > q1) & (us <= q2)),
        ev.filter(us > q2),
    ]
    for i, s in enumerate(slices):
        s.coalesce(1).write.parquet(f"{src}/b{i}")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runtime.run_to_memory(
        runtime.debounce_stream(stream), "t_debounce", output_mode="update"
    )
    q.awaitTermination(180)
    got = spark.table("t_debounce")
    want = registry.QUERIES["window_debounce_events"](spark, SF_SMOKE)
    cols = ["event_id", "user_id", "event_type", "gap_us", "kept"]
    g, w = _rows(got, *cols), _rows(want, *cols)
    assert len(g) == len(w)
    from pitlapetl_spark.operators.windows import DEBOUNCE_US

    evicted = 0
    for (gid, gu, gt, ggap, gkept), (wid, wu, wt, wgap, wkept) in zip(g, w):
        assert (gid, gu, gt) == (wid, wu, wt)
        assert gkept == wkept  # the decision is exact on every row
        if ggap is None and wgap is not None:
            # NULL only via eviction, which requires the true gap to
            # have cleared the threshold (kept on both sides)
            assert wgap >= DEBOUNCE_US and wkept
            evicted += 1
        else:
            assert ggap == wgap
    assert evicted > 0  # the eviction path must actually fire here


def test_cms_sink_matches_batch_sketch_and_replays_exactly_once(spark, tmp_path):
    """The stream-maintained CMS (cell-wise mergeable batch
    partitions) must give bit-equal estimates to the batch operator
    over the same events — and a REPLAY must not double-add (the
    additive-state exactly-once trap: overwrite-by-batch, not
    merge-add)."""
    import os

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import read_cms_estimates, run_cms_sink

    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = load_table(spark, SF_SMOKE, "events")
    # three files -> three micro-batches
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )

    def run(ckpt):
        q = run_cms_sink(stream, f"{tmp_path}/store", f"{tmp_path}/{ckpt}")
        q.awaitTermination(180)

    run("ckpt")
    keys = ev.select("user_id").distinct()
    got = {
        r.user_id: r.cms_est
        for r in read_cms_estimates(spark, f"{tmp_path}/store", keys).collect()
    }
    want = {
        r.user_id: r.cms_est
        for r in registry.QUERIES["agg_heavy_hitters_cms"](spark, SF_SMOKE).collect()
    }
    assert got == want
    # an UNSEEN key must estimate from its own (possibly empty) cells
    # — 0 when any cell is empty, never inflated by an inner join over
    # populated cells only, never dropped from the output
    ghost = spark.createDataFrame([(987654321,)], "user_id long")
    ghost_est = read_cms_estimates(spark, f"{tmp_path}/store", ghost).collect()
    assert len(ghost_est) == 1
    assert 0 <= ghost_est[0].cms_est  # present, collision-mass bounded
    # full replay from a fresh checkpoint: overwrite, never double-add
    run("ckpt2")
    again = {
        r.user_id: r.cms_est
        for r in read_cms_estimates(spark, f"{tmp_path}/store", keys).collect()
    }
    assert again == want


def test_monitor_sinks_compaction_preserves_reads(spark, tmp_path):
    """VERDICT r8 item 5: the five additive-partial monitor sinks
    (CMS / CUSUM / PSI / k-anonymity / SPRT) now fold committed store
    partitions into generation partitions. For each, a run with
    aggressive compaction (``compact_every=1``) must produce the
    IDENTICAL read fold to the uncompacted run, and the store must
    actually contain a generation (negative) partition — the
    src_batch provenance each partial now carries is what makes the
    full-row compaction dedup safe for additive state."""
    import os

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        read_cms_estimates,
        read_cusum_changepoints,
        read_kanonymity_audit,
        read_psi_drift,
        read_sprt_decision,
        run_cms_sink,
        run_cusum_sink,
        run_kanonymity_sink,
        run_psi_sink,
        run_sprt_sink,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    cust = load_table(spark, SF_SMOKE, "customer")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            f"{tmp_path}/esrc/b{i}"
        )
        cust.filter(F.col("c_custkey") % 3 == i).coalesce(1).write.parquet(
            f"{tmp_path}/csrc/b{i}"
        )

    def estream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp_path}/esrc/b*")
        )

    def cstream():
        return (
            spark.readStream.schema(cust.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp_path}/csrc/b*")
        )

    keys = ev.select("user_id").distinct()
    ref = ev.limit(400)
    cases = {
        "cms": (
            lambda store, ck, ce: run_cms_sink(estream(), store, ck, compact_every=ce),
            lambda store: read_cms_estimates(spark, store, keys),
            "",
        ),
        "cusum": (
            lambda store, ck, ce: run_cusum_sink(estream(), store, ck, compact_every=ce),
            lambda store: read_cusum_changepoints(spark, store),
            "",
        ),
        "psi": (
            lambda store, ck, ce: run_psi_sink(estream(), ref, store, ck, compact_every=ce),
            lambda store: read_psi_drift(spark, store),
            "/cur",
        ),
        "kanon": (
            lambda store, ck, ce: run_kanonymity_sink(cstream(), store, ck, compact_every=ce),
            lambda store: read_kanonymity_audit(spark, store),
            "",
        ),
        "sprt": (
            lambda store, ck, ce: run_sprt_sink(estream(), store, ck, compact_every=ce),
            lambda store: read_sprt_decision(spark, store),
            "/days",
        ),
    }
    for kind, (run_sink, read_fold, sub) in cases.items():
        folds, parts = [], []
        for tag, ce in (("plain", 10**6), ("compact", 1)):
            store = f"{tmp_path}/{kind}_{tag}"
            q = run_sink(store, f"{tmp_path}/ck_{kind}_{tag}", ce)
            q.awaitTermination(300)
            folds.append(
                sorted(map(str, read_fold(store).collect()))
            )
            parts.append(
                sorted(
                    int(d.split("=", 1)[1])
                    for d in os.listdir(store + sub)
                    if d.startswith("batch=")
                )
            )
        assert folds[0] == folds[1], kind
        assert folds[0], kind  # sanity: non-empty monitor read
        assert all(p >= 0 for p in parts[0]), kind
        assert parts[1][0] < 0, (kind, parts[1])


def test_media_phash_ingest_dedups_across_batches_and_replays_exactly(
    spark, tmp_path
):
    """The hamming-space media ingest sink: a batch-2 re-crawl of
    batch-1 payloads (same bytes, new doc_ids -> phash hamming 0)
    must be dropped against the band store while genuinely new
    payloads survive; intra-batch twins keep only the lowest doc_id;
    and a full replay on a fresh checkpoint converges to the
    identical corpus (batch-scoped overwrite + store-minus-self)."""
    import os
    import shutil

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        read_documents_stream,
        run_media_phash_ingest_sink,
    )

    base = load_table(spark, SF_SMOKE, "documents").limit(20).collect()
    b0 = [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in base]
    # re-crawl of half of b0 under new ids + two genuinely new docs,
    # plus an intra-batch twin pair (same new payload twice)
    fresh1 = "zq xv jk wp md lr bn ct gh sy " * 12
    fresh2 = "aa bb cc dd ee ff gg hh ii jj " * 12
    b1 = (
        [(d + 1_000_000, t, lg, s, n) for d, t, lg, s, n in b0[:10]]
        + [(2_000_001, fresh1, "en", "probe", len(fresh1))]
        + [(2_000_002, fresh2, "en", "probe", len(fresh2))]
        + [(2_000_003, fresh2, "en", "probe", len(fresh2))]  # twin of _002
    )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = str(tmp_path / "src")
    os.makedirs(src)
    # append part-files at the TOP level (file sources don't recurse);
    # the pause keeps mtimes ordered so b0's batch precedes b1's
    import time

    spark.createDataFrame(b0, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    def run(ckpt):
        q = run_media_phash_ingest_sink(
            read_documents_stream(spark, src, max_files_per_trigger=1),
            str(tmp_path / "store"),
            str(tmp_path / "corpus"),
            str(tmp_path / ckpt),
        )
        q.awaitTermination(300)
        return {
            r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
        }

    got = run("ckpt1")
    # expected batch-1 survivors: intra-batch near-dups (hamming <=
    # HAM_MAX to ANY lower-id doc) are dropped by the sink — replay
    # the rule brute-force from the hashes
    from pitlapetl_spark.operators.multimodal import PHASH_HAM_MAX, phash_frame

    hashes = {
        r.doc_id: r.phash
        for r in phash_frame(
            spark.createDataFrame(b0, schema).select("doc_id", "text")
        ).collect()
    }
    expected_b0 = {
        d
        for d in hashes
        if not any(
            bin(hashes[d] ^ hashes[e]).count("1") <= PHASH_HAM_MAX
            for e in hashes
            if e < d
        )
    }
    assert expected_b0 == {d for d in got if d < 1_000_000}
    # every re-crawled copy dropped against the store
    assert not any(d + 1_000_000 in got for d, *_ in b0[:10])
    # genuinely new payloads survive; intra-batch twin keeps lowest id
    assert 2_000_001 in got and 2_000_002 in got
    assert 2_000_003 not in got

    # replay from scratch (fresh checkpoint, stores left in place):
    # batch-scoped overwrite + store-minus-self must converge to the
    # identical corpus
    again = run("ckpt2")
    assert again == got


def test_media_phash_ingest_compaction_matches_uncompacted(spark, tmp_path):
    """VERDICT r8 item 5 extension: running the media ingest sink
    with aggressive compaction (``compact_every=1``) must (a) produce
    the IDENTICAL corpus to the uncompacted run — compaction can
    never change a dedup decision — (b) fold the band store's
    committed batch partitions into a single sealed generation
    partition, and (c) preserve the store's full row set exactly
    (the registered ``stream_phash_compacted_parity`` query checks
    the same invariant at the driver's value-hash grain)."""
    import os
    import time

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        read_documents_stream,
        run_media_phash_ingest_sink,
    )

    base = load_table(spark, SF_SMOKE, "documents").limit(16).collect()
    b0 = [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in base[:8]]
    b1 = [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in base[8:]]
    # plus one re-crawl so a cross-batch dedup decision rides on the
    # (possibly compacted) store read
    b1.append((9_000_000,) + b0[0][1:])
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(b0, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    def run(tag: str, compact_every: int):
        q = run_media_phash_ingest_sink(
            read_documents_stream(spark, src, max_files_per_trigger=1),
            str(tmp_path / f"store_{tag}"),
            str(tmp_path / f"corpus_{tag}"),
            str(tmp_path / f"ckpt_{tag}"),
            compact_every=compact_every,
        )
        q.awaitTermination(300)
        corpus = {
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / f"corpus_{tag}")).collect()
        }
        store_rows = {
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / f"store_{tag}"))
            .drop("batch")
            .collect()
        }
        parts = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(tmp_path / f"store_{tag}")
            if d.startswith("batch=")
        )
        return corpus, store_rows, parts

    corpus_u, store_u, parts_u = run("plain", compact_every=10**6)
    corpus_c, store_c, parts_c = run("compact", compact_every=1)
    assert corpus_c == corpus_u  # (a) dedup decisions unchanged
    assert corpus_u  # sanity: the stream actually ingested
    assert 9_000_000 not in corpus_c  # the cross-batch re-crawl died
    assert store_c == store_u  # (c) full row set preserved
    assert all(p >= 0 for p in parts_u)
    # (b): batch 0 folded into a generation before batch 1 committed;
    # batch 1's own partition is never folded (current-batch guard)
    assert parts_c[0] < 0 and 0 not in parts_c and 1 in parts_c


def test_cusum_sink_bit_equal_to_batch_and_replays_exactly_once(spark, tmp_path):
    """The stream-maintained CUSUM (per-batch DECIMAL sum/count
    partials, day means computed only after the fold) must be
    BIT-EQUAL to the batch anomaly_cusum_changepoint over the same
    events — including when micro-batch boundaries split a day —
    and a fresh-checkpoint replay must not double-add."""
    import os

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        read_cusum_changepoints,
        run_cusum_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = load_table(spark, SF_SMOKE, "events")
    # event_id % 4 slicing interleaves every day across all four
    # micro-batches — the day-split merge path is exercised by
    # construction, not by luck
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )

    def run(ckpt):
        q = run_cusum_sink(stream, f"{tmp_path}/store", f"{tmp_path}/{ckpt}")
        q.awaitTermination(180)

    run("ckpt")
    canon = lambda rows: sorted(
        (r.event_type, r.changepoint_day, r.n_days, r.max_abs_cusum)
        for r in rows
    )
    got = canon(read_cusum_changepoints(spark, f"{tmp_path}/store").collect())
    want = canon(
        registry.QUERIES["anomaly_cusum_changepoint"](spark, SF_SMOKE).collect()
    )
    assert got == want
    # every batch partition holds PARTIALS (sum/count), never means:
    # a per-batch mean could not merge across the day split above
    one = spark.read.parquet(f"{tmp_path}/store/batch=0")
    assert set(one.columns) == {"event_type", "day", "sv", "cnt", "src_batch"}
    # replay from a fresh checkpoint: overwrite, never double-add
    run("ckpt2")
    again = canon(read_cusum_changepoints(spark, f"{tmp_path}/store").collect())
    assert again == want


def test_psi_sink_bit_equal_to_batch_and_replays(spark, tmp_path):
    """Feeding the sink ref = first-half events and streaming the
    second half in 3 micro-batches must reproduce stats_psi_drift on
    the whole table BIT-EQUALLY (shared fences + shared
    psi_from_bin_counts tail); a fresh-checkpoint replay must not
    double-add."""
    import os

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import read_psi_drift, run_psi_sink

    ev = load_table(spark, SF_SMOKE, "events").filter(
        F.col("value").isNotNull()
    )
    mm = ev.agg(
        (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))).alias("mm")
    ).collect()[0].mm
    ref = ev.filter(2 * F.unix_micros("ts") < F.lit(mm))
    cur = ev.filter(2 * F.unix_micros("ts") >= F.lit(mm))
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        cur.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )

    def run(ckpt):
        q = run_psi_sink(stream, ref, f"{tmp_path}/store", f"{tmp_path}/{ckpt}")
        q.awaitTermination(180)

    run("ckpt")
    canon = lambda rows: sorted(
        (r.bin, r.n_ref, r.n_cur, r.frac_delta, r.psi_term) for r in rows
    )
    got = canon(read_psi_drift(spark, f"{tmp_path}/store").collect())
    want = canon(registry.QUERIES["stats_psi_drift"](spark, SF_SMOKE).collect())
    assert got == want
    run("ckpt2")
    again = canon(read_psi_drift(spark, f"{tmp_path}/store").collect())
    assert again == want


def test_kanonymity_sink_bit_equal_to_batch_and_replays(spark, tmp_path):
    """Streaming the customer table in 4 interleaved micro-batches
    must reproduce privacy_k_anonymity on the whole table exactly —
    group sizes AND the distinct-band l-diversity fold across the
    batch split — and a fresh-checkpoint replay must not double-add."""
    import os

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        read_kanonymity_audit,
        run_kanonymity_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    cust = load_table(spark, SF_SMOKE, "customer")
    # custkey % 4 slicing interleaves every QI group across all four
    # micro-batches — group sizes and band sets must MERGE, a
    # per-batch audit could not
    for i in range(4):
        cust.filter(F.col("c_custkey") % 4 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    stream = (
        spark.readStream.schema(cust.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )

    def run(ckpt):
        q = run_kanonymity_sink(stream, f"{tmp_path}/store", f"{tmp_path}/{ckpt}")
        q.awaitTermination(180)

    run("ckpt")
    canon = lambda rows: sorted(
        (
            r.nationkey,
            r.mktsegment,
            r.group_size,
            r.l_sensitive,
            r.k_anonymous,
            r.l_diverse,
        )
        for r in rows
    )
    got = canon(read_kanonymity_audit(spark, f"{tmp_path}/store").collect())
    want = canon(registry.QUERIES["privacy_k_anonymity"](spark, SF_SMOKE).collect())
    assert got == want
    # the store holds PARTIALS at the (QI, band) grain — never the
    # audit itself (a per-batch count-distinct could not merge)
    one = spark.read.parquet(f"{tmp_path}/store/batch=0")
    assert set(one.columns) == {"nationkey", "mktsegment", "band", "cnt",
                                 "src_batch"}
    # replay from a fresh checkpoint: overwrite, never double-add
    run("ckpt2")
    again = canon(read_kanonymity_audit(spark, f"{tmp_path}/store").collect())
    assert again == want


def test_oov_sink_bit_equal_to_batch_and_replays(spark, tmp_path):
    """Feeding the sink vocab = even docs and streaming the odd docs
    in 3 micro-batches must reproduce text_oov_rate's corpus totals
    (sum of its per-doc counts) exactly; fresh-checkpoint replay must
    not double-add."""
    import os

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import read_oov_rate, run_oov_sink

    docs = load_table(spark, SF_SMOKE, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(F.col("doc_id") % 2 == 1)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        cur.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(f"{src}/b{i}")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )

    def run(ckpt):
        q = run_oov_sink(stream, ref, f"{tmp_path}/store", f"{tmp_path}/{ckpt}")
        q.awaitTermination(180)

    run("ckpt")
    got = read_oov_rate(spark, f"{tmp_path}/store").collect()[0]
    batch = registry.QUERIES["text_oov_rate"](spark, SF_SMOKE).collect()
    n_tok = sum(r.n_tokens for r in batch)
    n_oov = sum(r.n_oov for r in batch)
    assert (got.n_tokens, got.n_oov) == (n_tok, n_oov)
    assert abs(got.oov_rate - round(n_oov / n_tok, 6)) < 1e-9
    # partials (with their provenance batch id), never rates, in the
    # store — src_batch is the compaction dedup key
    one = spark.read.parquet(f"{tmp_path}/store/cur/batch=0")
    assert set(one.columns) == {"n_tokens", "n_oov", "src_batch"}
    run("ckpt2")
    again = read_oov_rate(spark, f"{tmp_path}/store").collect()[0]
    assert (again.n_tokens, again.n_oov) == (n_tok, n_oov)


def test_error_rate_wilson_stream_matches_batch(spark, events_stream):
    """The streaming Wilson error-rate monitor must equal the
    oracle-checked batch twin bit-for-bit: windowed counts are
    incrementally maintainable and the interval is a deterministic
    post-agg projection of (n, k)."""
    q = runtime.run_to_memory(
        runtime.error_rate_wilson_stream(events_stream), "t_wilson"
    )
    q.awaitTermination(120)
    got = spark.table("t_wilson")
    want = registry.QUERIES["stream_error_rate_wilson"](spark, SF_SMOKE)
    cols = [
        "window_start", "window_end", "n", "k",
        "error_rate", "wilson_lo", "wilson_hi",
    ]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_sprt_sink_bit_equal_to_batch(spark, events_stream, tmp_path):
    """The streaming SPRT monitor folds per-batch day partials
    through the SAME tail as the batch query — the full decision
    trail must be bit-equal to ab_sequential_sprt over the same
    events."""
    store = str(tmp_path / "sprt_store")
    q = runtime.run_sprt_sink(
        events_stream, store, str(tmp_path / "ck_sprt")
    )
    q.awaitTermination(120)
    got = runtime.read_sprt_decision(spark, store)
    want = registry.QUERIES["ab_sequential_sprt"](spark, SF_SMOKE)
    cols = [
        "day", "trials", "successes", "cum_s", "cum_n",
        "cum_llr", "decision",
    ]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_wilson_day_audit_equals_windowed_twin(spark):
    """dq_error_rate_wilson (date-keyed batch audit) and
    stream_error_rate_wilson (window-keyed streaming twin) must agree
    on every day's (n, k, rate, bounds) — the test that makes the
    shared-z-constant twin relationship enforceable instead of
    documented (review catch: the z constant was previously
    copy-pasted)."""
    import pyspark.sql.functions as F

    day_audit = registry.QUERIES["dq_error_rate_wilson"](spark, SF_SMOKE)
    windowed = registry.QUERIES["stream_error_rate_wilson"](
        spark, SF_SMOKE
    ).select(
        F.date_format(F.to_date("window_start"), "yyyy-MM-dd").alias("day"),
        "n", "k", "error_rate", "wilson_lo", "wilson_hi",
    )
    cols = ["day", "n", "k", "error_rate", "wilson_lo", "wilson_hi"]
    assert _rows(day_audit, *cols) == _rows(windowed, *cols)


def test_sprt_sink_replay_safe(spark, events_stream, tmp_path):
    """Restarting the SPRT sink from the same checkpoint must not
    double-count: batch partials are batch-scoped overwrites, so a
    replayed batch lands on the same partition and the decision trail
    is unchanged."""
    store = str(tmp_path / "sprt_store")
    ck = str(tmp_path / "ck_sprt")
    q = runtime.run_sprt_sink(events_stream, store, ck)
    q.awaitTermination(120)
    first = _rows(
        runtime.read_sprt_decision(spark, store),
        "day", "cum_s", "cum_n", "decision",
    )
    # second start from the SAME checkpoint: nothing new to process,
    # and any replayed batch overwrites its own partition
    q2 = runtime.run_sprt_sink(events_stream, store, ck)
    q2.awaitTermination(120)
    second = _rows(
        runtime.read_sprt_decision(spark, store),
        "day", "cum_s", "cum_n", "decision",
    )
    assert first == second


# ------------------------------------------------- store compaction


def _mk_doc(doc_id: int, text: str):
    return (doc_id, text, "en", "s", len(text))


def _write_doc_file(spark, incoming, rows):
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
        str(incoming)
    )


def _batch_parts(path):
    import os

    if not os.path.exists(path):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("batch=")
    )


def test_dedup_ingest_compaction_folds_store_and_keeps_dedup_exact(
    spark, tmp_path
):
    """With compact_every=2 the signature/band stores must fold
    committed batch partitions into negative generation partitions
    (bounding per-batch scan cost — VERDICT r7 item 4) WITHOUT
    changing any dedup decision: a later doc that duplicates one whose
    rows were folded into a generation is still dropped, and the
    store's row SET is identical to what the uncompacted sink
    produces."""
    import random

    from pitlapetl_spark.streaming.runtime import (
        read_documents_stream,
        run_dedup_ingest_sink,
    )

    rng = random.Random(7)

    def text():
        return " ".join(f"w{rng.randrange(10**6)}" for _ in range(40))

    t0, t1, t2, t3 = text(), text(), text(), text()
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    # four single-file batches; batch 3 duplicates batch 0's doc
    _write_doc_file(spark, incoming, [_mk_doc(1, t0)])
    _write_doc_file(spark, incoming, [_mk_doc(2, t1)])
    _write_doc_file(spark, incoming, [_mk_doc(3, t2)])
    _write_doc_file(spark, incoming, [_mk_doc(4, t0)])  # dup of doc 1

    def run(root, compact_every, ckpt):
        q = run_dedup_ingest_sink(
            read_documents_stream(spark, str(incoming), max_files_per_trigger=1),
            str(tmp_path / root / "store"),
            str(tmp_path / root / "corpus"),
            str(tmp_path / ckpt),
            compact_every=compact_every,
        )
        q.awaitTermination(240)

    run("compacted", 2, "ck_c")
    run("plain", 10**9, "ck_p")  # control: compaction never triggers

    def snap(root, suffix=""):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                str(tmp_path / root / f"store{suffix}")
            ).drop("batch").collect()
        )

    # identical dedup outcome and store row set, compacted or not
    for suffix in ("", "_bands"):
        assert snap("compacted", suffix) == snap("plain", suffix)
    corpus_ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "compacted/corpus")).collect()
    }
    assert corpus_ids == {1, 2, 3}  # doc 4 deduped against folded doc 1

    # the store actually folded: a negative generation exists and the
    # partition count is bounded (gen + at most compact_every recents)
    parts = _batch_parts(str(tmp_path / "compacted/store"))
    assert parts and parts[0] < 0, parts
    assert len(parts) <= 3, parts
    # the control never folded: one partition per processed batch
    # (batch 3's dir exists but is empty — its only doc was deduped)
    assert _batch_parts(str(tmp_path / "plain/store")) == [0, 1, 2, 3]


def test_dedup_ingest_compaction_replay_safe_from_shared_checkpoint(
    spark, tmp_path
):
    """Restarting the compacting sink from the SAME checkpoint must
    leave corpus and stores row-identical (nothing new to process,
    no re-fold corruption), and a batch arriving AFTER restart must
    dedup against the folded generations."""
    import random

    from pitlapetl_spark.streaming.runtime import (
        read_documents_stream,
        run_dedup_ingest_sink,
    )

    rng = random.Random(13)

    def text():
        return " ".join(f"v{rng.randrange(10**6)}" for _ in range(40))

    t = [text() for _ in range(4)]
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    for i in range(3):
        _write_doc_file(spark, incoming, [_mk_doc(i + 1, t[i])])
    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")

    def run():
        q = run_dedup_ingest_sink(
            read_documents_stream(spark, str(incoming), max_files_per_trigger=1),
            store,
            corpus,
            ck,
            compact_every=2,
        )
        q.awaitTermination(240)

    run()

    def snap(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).drop("batch").collect()
        )

    before = (snap(corpus), snap(store), snap(store + "_bands"))
    run()  # same checkpoint, nothing new
    assert (snap(corpus), snap(store), snap(store + "_bands")) == before

    # new batch after restart: dup of doc 1 (folded into a generation
    # by now) must be dropped, fresh doc kept
    _write_doc_file(spark, incoming, [_mk_doc(10, t[0]), _mk_doc(11, t[3])])
    run()
    ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert ids == {1, 2, 3, 11}, ids


def test_compact_partition_store_heals_crash_leftovers(spark, tmp_path):
    """The two compaction crash windows: (a) a marker-less generation
    dir (crash mid-write) is discarded, never folded as a source;
    (b) leftover source dirs whose rows already live in a sealed
    generation (crash between write and delete) fold away without
    duplicating rows."""
    import os

    from pitlapetl_spark.streaming.runtime import _compact_partition_store

    root = str(tmp_path / "store")

    def write_part(batch, ids, sealed=True):
        df = spark.createDataFrame(
            [(i, i * 10) for i in ids], "doc_id long, h0 long"
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{root}/batch={batch}")
        if not sealed:
            os.remove(f"{root}/batch={batch}/_SUCCESS")

    # (a) partial generation + three sealed batches
    write_part(0, [1])
    write_part(1, [2])
    write_part(2, [3])
    write_part(-1, [999], sealed=False)  # crashed mid-write: garbage
    _compact_partition_store(spark, root, current_batch=3, threshold=2)
    rows = sorted(
        (r.doc_id, r.h0)
        for r in spark.read.parquet(root).drop("batch").collect()
    )
    assert rows == [(1, 10), (2, 20), (3, 30)]  # 999 discarded
    assert _batch_parts(root) == [-1]

    # (b) crash between generation write and source delete: re-create
    # a source whose rows are already inside the sealed generation
    write_part(5, [1])  # duplicate of folded doc 1
    write_part(6, [4])
    _compact_partition_store(spark, root, current_batch=7, threshold=2)
    rows = sorted(
        (r.doc_id, r.h0)
        for r in spark.read.parquet(root).drop("batch").collect()
    )
    assert rows == [(1, 10), (2, 20), (3, 30), (4, 40)]  # no dup rows
    assert _batch_parts(root) == [-2]

    # (ADVICE r8 low) a key that legitimately recurs across batches
    # with a DIFFERENT payload (e.g. a re-delivered doc_id whose
    # edited text cleared the dedup threshold) must keep both rows,
    # exactly as the uncompacted store would — full-row dedup folds
    # only bit-identical crash copies, never a key collision
    write_part(8, [1])  # (1, 10): identical to the folded row -> folds
    df = spark.createDataFrame([(4, 99)], "doc_id long, h0 long")
    df.coalesce(1).write.mode("overwrite").parquet(f"{root}/batch=9")
    _compact_partition_store(spark, root, current_batch=10, threshold=2)
    rows = sorted(
        (r.doc_id, r.h0)
        for r in spark.read.parquet(root).drop("batch").collect()
    )
    assert rows == [(1, 10), (2, 20), (3, 30), (4, 40), (4, 99)]
    assert _batch_parts(root) == [-3]


def test_oov_sink_compaction_preserves_fold_and_provenance(spark, tmp_path):
    """Folding committed OOV partials into a generation partition must
    not change the corpus fold by a single token (additive partials +
    src_batch provenance dedup), and a crash-leftover source partition
    whose rows already live in the generation must NOT double-count."""
    import os

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import read_oov_rate, run_oov_sink

    docs = load_table(spark, SF_SMOKE, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(F.col("doc_id") % 2 == 1)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(4):
        # cur holds only odd doc_ids, so slice on floor(id/2) % 4 to
        # make all four batches non-empty
        cur.filter(
            F.floor(F.col("doc_id") / 2) % 4 == i
        ).coalesce(1).write.parquet(f"{src}/b{i}")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )

    def run(root, ckpt, ce):
        q = run_oov_sink(
            stream, ref, f"{tmp_path}/{root}", f"{tmp_path}/{ckpt}",
            compact_every=ce,
        )
        q.awaitTermination(180)

    run("store_c", "ck_c", 2)
    run("store_p", "ck_p", 10**9)

    def fold(root):
        r = read_oov_rate(spark, f"{tmp_path}/{root}").collect()[0]
        return (r.n_tokens, r.n_oov)

    assert fold("store_c") == fold("store_p")
    # the compacted store actually folded: a negative generation dir
    parts = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(f"{tmp_path}/store_c/cur")
        if d.startswith("batch=")
    )
    assert parts[0] < 0 and len(parts) <= 3, parts

    # crash window: re-create a source partition whose partial already
    # lives in the generation (write-then-delete interrupted) — the
    # next fold must dedup on src_batch, not double-count
    gen = spark.read.parquet(
        f"{tmp_path}/store_c/cur/batch={parts[0]}"
    )
    replayed = gen.orderBy("src_batch").limit(1)
    sb = replayed.collect()[0].src_batch
    replayed.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/store_c/cur/batch={sb}"
    )
    before = fold("store_p")
    # (ADVICE r8 medium) the READ fold itself must not double-count
    # while the duplicate still exists — a concurrent reader during
    # compaction, or any read before the next compaction heals the
    # store, sees both copies
    assert fold("store_c") == before
    from pitlapetl_spark.streaming.runtime import _compact_partition_store

    _compact_partition_store(spark, f"{tmp_path}/store_c/cur", 10**6, 1)
    assert fold("store_c") == before


def test_histogram_sink_bit_equal_to_batch_and_replays(spark, tmp_path):
    """The streaming histogram monitor folded over micro-batches must
    equal the oracle-checked batch histogram bit-for-bit (counts add,
    extrema min/max, round-after-fold), survive a same-checkpoint
    restart unchanged, and stay bit-equal when compaction folds its
    partials into a generation partition."""
    import os

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        read_histogram,
        run_histogram_sink,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")

    def run():
        q = run_histogram_sink(stream, store, ck, compact_every=2)
        q.awaitTermination(180)

    run()
    cols = ["event_type", "bin", "n", "lo_value", "hi_value"]
    want = _rows(registry.QUERIES["agg_histogram_equi_width"](spark, SF_SMOKE), *cols)
    assert _rows(read_histogram(spark, store), *cols) == want
    # compaction actually folded (compact_every=2 over 3 batches)
    parts = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch=")
    )
    assert parts[0] < 0, parts
    run()  # same checkpoint: nothing new, fold unchanged
    assert _rows(read_histogram(spark, store), *cols) == want

    # (ADVICE r8 medium) crash window between generation write and
    # source delete: a leftover source whose partials already live in
    # the generation must not double-count n in the READ fold — the
    # reader dedups on the (src_batch, event_type, bin) provenance key
    gen = spark.read.parquet(f"{store}/batch={parts[0]}")
    replayed = gen.orderBy("src_batch").limit(50)
    sb = replayed.collect()[0].src_batch
    replayed.filter(F.col("src_batch") == sb).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{store}/batch={sb}")
    assert _rows(read_histogram(spark, store), *cols) == want


def test_semantic_ingest_matches_batch_semdedup_and_replays(spark, tmp_path):
    """The embedding/semantic ingest sink (the third crawl-ingest
    family member): run the REAL stream over the embeddings corpus
    split into two id-ordered micro-batches with the frozen
    label-centroid quantizer, and the dropped set must equal EXACTLY
    the batch dedup_semantic_top2 pair set's vec_b side (the design
    equivalence documented in runtime.py: full-store probing +
    id-ordered arrival makes 'drop iff matched by any earlier vector'
    the batch pair orientation). The store must hold ALL vectors with
    the verdict flag, and a full replay on a fresh checkpoint must
    converge to the identical corpus (batch-scoped overwrite +
    store-minus-self)."""
    import os
    import time

    from pitlapetl_spark.operators.similarity import (
        _centroid_frame,
        dedup_semantic_top2,
    )
    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        read_embeddings_stream,
        run_semantic_ingest_sink,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    mid = (max(all_ids) + 1) // 2
    src = str(tmp_path / "src")
    os.makedirs(src)
    emb.filter(F.col("vec_id") < mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    emb.filter(F.col("vec_id") >= mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    cent = _centroid_frame(spark, SF_SMOKE)

    def run(ckpt):
        q = run_semantic_ingest_sink(
            read_embeddings_stream(spark, src, max_files_per_trigger=1),
            cent,
            str(tmp_path / "store"),
            str(tmp_path / "corpus"),
            str(tmp_path / ckpt),
        )
        q.awaitTermination(300)
        return {
            r.vec_id
            for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
        }

    got = run("ckpt1")
    batch_drops = {
        r.vec_b for r in dedup_semantic_top2(spark, SF_SMOKE).collect()
    }
    assert batch_drops, "fixture sanity: the batch twin flags pairs"
    assert got == all_ids - batch_drops
    # the store holds EVERY vector (kept and dropped) with the verdict
    store = spark.read.parquet(str(tmp_path / "store"))
    verdicts = {
        r.vec_id: r.kept
        for r in store.select("vec_id", "kept").distinct().collect()
    }
    assert set(verdicts) == all_ids
    assert {v for v, k in verdicts.items() if not k} == batch_drops

    # replay from scratch (fresh checkpoint, stores left in place)
    again = run("ckpt2")
    assert again == got


def test_semantic_ingest_compaction_matches_uncompacted(spark, tmp_path):
    """Aggressive generation compaction (compact_every=1) must (a)
    produce the IDENTICAL corpus to the uncompacted run — compaction
    can never change a dedup decision — (b) fold committed batch
    partitions into a sealed generation, and (c) preserve the
    assignment store's full row set exactly (the registered
    stream_semantic_compacted_parity query checks the same invariant
    at the driver's value-hash grain, plus a crash-leftover heal)."""
    import os
    import time

    from pitlapetl_spark.operators.similarity import _centroid_frame
    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        read_embeddings_stream,
        run_semantic_ingest_sink,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    mid = 250
    src = str(tmp_path / "src")
    os.makedirs(src)
    emb.filter(F.col("vec_id") < mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    emb.filter(F.col("vec_id") >= mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    cent = _centroid_frame(spark, SF_SMOKE)

    def run(tag: str, compact_every: int):
        q = run_semantic_ingest_sink(
            read_embeddings_stream(spark, src, max_files_per_trigger=1),
            cent,
            str(tmp_path / f"store_{tag}"),
            str(tmp_path / f"corpus_{tag}"),
            str(tmp_path / f"ckpt_{tag}"),
            compact_every=compact_every,
        )
        q.awaitTermination(300)
        corpus = {
            r.vec_id
            for r in spark.read.parquet(
                str(tmp_path / f"corpus_{tag}")
            ).collect()
        }
        store_rows = {
            (r.vec_id, r.label, tuple(r.v), r.nrm, r.kept)
            for r in spark.read.parquet(str(tmp_path / f"store_{tag}"))
            .drop("batch")
            .collect()
        }
        parts = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(tmp_path / f"store_{tag}")
            if d.startswith("batch=")
        )
        return corpus, store_rows, parts

    corpus_u, store_u, parts_u = run("plain", compact_every=10**6)
    corpus_c, store_c, parts_c = run("compact", compact_every=1)
    assert corpus_c == corpus_u and corpus_u  # (a) decisions unchanged
    assert store_c == store_u  # (c) full row set preserved
    assert all(p >= 0 for p in parts_u)
    # (b): batch 0 folded into a generation before batch 1 committed;
    # batch 1's own partition is never folded (current-batch guard)
    assert parts_c[0] < 0 and 0 not in parts_c and 1 in parts_c


def test_dedup_ingest_reprocess_after_compaction_no_self_drop(spark, tmp_path):
    """Fresh-checkpoint reprocess against a COMPACTED store (the
    disaster-recovery path): the generation partition is negative, so
    it passes the partition-level probe filter and holds the replayed
    batches' own signature/band rows — without the row-level
    ``src_batch < current`` provenance filter every doc would match
    its own stored signature (estimate 1.0) and the reprocess would
    empty the corpus. The reprocess must converge to the identical
    corpus. Also pins the re-delivered-doc_id contract (ADVICE r10):
    a doc_id re-delivered in a LATER batch with near-identical text
    dedups against its own earlier version — the corpus holds exactly
    one row for it, never one per delivery."""
    import os
    import time

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        _compact_partition_store,
        read_documents_stream,
        run_dedup_ingest_sink,
    )

    base = load_table(spark, SF_SMOKE, "documents").limit(12).collect()
    b0 = [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in base[:6]]
    b1 = [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in base[6:]]
    b1.append((9_000_000,) + b0[0][1:])  # cross-batch re-crawl, new id
    b1.append(b0[1])  # same doc_id re-delivered with identical text
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(b0, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")

    def run(ckpt):
        q = run_dedup_ingest_sink(
            read_documents_stream(spark, src, max_files_per_trigger=1),
            store,
            corpus,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(300)
        return sorted(r.doc_id for r in spark.read.parquet(corpus).collect())

    got = run("ckpt1")
    assert got and 9_000_000 not in got
    # the re-delivery deduped against its own batch-0 version: one
    # corpus row, in the batch-0 partition only
    assert got.count(b0[1][0]) == 1
    # fold ALL committed batches into one generation, then reprocess
    _compact_partition_store(spark, store, current_batch=10**6, threshold=1)
    _compact_partition_store(
        spark, f"{store}_bands", current_batch=10**6, threshold=1
    )
    assert sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch=")
    ) == [-1]
    again = run("ckpt2")
    assert again == got, "reprocess self-dropped against the generation"


def test_phash_ingest_reprocess_after_compaction_no_self_drop(spark, tmp_path):
    """The pHash twin of the minhash reprocess test: hamming distance
    of a doc to its own folded hash is 0 <= PHASH_HAM_MAX, so without
    the row-level ``src_batch < current`` provenance filter the
    reprocess empties the corpus."""
    import os
    import time

    from pitlapetl_spark.sources import load_table
    from pitlapetl_spark.streaming.runtime import (
        _compact_partition_store,
        read_documents_stream,
        run_media_phash_ingest_sink,
    )

    base = load_table(spark, SF_SMOKE, "documents").limit(12).collect()
    b0 = [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in base[:6]]
    b1 = [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in base[6:]]
    b1.append((9_000_000,) + b0[0][1:])
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(b0, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")

    def run(ckpt):
        q = run_media_phash_ingest_sink(
            read_documents_stream(spark, src, max_files_per_trigger=1),
            store,
            corpus,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(300)
        return {r.doc_id for r in spark.read.parquet(corpus).collect()}

    got = run("ckpt1")
    assert got and 9_000_000 not in got
    _compact_partition_store(spark, store, current_batch=10**6, threshold=1)
    again = run("ckpt2")
    assert again == got, "reprocess self-dropped against the generation"


def test_semantic_ingest_full_reprocess_after_fold_is_exact(spark, tmp_path):
    """The disaster-recovery divergence the src_batch provenance
    column closes (VERDICT r10 item 4a): a generation fold loses the
    BATCH BOUNDARIES between folded partitions, so a full
    from-scratch reprocess filtering only on the partition id would
    let batch 0 probe rows that originally arrived in batch 1 — and
    drop vectors the first run KEPT. Constructed corpus: batch 0 has
    A=[1,0] and D=[0,1] (cosine 0 < tau, both kept); batch 1 has
    B~=A (dropped as A's dup, but STORED with kept=false — the
    semantic store persists dropped rows for chain robustness).
    After folding everything into one generation, a reprocess of
    batch 0 would see B, pair A with it at cosine ~1 >= tau, and
    drop A. The row-level ``src_batch < current`` filter excludes B
    from batch 0's probe, so the reprocess must reproduce the first
    run's corpus exactly."""
    import os
    import time

    from pitlapetl_spark.sources import EMBEDDINGS
    from pitlapetl_spark.streaming.runtime import (
        _compact_partition_store,
        read_embeddings_stream,
        run_semantic_ingest_sink,
    )

    cent = spark.createDataFrame(
        [(0, [1.0, 1.0], 2.0**0.5)], "label int, cv array<double>, cnrm double"
    )
    b0 = [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)]
    b1 = [(10, [1.0, 0.001], 0)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(b0, EMBEDDINGS).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b1, EMBEDDINGS).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")

    def run(ckpt):
        q = run_semantic_ingest_sink(
            read_embeddings_stream(spark, src, max_files_per_trigger=1),
            cent,
            store,
            corpus,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(300)
        return sorted(r.vec_id for r in spark.read.parquet(corpus).collect())

    got = run("ckpt1")
    assert got == [1, 2], "fixture sanity: B dropped as A's dup, A/D kept"
    # B's row is in the store (kept=false) — the chain-robustness
    # contract that makes the fold divergence reachable at all
    stored = {
        (r.vec_id, r.kept)
        for r in spark.read.parquet(store).select("vec_id", "kept").collect()
    }
    assert (10, False) in stored
    # fold EVERYTHING into one generation, then reprocess from scratch
    _compact_partition_store(spark, store, current_batch=10**6, threshold=1)
    assert sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch=")
    ) == [-1]
    again = run("ckpt2")
    assert again == got, (
        "full reprocess against the folded store diverged: batch 0 "
        "probed a later-arrived row the first run never saw"
    )


def test_url_ingest_sink_dedups_blocks_and_replays(spark, tmp_path):
    """The URL front-door sink end-to-end over a real stream:
    blocklisted sites never reach corpus or store, canonical-URL
    dups are dropped within a batch (keep-lowest-doc_id) and across
    batches (first-seen wins), a full fresh-checkpoint replay
    converges to the identical corpus, and a reprocess against a
    FOLDED store stays exact (the src_batch provenance contract)."""
    import os
    import time

    from pitlapetl_spark.streaming.runtime import (
        _compact_partition_store,
        run_url_ingest_sink,
    )

    b0 = [
        (1, "https://src0.example.com/a?utm_source=x&q=1"),
        (2, "HTTP://WWW.src1.example.com:80/b//c/"),
        (3, "https://src3.example.com/x"),  # blocked site
        (4, "HTTPS://www.SRC0.example.COM:443/a/?q=1#frag"),  # dup of 1
    ]
    b1 = [
        (10, "https://src0.example.com/a?q=1&utm_campaign=y"),  # dup of 1
        (11, "https://src1.example.com/new"),
        (12, "https://src7.example.com/y"),  # blocked site
    ]
    schema = "doc_id long, url_raw string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(b0, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_url_ingest_sink(
            stream, store, corpus, str(tmp_path / ckpt)
        )
        q.awaitTermination(300)
        return sorted(r.doc_id for r in spark.read.parquet(corpus).collect())

    got = run("ckpt1")
    assert got == [1, 2, 11]
    store_rows = spark.read.parquet(store).collect()
    assert sorted(r.doc_id for r in store_rows) == [1, 2, 11]
    assert all(r.site not in ("src3.example.com", "src7.example.com")
               for r in store_rows)
    # canonical forms landed in the store (spot-pin rule 1-6 output)
    canons = {r.doc_id: r.url_canon for r in store_rows}
    assert canons[1] == "https://src0.example.com/a?q=1"
    assert canons[2] == "http://src1.example.com/b/c"

    # full replay, fresh checkpoint, stores left in place
    assert run("ckpt2") == got
    # fold EVERYTHING into one generation, then reprocess from scratch
    _compact_partition_store(spark, store, current_batch=10**6, threshold=1)
    assert sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch=")
    ) == [-1]
    assert run("ckpt3") == got, "reprocess diverged against the generation"


def test_span_dedup_ingest_cuts_across_batches_and_replays(spark, tmp_path):
    """The exact-substring span ingest sink end-to-end over a real
    stream: a >= SPAN_K-token phrase first seen in batch 0 is CUT
    from the batch-1 doc that repeats it (first occurrence kept —
    the Lee-et-al rule), unique docs pass through uncut, a full
    fresh-checkpoint replay converges to the identical corpus, and a
    reprocess against a FOLDED gram store stays exact (without the
    src_batch provenance filter every batch-0 gram would be 'seen'
    in the generation and batch 0 would cut itself to nothing)."""
    import os
    import time

    from pitlapetl_spark.streaming.runtime import (
        _compact_partition_store,
        run_span_dedup_ingest_sink,
    )

    phrase = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b0 = [
        (1, "intro words one two three four five six seven " + phrase),
        (2, "totally unique content lives here spanning nine ten tokens"),
    ]
    b1 = [
        (10, "another prefix entirely different from before yes " + phrase
             + " trailing bits"),
        (11, "more unique content nothing repeated anywhere at all here"),
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(b0, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_span_dedup_ingest_sink(
            stream, store, corpus, str(tmp_path / ckpt)
        )
        q.awaitTermination(300)
        return {
            r.doc_id: (r.n_tokens_before, r.n_tokens_after, r.n_spans_cut,
                       r.cleaned_text)
            for r in spark.read.parquet(corpus).collect()
        }

    got = run("ckpt1")
    assert set(got) == {1, 2, 10, 11}
    # first occurrence kept intact, unique docs untouched
    for d in (1, 2, 11):
        before, after, cut, text = got[d]
        assert cut == 0 and before == after
    assert phrase in got[1][3]
    # the repeat is cut: the whole 10-token phrase leaves doc 10
    before, after, cut, text = got[10]
    assert cut == 1 and before - after == 10
    assert "alpha" not in text and "kappa" not in text
    assert text.startswith("another prefix") and text.endswith("trailing bits")

    # full replay, fresh checkpoint, stores left in place
    assert run("ckpt2") == got
    # fold EVERYTHING into one generation, then reprocess from scratch
    _compact_partition_store(spark, store, current_batch=10**6, threshold=1)
    assert sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(store)
        if d.startswith("batch=")
    ) == [-1]
    assert run("ckpt3") == got, "reprocess diverged against the generation"


def test_ingest_probe_migrates_legacy_store_without_src_batch(spark, tmp_path):
    """A store persisted BEFORE the src_batch provenance column
    existed must not crash the upgraded probe (UNRESOLVED_COLUMN
    inside foreachBatch would kill the stream on the first batch
    after an upgrade — round-11 review catch): _with_src_batch stamps
    src_batch = batch on read for UNCOMPACTED legacy partitions (the
    true origin — each positive partition holds only its own batch's
    writes), so dedup still applies exactly."""
    import os

    from pitlapetl_spark.streaming.runtime import _url_ingest_batch

    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")
    # a legacy batch-0 store partition: NO src_batch column
    spark.createDataFrame(
        [("https://src0.example.com/a", "src0.example.com", 1)],
        "url_canon string, site string, doc_id long",
    ).write.mode("overwrite").parquet(f"{store}/batch=0")

    ingest = _url_ingest_batch(store, corpus, compact_every=10**6)
    batch = spark.createDataFrame(
        [
            (10, "https://src0.example.com/a"),  # dup of the legacy row
            (11, "https://src1.example.com/new"),
        ],
        "doc_id long, url_raw string",
    )
    ingest(batch, 1)  # must not raise
    kept = sorted(
        r.doc_id for r in spark.read.parquet(f"{corpus}/batch=1").collect()
    )
    assert kept == [11], "legacy store row failed to dedup the re-crawl"


def test_with_src_batch_stamps_null_for_legacy_generations(spark):
    """_with_src_batch's two migration cases (its docstring, ADVICE
    r11): an uncompacted legacy partition (batch >= 0) gets its TRUE
    origin stamped; a legacy GENERATION partition (batch < 0) mixes
    rows of unrecoverable origin and must be stamped NULL — stamping
    the partition id would forge a value that passes every
    ``src_batch < current`` probe filter and re-admits a replayed
    batch's own folded rows (the self-match-to-empty bug the
    provenance column exists to close)."""
    from pitlapetl_spark.streaming.runtime import _with_src_batch

    df = spark.createDataFrame(
        [(1, 0), (2, 3), (3, -1), (4, -2)], "doc_id long, batch int"
    )
    got = {
        r.doc_id: r.src_batch for r in _with_src_batch(df).collect()
    }
    assert got == {1: 0, 2: 3, 3: None, 4: None}
    # already-provenanced frames pass through untouched
    stamped = spark.createDataFrame(
        [(1, -1, 5)], "doc_id long, batch int, src_batch int"
    )
    assert _with_src_batch(stamped) is stamped


def test_ingest_reprocess_against_legacy_compacted_store(spark, tmp_path):
    """Fresh-checkpoint reprocess against a PRE-PROVENANCE compacted
    store (ADVICE r11 medium): the generation partition holds the
    replayed batch's own folded rows WITHOUT src_batch. The forged
    ``src_batch = batch`` stamp would let every vector self-match at
    cosine 1.0 and overwrite its corpus partition EMPTY — exactly the
    round-10 bug the provenance column closed. Under the NULL stamp +
    pre-provenance self-key guard, self rows are excluded and the
    reprocess reproduces the first run (the fixture keeps cross-batch
    cosines below tau, so the documented legacy later-arrival
    inexactness cannot fire and the assertion is exact)."""
    import os

    from pitlapetl_spark.streaming.runtime import (
        _compact_partition_store,
        _semantic_ingest_batch,
    )

    cent = spark.createDataFrame(
        [(0, [1.0, 1.0], 2.0**0.5)], "label int, cv array<double>, cnrm double"
    )
    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")
    emb = "vec_id long, embedding array<float>, label int"
    b0 = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)], emb
    )
    # cosine vs both batch-0 vectors below tau (0.35): 0.316 vs A,
    # -0.949 vs D — all three keep
    b1 = spark.createDataFrame([(10, [1.0, -3.0], 0)], emb)

    def drive():
        ingest = _semantic_ingest_batch(
            cent, store, corpus, compact_every=10**6
        )
        ingest(b0, 0)
        ingest(b1, 1)
        return sorted(r.vec_id for r in spark.read.parquet(corpus).collect())

    got = drive()
    assert got == [1, 2, 10], "fixture sanity: no dups anywhere"

    # fold everything into one generation, then simulate a
    # PRE-PROVENANCE fold by stripping src_batch from it
    _compact_partition_store(spark, store, current_batch=10**6, threshold=1)
    gens = [
        d for d in os.listdir(store) if d.startswith("batch=-")
    ]
    assert gens == ["batch=-1"]
    gen = f"{store}/batch=-1"
    legacy = (
        spark.read.parquet(gen).localCheckpoint(eager=True).drop("src_batch")
    )
    legacy.write.mode("overwrite").parquet(gen)

    # from-scratch reprocess (fresh "checkpoint" = rerun the bodies):
    # must converge to the first run, not self-annihilate to empty
    again = drive()
    assert again == got, (
        "reprocess against a legacy (pre-provenance) generation "
        "diverged — self-rows re-entered the probe"
    )
    # and specifically: the corpus partitions are NON-empty (the
    # failure mode is overwrite-to-empty, which a lenient >=0-row
    # check would miss)
    for b in (0, 1):
        assert spark.read.parquet(f"{corpus}/batch={b}").count() > 0


def test_url_ingest_shared_checkpoint_restart_and_post_fold_dedup(
    spark, tmp_path
):
    """The URL sink's twin of the minhash shared-checkpoint test:
    restart from the SAME checkpoint is a no-op (corpus and store
    row-identical), and a batch arriving AFTER the store has folded
    into a generation still dedups against it (src_batch provenance
    admits folded earlier rows)."""
    import os
    import time

    from pitlapetl_spark.streaming.runtime import run_url_ingest_sink

    schema = "doc_id long, url_raw string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        spark.createDataFrame(
            [(i + 1, f"https://src{i}.example.com/p/{i}")], schema
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_url_ingest_sink(stream, store, corpus, ck, compact_every=2)
        q.awaitTermination(240)

    run()

    def snap(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).drop("batch").collect()
        )

    before = (snap(corpus), snap(store))
    # compaction fired mid-run (compact_every=2): a generation exists
    assert any(
        int(d.split("=", 1)[1]) < 0
        for d in os.listdir(store)
        if d.startswith("batch=")
    )
    run()  # same checkpoint, nothing new
    assert (snap(corpus), snap(store)) == before

    # new batch after restart: a re-spelling of doc 1's canonical URL
    # (now folded) must be dropped; a fresh URL kept
    time.sleep(1.1)
    spark.createDataFrame(
        [
            (10, "HTTPS://WWW.src0.example.com:443/p//0"),
            (11, "https://src9.example.com/fresh"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert ids == {1, 2, 3, 11}, ids


def test_span_ingest_shared_checkpoint_restart_and_post_fold_cut(
    spark, tmp_path
):
    """The span sink's twin: restart from the SAME checkpoint is a
    no-op, and a doc arriving AFTER the gram store has folded still
    has its repeated span cut against the generation."""
    import os
    import time

    from pitlapetl_spark.streaming.runtime import run_span_dedup_ingest_sink

    phrase = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq = [
        "one singular sentence with no repeats anywhere in it at all",
        "second wholly distinct sentence likewise free of any repeats",
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(1, "leading filler words here before the phrase " + phrase)],
        [(2, uniq[0])],
        [(3, uniq[1])],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)

    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_span_dedup_ingest_sink(
            stream, store, corpus, ck, compact_every=2
        )
        q.awaitTermination(240)

    run()

    def snap(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).drop("batch").collect()
        )

    before = (snap(corpus), snap(store))
    assert any(
        int(d.split("=", 1)[1]) < 0
        for d in os.listdir(store)
        if d.startswith("batch=")
    )
    run()  # same checkpoint, nothing new
    assert (snap(corpus), snap(store)) == before

    # a late doc repeating the (folded) phrase gets it cut
    time.sleep(1.1)
    spark.createDataFrame(
        [(10, "completely new preamble then " + phrase + " and a tail")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    row = {
        r.doc_id: r
        for r in spark.read.parquet(corpus).collect()
    }[10]
    assert row.n_spans_cut == 1
    assert "alpha" not in row.cleaned_text and "kappa" not in row.cleaned_text


def test_chained_pipeline_span_cut_changes_minhash_verdict(spark, tmp_path):
    """The ordering effect the composed pipeline parity query exists
    to pin (stream_ingest_pipeline_parity's block comment): two docs
    sharing a long boilerplate prefix are minhash near-dups on RAW
    text (the later one would be dropped), but the span stage cuts
    the boilerplate from the later doc (first occurrence kept in the
    earlier one), leaving unique tails with zero shingle overlap — so
    the CHAINED pipeline keeps both. Runs the real batch bodies both
    ways and asserts the verdicts differ."""
    import os

    from pitlapetl_spark.streaming.runtime import (
        _dedup_ingest_batch,
        _span_ingest_batch,
        _url_ingest_batch,
    )

    boiler = " ".join(f"boiler{i}" for i in range(600))
    doc_a = boiler + " " + " ".join(f"alpha{i}" for i in range(10))
    doc_b = boiler + " " + " ".join(f"beta{i}" for i in range(10))
    schema = "doc_id long, url_raw string, text string"
    b0 = spark.createDataFrame(
        [(1, "https://src0.example.com/a", doc_a)], schema
    )
    b1 = spark.createDataFrame(
        [(10, "https://src1.example.com/b", doc_b)], schema
    )

    # chained: url gate -> span cut -> minhash, per batch
    root = str(tmp_path / "chain")
    url_ing = _url_ingest_batch(f"{root}/us", f"{root}/uc", 10**6)
    span_ing = _span_ingest_batch(f"{root}/ss", f"{root}/sc", 10**6)
    mh_ing = _dedup_ingest_batch(f"{root}/ms", f"{root}/mc", 10**6)
    for i, b in ((0, b0), (1, b1)):
        url_ing(b, i)
        gated = spark.read.parquet(f"{root}/uc/batch={i}")
        span_ing(gated.select("doc_id", "text"), i)
        cleaned = spark.read.parquet(f"{root}/sc/batch={i}")
        mh_ing(
            cleaned.select(
                "doc_id", F.col("cleaned_text").alias("text")
            ),
            i,
        )
    chained_kept = sorted(
        r.doc_id for r in spark.read.parquet(f"{root}/mc").collect()
    )
    assert chained_kept == [1, 10], (
        "span stage failed to break the boilerplate near-dup: the "
        "chained pipeline must keep both docs"
    )
    # sanity: the span stage really did cut doc 10's boilerplate
    cut = {
        r.doc_id: r.n_spans_cut
        for r in spark.read.parquet(f"{root}/sc").collect()
    }
    assert cut[1] == 0 and cut[10] >= 1

    # unchained: minhash directly on raw text drops the later doc
    root2 = str(tmp_path / "raw")
    mh_raw = _dedup_ingest_batch(f"{root2}/ms", f"{root2}/mc", 10**6)
    for i, b in ((0, b0), (1, b1)):
        mh_raw(b.select("doc_id", "text"), i)
    raw_kept = sorted(
        r.doc_id for r in spark.read.parquet(f"{root2}/mc").collect()
    )
    assert raw_kept == [1], (
        "fixture sanity: on raw text the boilerplate must make doc "
        "10 a minhash near-dup of doc 1"
    )


def test_batch_store_caches_schema_only_once_it_carries_src_batch(
    spark, tmp_path
):
    """A store instance whose first read hits a pre-provenance store
    must not freeze that schema: a generation folded later carries
    real ``src_batch`` values, and a frozen legacy schema would read
    them back NULL (the rows then lose their origin for good)."""
    from pitlapetl_spark.streaming.runtime import _BatchStore

    root = str(tmp_path / "store")
    spark.createDataFrame([(1, "a")], "doc_id long, t string").write.parquet(
        f"{root}/batch=0"
    )
    store = _BatchStore(root, compact_every=2)
    legacy = store.earlier(spark, 10).collect()
    # legacy uncompacted partition: true origin = its batch id
    assert [(r.doc_id, r.src_batch) for r in legacy] == [(1, 0)]

    spark.createDataFrame(
        [(2, "b", 5)], "doc_id long, t string, src_batch long"
    ).write.parquet(f"{root}/batch=-1")
    rows = {r.doc_id: r.src_batch for r in store.earlier(spark, 10).collect()}
    assert rows[2] == 5


def test_minhash_and_phash_ingest_bodies_fold_dedup_and_replay(
    spark, tmp_path
):
    """Fast-tier coverage of the minhash and pHash ingest bodies,
    driven directly on static frames: three id-ordered batches with
    compact_every=2, so batch 2 probes a folded generation. A batch-2
    re-crawl of a batch-0 payload is dropped, and replaying batch 2
    leaves the corpus and store exactly as the uninterrupted run
    wrote them."""
    import os

    from pitlapetl_spark.streaming.runtime import (
        _dedup_ingest_batch,
        _phash_ingest_batch,
    )

    def text(i):
        return " ".join(
            f"w{(i * 7919 + j * 104729) % 99991}" for j in range(30)
        )

    schema = "doc_id long, text string"
    ids = [[b * 10 + k for k in range(1, 4)] for b in range(3)]
    # the planted re-crawl: doc 1's payload again under a new id
    batches = [
        spark.createDataFrame([(d, text(d)) for d in ids[0]], schema),
        spark.createDataFrame([(d, text(d)) for d in ids[1]], schema),
        spark.createDataFrame(
            [(d, text(d)) for d in ids[2]] + [(99, text(1))], schema
        ),
    ]

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    for name, factory in (
        ("mh", _dedup_ingest_batch),
        ("ph", _phash_ingest_batch),
    ):
        store = str(tmp_path / f"{name}_store")
        corpus = str(tmp_path / f"{name}_corpus")
        body = factory(store, corpus, compact_every=2)
        for i, b in enumerate(batches):
            body(b, i)
        # batches 0 and 1 were folded into a generation before batch 2 probed
        assert sorted(os.listdir(store)) == ["batch=-1", "batch=2"], name
        kept = {r[0] for r in rows(corpus)}
        assert 1 in kept and 99 not in kept, name
        first_corpus, first_store = rows(corpus), rows(store)
        body(batches[2], 2)
        assert rows(corpus) == first_corpus, name
        assert rows(store) == first_store, name
