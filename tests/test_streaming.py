"""Structured Streaming: the streaming tumbling aggregation must equal
the batch form of the same transformation (exactly-once file source)."""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE

from soil_data_development_tools___arcmap_spark.queries import (
    events_tumbling_daily,
    read_events,
)
from soil_data_development_tools___arcmap_spark.streaming.events import (
    run_stream_to_table,
    tumbling_daily,
)


def test_stream_equals_batch(spark):
    """Also pins the sink lifecycle: the drained memory sink's temp
    view is dropped before the runner returns (no view pins sink rows
    for the rest of the session), and the returned frame still reads
    every row."""

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    batch = {
        (r["day_num"], r["event_type"]): (r["n"], r["value_c"])
        for r in events_tumbling_daily(spark, SF_SMOKE).collect()
    }
    views = temp_views()
    out = run_stream_to_table(spark, SF_SMOKE)
    assert temp_views() == views
    stream = {
        (r["day_num"], r["event_type"]): (r["n"], r["value_c"])
        for r in out.collect()
    }
    assert batch == stream and len(batch) > 0


def test_watermarked_plan_builds(spark):
    # watermarked variant analyzes and keeps the event_time watermark
    df = tumbling_daily(read_events(spark, SF_SMOKE), with_watermark=True)
    assert "day_num" in df.columns
    assert df.count() > 0


def test_stateful_sessionize_equals_batch(spark):
    from soil_data_development_tools___arcmap_spark.queries import events_sessionize
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        run_sessionize_stream,
    )

    batch = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in events_sessionize(spark, SF_SMOKE).collect()
    }
    stream = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in run_sessionize_stream(spark, SF_SMOKE).collect()
    }
    assert batch == stream and len(batch) > 0


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """State must carry across micro-batches: split events into
    chronological files and force one file per trigger; the final
    per-user result must still equal the batch computation."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.queries import (
        events_sessionize,
        read_events,
    )
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        EVENTS_SCHEMA,
        _ts_ns,
    )

    ev = read_events(spark, SF_SMOKE).withColumn(
        "day_num", F.expr("(ts div 1000) div 86400000000")
    )
    days = sorted(r[0] for r in ev.select("day_num").distinct().collect())
    src = str(tmp_path / "ev_stream")
    os.makedirs(src, exist_ok=True)
    # one file per day, written oldest-first so the file source picks
    # them up in chronological order; ts back to the on-disk NTZ form
    # so the files match EVENTS_SCHEMA
    for i, d in enumerate(days):
        ev.where(F.col("day_num") == d).drop("day_num").withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        ).coalesce(1).write.mode("append").parquet(src)

    import uuid

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = 30 * 60 * 1_000_000
    stream = _ts_ns(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    ).select("user_id", F.expr("ts div 1000").alias("ts_us"), "event_id")

    def fn(key, pdfs, state):
        n_sess, n_ev, last = state.get if state.exists else (0, 0, None)
        rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
        for ts in rows["ts_us"]:
            if last is None or ts - last > gap_us:
                n_sess += 1
            n_ev += 1
            last = int(ts)
        state.update((n_sess, n_ev, last))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sess], "n_events": [n_ev]}
        )

    name = "sess_mb_" + uuid.uuid4().hex[:8]
    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, n_sessions long, n_events long",
            stateStructType="n_sessions long, n_events long, last_ts long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode memory sink appends one row per user per batch that
    # touched them; the LAST row per user is the final state
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("n_sessions").alias("ns"))
    )
    got = {r["user_id"]: (r["ns"], r["n_events"]) for r in final.collect()}
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in events_sessionize(spark, SF_SMOKE).collect()
    }
    assert len(days) > 1  # the split actually produced multiple batches
    assert got == want


def test_stream_static_and_stream_stream_joins(spark, tmp_path):
    """Stream-static enrichment and the watermarked stream-stream
    attribution join produce exactly the batch results on a small
    crafted stream."""
    import pyspark.sql.functions as F

    from soil_data_development_tools___arcmap_spark.streaming.events import (
        EVENTS_SCHEMA,
        _category_dim,
        attribution_pairs,
        enriched_daily,
    )

    us = 1_000_000
    rows = [
        # user 1: click at t=0s and t=30min, purchase at t=45min
        (1, 0 * us * 1000, 1, "click", 1.0, "{}"),
        (2, 1800 * us * 1000, 1, "click", 1.0, "{}"),
        (3, 2700 * us * 1000, 1, "purchase", 9.5, "{}"),
        # user 2: click 2h AFTER the purchase -> outside the window
        (4, 0 * us * 1000, 2, "purchase", 5.0, "{}"),
        (5, 7200 * us * 1000, 2, "click", 1.0, "{}"),
        (6, 100 * us * 1000, 2, "error", 0.0, "{}"),
    ]
    # ts as long ns — the in-memory form every helper consumes (the
    # NTZ EVENTS_SCHEMA is only the on-disk/stream-source shape)
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )

    enr = {(r["day_num"], r["category"]): r["n"]
           for r in enriched_daily(ev, _category_dim(spark)).collect()}
    assert enr[(0, "engagement")] == 3  # all three clicks land on day 0
    assert enr[(0, "revenue")] == 2  # both purchases
    assert enr[(0, "ops")] == 1

    pairs = {(r["purchase_id"], r["click_id"]) for r in attribution_pairs(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    ).collect()}
    # both of user 1's clicks (t=0, t=30min) are within the hour
    # before the t=45min purchase; user 2's click is after its
    # purchase and must not attribute
    assert pairs == {(3, 1), (3, 2)}


def test_stateful_funnel_equals_batch(spark):
    """The applyInPandasWithState funnel must reproduce the batch
    chained-window funnel counts exactly."""
    from soil_data_development_tools___arcmap_spark.queries import (
        events_funnel,
        events_stream_funnel,
    )

    sf = "/root/testdata/sf0.001"
    batch = events_funnel(spark, sf).collect()[0].asDict()
    stream = events_stream_funnel(spark, sf).collect()[0].asDict()
    assert batch == stream
    assert stream["n_users"] >= stream["n_view"] >= stream["n_click"]
    assert stream["n_click"] >= stream["n_purchase"]


def test_non_utc_session_still_matches_oracle(spark):
    """Regression for the ADVICE r03 item: a driver-supplied non-UTC
    session must not shift event timestamps — _ts_ns pins the session
    tz at the conversion site, so streaming results stay equal to the
    batch form regardless of the inherited timezone."""
    from soil_data_development_tools___arcmap_spark.queries import (
        events_attribution_outer,
        events_stream_dedup,
        read_events,
    )
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        run_attribution_outer_stream,
        run_dedup_stream,
    )

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        dedup = run_dedup_stream(spark, SF_SMOKE)
        got = {r["event_id"]: (r["day_num"], r["value_c"]) for r in dedup.collect()}
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ev = read_events(spark, SF_SMOKE)
        from pyspark.sql import functions as F

        want = {
            r["event_id"]: (r["day_num"], r["value_c"])
            for r in ev.select(
                "event_id",
                F.expr("(ts div 1000) div 86400000000").alias("day_num"),
                F.round(F.col("value") * 100).cast("long").alias("value_c"),
            ).collect()
        }
        assert got == want and len(got) > 0

        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        outer = {
            (r["click_id"], r["purchase_id"])
            for r in run_attribution_outer_stream(spark, SF_SMOKE).collect()
        }
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        batch = {
            (r["click_id"], r["purchase_id"])
            for r in events_attribution_outer(spark, SF_SMOKE).collect()
        }
        assert outer == batch and len(outer) > 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_stream_volume_anomaly_equals_batch(spark):
    from soil_data_development_tools___arcmap_spark.queries import (
        events_stream_volume_anomaly,
        events_volume_anomaly,
    )

    batch = {
        (r["event_type"], r["day_num"]): (r["x"], r["is_anomaly"])
        for r in events_volume_anomaly(spark, SF_SMOKE).collect()
    }
    stream = {
        (r["event_type"], r["day_num"]): (r["x"], r["is_anomaly"])
        for r in events_stream_volume_anomaly(spark, SF_SMOKE).collect()
    }
    assert batch == stream and len(batch) > 0


def test_stream_dau_equals_batch(spark):
    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.queries import (
        events_stream_dau,
        read_events,
    )

    batch = {
        r["day_num"]: r["dau"]
        for r in read_events(spark, SF_SMOKE)
        .groupBy(F.expr("(ts div 1000) div 86400000000").alias("day_num"))
        .agg(F.countDistinct("user_id").alias("dau"))
        .collect()
    }
    stream = {
        r["day_num"]: r["dau"]
        for r in events_stream_dau(spark, SF_SMOKE).collect()
    }
    assert batch == stream and len(batch) > 0


def test_stream_wau_equals_batch(spark):
    from soil_data_development_tools___arcmap_spark.queries import (
        events_dau_wau,
        events_stream_wau,
    )

    batch = {
        r["day_num"]: r["wau"]
        for r in events_dau_wau(spark, SF_SMOKE).collect()
    }
    stream = {
        r["day_num"]: r["wau"]
        for r in events_stream_wau(spark, SF_SMOKE).collect()
    }
    assert batch == stream and len(batch) > 0


def test_dau_wau_across_batches(spark, tmp_path):
    """Watermark-evicted DAU/WAU must survive multi-batch replay: one
    file per day, oldest first, one file per trigger — dedup and count
    state for old days is evicted as the watermark advances, yet the
    final counts still equal the batch COUNT(DISTINCT) (pins the
    in-order multi-batch contract the update-mode rewrite added)."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.queries import (
        events_dau_wau,
        read_events,
    )
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        EVENTS_SCHEMA,
        _ts_ns,
        run_dau_stream,
        run_wau_stream,
    )

    ev = read_events(spark, SF_SMOKE).withColumn(
        "day_num", F.expr("(ts div 1000) div 86400000000")
    )
    days = sorted(r[0] for r in ev.select("day_num").distinct().collect())
    src = str(tmp_path / "ev_daily")
    os.makedirs(src, exist_ok=True)
    for d in days:
        ev.where(F.col("day_num") == d).drop("day_num").withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        ).coalesce(1).write.mode("append").parquet(src)

    def mb_source():
        return _ts_ns(
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    batch_dau = {
        r["day_num"]: r["dau"]
        for r in ev.groupBy("day_num")
        .agg(F.countDistinct("user_id").alias("dau"))
        .collect()
    }
    stream_dau = {
        r["day_num"]: r["dau"]
        for r in run_dau_stream(spark, SF_SMOKE, source=mb_source()).collect()
    }
    assert batch_dau == stream_dau and len(batch_dau) > 1

    batch_wau = {
        r["day_num"]: r["wau"] for r in events_dau_wau(spark, SF_SMOKE).collect()
    }
    stream_wau = {
        r["day_num"]: r["wau"]
        for r in run_wau_stream(spark, SF_SMOKE, source=mb_source()).collect()
    }
    assert batch_wau == stream_wau and len(batch_wau) > 1


def test_tumbling_update_mode_across_batches(spark, tmp_path):
    """The update-mode tumbling rework must survive multi-batch replay:
    one file per day, oldest first, one file per trigger — a day's
    group emits a running snapshot in EVERY batch that touches it, and
    the max_by(.., n) rollup must still recover exactly the batch
    aggregate (pins the final-snapshot-selection contract; closed-day
    state is watermark-evicted along the way)."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.queries import read_events
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        EVENTS_SCHEMA,
        _ts_ns,
        run_stream_to_table,
        tumbling_daily,
    )

    ev = read_events(spark, SF_SMOKE).withColumn(
        "day_num", F.expr("(ts div 1000) div 86400000000")
    )
    days = sorted(r[0] for r in ev.select("day_num").distinct().collect())
    src = str(tmp_path / "ev_daily_tum")
    os.makedirs(src, exist_ok=True)
    for d in days:
        ev.where(F.col("day_num") == d).drop("day_num").withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        ).coalesce(1).write.mode("append").parquet(src)

    source = _ts_ns(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    batch = {
        (r["day_num"], r["event_type"]): (r["n"], r["value_c"])
        for r in tumbling_daily(read_events(spark, SF_SMOKE)).collect()
    }
    stream = {
        (r["day_num"], r["event_type"]): (r["n"], r["value_c"])
        for r in run_stream_to_table(spark, SF_SMOKE, source=source).collect()
    }
    assert batch == stream and len(days) > 1


def _daily_split_source(spark, tmp_path, name: str):
    """One file per day, oldest first, one file per trigger — the
    multi-batch replay harness shared by the update-mode stream tests."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.queries import read_events
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        EVENTS_SCHEMA,
        _ts_ns,
    )

    ev = read_events(spark, SF_SMOKE).withColumn(
        "day_num", F.expr("(ts div 1000) div 86400000000")
    )
    days = sorted(r[0] for r in ev.select("day_num").distinct().collect())
    src = str(tmp_path / name)
    os.makedirs(src, exist_ok=True)
    for d in days:
        ev.where(F.col("day_num") == d).drop("day_num").withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        ).coalesce(1).write.mode("append").parquet(src)
    source = _ts_ns(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return source, len(days)


def test_sliding_update_mode_across_batches(spark, tmp_path):
    """run_sliding_stream (update mode + 1-day watermark) must recover
    the batch sliding aggregate under one-day-per-trigger replay: a
    7d/1d window is updated by up to 7 different batches, each emitting
    a running snapshot, and the max_by rollup must still select the
    final one; in-order replay never trips the watermark (an event's
    windows are all still open when its day arrives)."""
    from soil_data_development_tools___arcmap_spark.queries import read_events
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        run_sliding_stream,
        sliding_weekly,
    )

    source, n_days = _daily_split_source(spark, tmp_path, "ev_daily_slide")
    batch = {
        (r["win_end_day"], r["event_type"]): (r["n"], r["value_c"])
        for r in sliding_weekly(read_events(spark, SF_SMOKE)).collect()
    }
    stream = {
        (r["win_end_day"], r["event_type"]): (r["n"], r["value_c"])
        for r in run_sliding_stream(spark, SF_SMOKE, source=source).collect()
    }
    assert batch == stream and n_days > 1


def test_enriched_update_mode_across_batches(spark, tmp_path):
    """run_enriched_stream (stream-static join + update-mode windowed
    agg) must recover the batch enrichment under one-day-per-trigger
    replay — pins that the watermark rework drops nothing on in-order
    multi-batch delivery."""
    from soil_data_development_tools___arcmap_spark.queries import read_events
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        _category_dim,
        enriched_daily,
        run_enriched_stream,
    )

    source, n_days = _daily_split_source(spark, tmp_path, "ev_daily_enrich")
    batch = {
        (r["day_num"], r["category"]): (r["n"], r["value_c"])
        for r in enriched_daily(
            read_events(spark, SF_SMOKE), _category_dim(spark)
        ).collect()
    }
    stream = {
        (r["day_num"], r["category"]): (r["n"], r["value_c"])
        for r in run_enriched_stream(spark, SF_SMOKE, source=source).collect()
    }
    assert batch == stream and n_days > 1


def test_neardup_stream_across_batches(spark, tmp_path):
    """The stateless streaming near-dup gate must be batch-partition
    invariant: the new-doc stream split into 4 files delivered one per
    trigger yields the SAME pair set as the single-batch run (and both
    match the batch-computed expectation on this corpus)."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_neardup_stream,
    )

    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    src = str(tmp_path / "docs_split")
    os.makedirs(src, exist_ok=True)
    for part in range(4):
        docs.where(F.col("doc_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    single = {
        (r["new_did"], r["corpus_did"], r["jac_e4"])
        for r in run_neardup_stream(spark, SF_SMOKE).collect()
    }
    multi_src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    multi = {
        (r["new_did"], r["corpus_did"], r["jac_e4"])
        for r in run_neardup_stream(spark, SF_SMOKE, source=multi_src).collect()
    }
    assert single == multi and len(single) > 0


def test_neardup_stream_multipart_source_dir(spark, tmp_path):
    """A documents.parquet that is a DIRECTORY of part files (the
    layout of every scale replica and of any real Spark-written table)
    must stream the same pairs as the single-file layout — the file
    stream source does not descend into a symlinked subdirectory, so
    the reader links each part file individually."""
    import os

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_neardup_stream,
    )

    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    d = str(tmp_path / "docs_multipart")
    os.makedirs(d, exist_ok=True)
    docs.repartition(4).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    single = {
        (r["new_did"], r["corpus_did"], r["jac_e4"])
        for r in run_neardup_stream(spark, SF_SMOKE).collect()
    }
    multi = {
        (r["new_did"], r["corpus_did"], r["jac_e4"])
        for r in run_neardup_stream(spark, d).collect()
    }
    assert single == multi and len(multi) > 0


def test_neardup_stream_broadcast_modes_identical(spark):
    """The gate's default leaves the stream-static join strategy to
    the planner (the band index is corpus-sized — a forced broadcast
    would OOM at a 100 TB corpus); ``broadcast=True`` pins the hint
    for small indexes. Both modes must produce the identical pair set."""
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        run_neardup_stream,
    )

    shuffled = {
        (r["new_did"], r["corpus_did"], r["jac_e4"])
        for r in run_neardup_stream(spark, SF_SMOKE).collect()
    }
    hinted = {
        (r["new_did"], r["corpus_did"], r["jac_e4"])
        for r in run_neardup_stream(spark, SF_SMOKE, broadcast=True).collect()
    }
    assert shuffled == hinted and len(shuffled) > 0


def test_kmv_vocab_stream_matches_batch_and_replay(spark, tmp_path):
    """The stateful streaming KMV sketch must equal the batch
    docs_kmv_vocab sketch columns, and a 4-file one-per-trigger
    replay (incremental state merges) must equal the single-batch
    run — the mergeability property exercised through real
    stream-state round trips. Also pins the bounded-state claim:
    n_sketch never exceeds k."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark import queries as Q
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_kmv_vocab_stream,
    )

    batch = {
        (r["source"], r["n_sketch"], r["est_distinct"])
        for r in Q.docs_kmv_vocab(spark, SF_SMOKE)
        .select("source", "n_sketch", "est_distinct")
        .collect()
    }
    single = {
        (r["source"], r["n_sketch"], r["est_distinct"])
        for r in run_kmv_vocab_stream(spark, SF_SMOKE).collect()
    }
    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    src = str(tmp_path / "docs_split_kmv")
    os.makedirs(src, exist_ok=True)
    for part in range(4):
        docs.where(F.col("doc_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    multi_src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    multi = {
        (r["source"], r["n_sketch"], r["est_distinct"])
        for r in run_kmv_vocab_stream(spark, SF_SMOKE, source=multi_src).collect()
    }
    assert batch == single == multi and len(batch) > 0
    assert all(n <= 64 for _, n, _ in multi)


def test_quantile_sketch_stream_matches_batch_and_replay(spark, tmp_path):
    """The stateful streaming quantile sketch must equal the batch
    events_quantile_sketch estimate columns, and a 4-file
    one-per-trigger replay (incremental histogram merges) must equal
    the single-batch run — bucket-count mergeability exercised
    through real stream-state round trips. Also pins the
    bounded-state claim: n_buckets stays under the 512 ceiling."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark import queries as Q
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        EVENTS_SCHEMA,
        run_quantile_sketch_stream,
    )

    cols = ("event_type", "n_events", "n_buckets", "p50_est", "p95_est", "p99_est")
    batch = {
        tuple(r[c] for c in cols)
        for r in Q.events_quantile_sketch(spark, SF_SMOKE).select(*cols).collect()
    }
    single = {
        tuple(r[c] for c in cols)
        for r in run_quantile_sketch_stream(spark, SF_SMOKE).collect()
    }
    ev = spark.read.schema(EVENTS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "events.parquet")
    )
    src = str(tmp_path / "events_split_qsk")
    os.makedirs(src, exist_ok=True)
    for part in range(4):
        ev.where(F.col("event_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    multi_src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    multi = {
        tuple(r[c] for c in cols)
        for r in run_quantile_sketch_stream(
            spark, SF_SMOKE, source=multi_src
        ).collect()
    }
    assert batch == single == multi and len(batch) > 0
    assert all(r[2] <= 512 for r in multi)


@pytest.mark.parametrize(
    "runner",
    [
        "run_quantile_sketch_stream",
        "run_dedup_stream",  # two copies of every part file
        "run_attribution_outer_stream",  # part files + flush sentinels
        "run_session_window_stream",
    ],
)
def test_events_stream_multipart_source_dir(spark, tmp_path, runner):
    """An events.parquet that is a DIRECTORY of part files (the layout
    of every scale replica and of any real Spark-written table) must
    stream the same rows as the single-file layout, through every
    shape of stream directory (plain, duplicated, with sentinels): the
    file stream source does not descend into a symlinked
    subdirectory, so ``file_stream`` links part files individually."""
    import collections
    import os

    from soil_data_development_tools___arcmap_spark.streaming import events

    ev = spark.read.schema(events.EVENTS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "events.parquet")
    )
    d = str(tmp_path / "events_multipart")
    os.makedirs(d, exist_ok=True)
    ev.repartition(4).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    run = getattr(events, runner)
    single = collections.Counter(map(tuple, run(spark, SF_SMOKE).collect()))
    multi = collections.Counter(map(tuple, run(spark, d).collect()))
    assert single == multi and len(multi) > 0


def test_streams_leave_no_per_process_temp_dirs(
    spark, tmp_path, monkeypatch
):
    """Stream directories live in the uid-private cachefs base: building
    the events, documents and flush-sentinel streams twice from a new
    sf dir adds no ``sddt_*`` entry directly under the temp dir except
    ``sddt_cache_<uid>``, and the second pass reuses the first pass's
    cache entries. The temp dir is redirected to ``tmp_path`` so the
    snapshot sees only this test's files."""
    import os
    import tempfile

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        read_documents_stream,
    )
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        read_events_stream,
        run_attribution_outer_stream,
    )

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("events", "documents"):
        os.symlink(os.path.join(SF_SMOKE, f"{t}.parquet"), sf / f"{t}.parquet")

    def sddt():
        tmpdir = tempfile.gettempdir()
        return {e for e in os.listdir(tmpdir) if e.startswith("sddt_")}

    before = sddt()
    cache = f"sddt_cache_{os.getuid()}"
    passes = []
    for _ in range(2):
        read_events_stream(spark, str(sf))
        read_documents_stream(spark, str(sf))
        assert run_attribution_outer_stream(spark, str(sf)).count() > 0
        assert sddt() - before == {cache}
        passes.append(sorted(os.listdir(tmp / cache)))
    assert passes[0] == passes[1] and len(passes[0]) == 3


def test_cms_grid_stream_matches_batch_and_replay(spark, tmp_path):
    """The stateful streaming CMS grid must equal the batch cms_sketch
    grid EXACTLY (the CMS is linear — per-batch cell addition is the
    grid of the concatenated stream), and a 4-file one-per-trigger
    replay must equal the single-batch run. Also pins the
    bounded-state claim: exactly depth grid rows, cells < width."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.functions.sketches import (
        cms_sketch,
    )
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_cms_grid_stream,
    )

    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    batch = {
        (r["r"], r["c"], r["cnt"])
        for r in cms_sketch(toks, F.col("tok"), 3, 512, "cms").collect()
    }
    single = {
        (r["r"], r["c"], r["cnt"])
        for r in run_cms_grid_stream(spark, SF_SMOKE).collect()
    }
    src = str(tmp_path / "docs_split_cms")
    os.makedirs(src, exist_ok=True)
    for part in range(4):
        docs.where(F.col("doc_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    multi_src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    multi = {
        (r["r"], r["c"], r["cnt"])
        for r in run_cms_grid_stream(spark, SF_SMOKE, source=multi_src).collect()
    }
    assert batch == single == multi and len(batch) > 0
    assert {r for r, _, _ in multi} == {0, 1, 2}
    assert all(0 <= c < 512 for _, c, _ in multi)


def test_priority_sample_stream_matches_batch_and_replay(spark, tmp_path):
    """The stateful streaming priority sampler must equal the batch
    docs_priority_sample EXACTLY (sample membership, ranks, tau-based
    HT estimate, exact total — all deterministic integer math), and a
    4-file one-per-trigger replay (incremental per-salt bottom-(n+1)
    merges) must equal the single-batch run — the mergeability
    property exercised through real stream-state round trips."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark import queries as Q
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_priority_sample_stream,
    )

    cols = ("doc_id", "source", "n_chars", "prank", "ht_total",
            "exact_total", "err_permille")
    batch = {
        tuple(r[c] for c in cols)
        for r in Q.docs_priority_sample(spark, SF_SMOKE).select(*cols).collect()
    }
    single = {
        tuple(r[c] for c in cols)
        for r in run_priority_sample_stream(spark, SF_SMOKE).collect()
    }
    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    src = str(tmp_path / "docs_split_psamp")
    os.makedirs(src, exist_ok=True)
    for part in range(4):
        docs.where(F.col("doc_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    multi_src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    multi = {
        tuple(r[c] for c in cols)
        for r in run_priority_sample_stream(
            spark, SF_SMOKE, source=multi_src
        ).collect()
    }
    assert batch == single == multi and len(batch) == 50


def test_emb_drift_stream_matches_batch_and_replay(spark, tmp_path):
    """The stateful streaming drift monitor must equal the batch
    emb_drift table EXACTLY (moments are linear — per-batch addition
    is the aggregation of the concatenated stream), and a 4-file
    one-per-trigger replay must equal the single-batch run. State is
    bounded by the dimensionality: exactly 64 rows."""
    import os

    from pyspark.sql import functions as F

    import soil_data_development_tools___arcmap_spark.queries as Q
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        EMB_SCHEMA,
        run_emb_drift_stream,
    )

    def rows(df):
        return {
            (
                r["dim"], r["n_old"], r["n_new"], r["sum_old_e6"],
                r["sum_new_e6"], r["delta_xn"], r["drift_rank"],
            )
            for r in df.collect()
        }

    batch = rows(Q.emb_drift(spark, SF_SMOKE))
    single = rows(run_emb_drift_stream(spark, SF_SMOKE))
    emb = spark.read.schema(EMB_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "embeddings.parquet")
    )
    src = str(tmp_path / "emb_split_drift")
    os.makedirs(src, exist_ok=True)
    for part in range(4):
        emb.where(F.col("vec_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    multi_src = (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    multi = rows(run_emb_drift_stream(spark, SF_SMOKE, source=multi_src))
    assert batch == single == multi
    assert len({t[0] for t in multi}) == 64


def test_media_phash_stream_across_batches_and_invariance(spark, tmp_path):
    """The stateless streaming image gate must be batch-partition
    invariant (4-file one-per-trigger replay == single batch), and
    every emitted match must share the planted base pattern — the
    cross-parity brightness offsets are exactly what the aHash
    invariance absorbs."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_media_phash_stream,
    )

    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    src = str(tmp_path / "docs_split_phash")
    os.makedirs(src, exist_ok=True)
    for part in range(4):
        docs.where(F.col("doc_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    single = {
        (r["new_did"], r["corpus_did"])
        for r in run_media_phash_stream(spark, SF_SMOKE).collect()
    }
    multi_src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    multi = {
        (r["new_did"], r["corpus_did"])
        for r in run_media_phash_stream(
            spark, SF_SMOKE, source=multi_src
        ).collect()
    }
    assert single == multi and len(single) > 0
    assert all(n % 2 == 1 and c % 2 == 0 for n, c in single)
    assert all(n % 37 == c % 37 for n, c in single)
    # broadcast-pinned mode is value-identical
    pinned = {
        (r["new_did"], r["corpus_did"])
        for r in run_media_phash_stream(
            spark, SF_SMOKE, broadcast=True
        ).collect()
    }
    assert pinned == single


def test_media_audio_stream_across_batches(spark, tmp_path):
    """The stateless streaming audio gate must be batch-partition
    invariant, and every match must share the planted base waveform
    despite cross-parity gain differences."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_media_audio_stream,
    )

    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    src = str(tmp_path / "docs_split_audio")
    os.makedirs(src, exist_ok=True)
    for part in range(4):
        docs.where(F.col("doc_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    single = {
        (r["new_did"], r["corpus_did"])
        for r in run_media_audio_stream(spark, SF_SMOKE).collect()
    }
    multi_src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    multi = {
        (r["new_did"], r["corpus_did"])
        for r in run_media_audio_stream(
            spark, SF_SMOKE, source=multi_src
        ).collect()
    }
    assert single == multi and len(single) > 0
    assert all(n % 2 == 1 and c % 2 == 0 for n, c in single)
    # every planted same-base cross-parity pair MUST match (the
    # gain-invariance claim); an 11-bit fingerprint also collides
    # across bases sometimes, which is legitimate for a fingerprint
    # this short — so same-base is a required subset, not an equality
    dids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    planted = {
        (n, c)
        for n in dids
        if n % 2 == 1
        for c in dids
        if c % 2 == 0 and n % 23 == c % 23
    }
    assert planted <= single


def test_emb_drift_stream_single_parity_matches_batch(spark, tmp_path):
    """An ingest with only one snapshot half (all-odd vec_ids) must
    match the batch table exactly: the empty half's sums are NULL
    (batch F.sum over an empty when-branch), not 0."""
    import os

    from pyspark.sql import functions as F

    import soil_data_development_tools___arcmap_spark.queries as Q
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        EMB_SCHEMA,
        run_emb_drift_stream,
    )

    emb = spark.read.schema(EMB_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "embeddings.parquet")
    ).where(F.col("vec_id") % 2 == 1)
    sf_odd = str(tmp_path / "sf_odd")
    os.makedirs(sf_odd, exist_ok=True)
    emb.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_odd, "embeddings.parquet")
    )

    def rows(df):
        return {
            (
                r["dim"], r["n_old"], r["n_new"], r["sum_old_e6"],
                r["sum_new_e6"], r["delta_xn"], r["drift_rank"],
            )
            for r in df.collect()
        }

    batch = rows(Q.emb_drift(spark, sf_odd))
    stream = rows(run_emb_drift_stream(spark, sf_odd))
    assert batch == stream and len(batch) == 64
    # the empty half is NULL end-to-end, never 0
    assert all(t[1] == 0 and t[3] is None and t[5] is None for t in batch)


# --- Round 9: growing-index ingest gates ------------------------------------


def _range_split_odds(spark, tmp_path, name, n_files=4, hi=500):
    """Write the odd-doc stream as did-ORDERED range files (arrival
    order must equal doc_id order for the growing gates' sequential
    fold) and return a maxFilesPerTrigger=1 streaming source."""
    import os

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
    )

    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    src = str(tmp_path / name)
    os.makedirs(src, exist_ok=True)
    step = hi // n_files
    for part in range(n_files):
        lo_d, hi_d = part * step, (part + 1) * step
        docs.where(
            (F.col("doc_id") >= lo_d) & (F.col("doc_id") < hi_d)
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/p{part}")
        # one file per range dir; link them in order into a flat dir
    flat = str(tmp_path / (name + "_flat"))
    os.makedirs(flat, exist_ok=True)
    import glob
    import shutil
    import time

    for part in range(n_files):
        (f,) = glob.glob(f"{src}/p{part}/part-*.parquet")
        shutil.copy(f, f"{flat}/{part:02d}.parquet")
        # file-source order follows modification time; space them out
        os.utime(f"{flat}/{part:02d}.parquet", (time.time() + part,
                                                time.time() + part))
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat),
        step,
    )


def test_image_gate_grow_across_batches(spark, tmp_path):
    """The growing image gate must admit copy #1 and flag copies #2+
    as dup_stream ACROSS micro-batches (the stateless gate's
    documented hole), and a did-ordered multi-batch replay must equal
    the single-trigger run."""
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        run_media_phash_gate_grow,
    )

    single = {
        (r["did"], r["status"], r["match_did"])
        for r in run_media_phash_gate_grow(spark, SF_SMOKE).collect()
    }
    assert len(single) == 250
    src, step = _range_split_odds(spark, tmp_path, "img_grow", n_files=4)
    multi = {
        (r["did"], r["status"], r["match_did"])
        for r in run_media_phash_gate_grow(
            spark, SF_SMOKE, source=src
        ).collect()
    }
    assert multi == single
    # cross-batch flagging: a dup_stream row whose admitted match
    # arrived in an EARLIER micro-batch (different did-range file)
    cross = [
        (d, m)
        for d, s, m in multi
        if s == "dup_stream" and m is not None and m // step < d // step
    ]
    assert cross, "no dup group straddles a batch boundary"
    admits = {d for d, s, _ in multi if s == "admit"}
    assert all(m in admits for _, m in cross)


def test_audio_gate_grow_across_batches(spark, tmp_path):
    """Audio twin of test_image_gate_grow_across_batches."""
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        run_media_audio_gate_grow,
    )

    single = {
        (r["did"], r["status"], r["match_did"])
        for r in run_media_audio_gate_grow(spark, SF_SMOKE).collect()
    }
    src, step = _range_split_odds(spark, tmp_path, "aud_grow", n_files=4)
    multi = {
        (r["did"], r["status"], r["match_did"])
        for r in run_media_audio_gate_grow(
            spark, SF_SMOKE, source=src
        ).collect()
    }
    assert multi == single and len(single) == 250
    cross = [
        (d, m)
        for d, s, m in multi
        if s == "dup_stream" and m is not None and m // step < d // step
    ]
    assert cross, "no dup group straddles a batch boundary"


def _python_fold_reference(texts: dict[int, str], threshold_e4=3000,
                           arrival: list[list[int]] | None = None):
    """Independent pure-Python sequential fold (triple-implementation
    check: Spark gate, DuckDB recursive CTE, this). ``arrival`` is an
    optional list of micro-batches (each a list of doc_ids): the fold
    processes batches in the given order, ties inside a batch by
    ascending doc_id — the gate's documented arrival-order contract.
    Default: one batch of everything, i.e. pure doc_id order."""
    import hashlib

    def shingles(t):
        toks = [x for x in t.split(" ") if x]
        return (
            {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            if len(toks) >= 3
            else set()
        )

    def bands(ss):
        mh = [
            min(
                hashlib.md5(f"{i // 4}#{s}".encode()).hexdigest()[
                    8 * (i % 4) : 8 * (i % 4) + 8
                ]
                for s in ss
            )
            for i in range(16)
        ]
        return ["|".join(mh[b * 4 : b * 4 + 4]) for b in range(4)]

    def jac_e4(a, b):
        inter = len(a & b)
        return (inter * 10000) // (len(a) + len(b) - inter)

    sigs = {
        d: (ss, bands(ss))
        for d, t in texts.items()
        if (ss := shingles(t))
    }
    corpus = {d: v for d, v in sigs.items() if d % 2 == 0}
    out = {}
    admitted = {}
    batches = arrival if arrival is not None else [sorted(sigs)]
    order = [d for b in batches for d in sorted(b) if d in sigs]
    for d in order:
        if d % 2 == 0:
            continue
        ss, bd = sigs[d]
        cms = [
            cd
            for cd, (css, cbd) in corpus.items()
            if any(x == y for x, y in zip(bd, cbd))
            and jac_e4(ss, css) >= threshold_e4
        ]
        if cms:
            out[d] = ("dup_corpus", min(cms))
            continue
        ams = [
            ad
            for ad, (ass, abd) in admitted.items()
            if any(x == y for x, y in zip(bd, abd))
            and jac_e4(ss, ass) >= threshold_e4
        ]
        if ams:
            out[d] = ("dup_stream", min(ams))
        else:
            admitted[d] = (ss, bd)
            out[d] = ("admit", None)
    return out


def test_text_gate_grow_matches_python_fold(spark):
    """The growing text gate must equal an independent pure-Python
    sequential fold over the same banded-candidate + Jaccard-verified
    match definition (the engine-independent layer, like
    test_property_agg)."""
    import os

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_neardup_gate_grow,
    )

    out, stats = run_neardup_gate_grow(spark, SF_SMOKE)
    got = {
        r["did"]: (r["status"], r["match_did"]) for r in out.collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.schema(DOCS_SCHEMA)
        .parquet(os.path.join(SF_SMOKE, "documents.parquet"))
        .collect()
    }
    want = _python_fold_reference(texts)
    assert got == want and len(got) > 0
    # the admitted index must hold exactly the admitted docs' bands
    n_admit = sum(1 for s, _ in want.values() if s == "admit")
    assert stats["admitted_rows_per_batch"][-1] == 4 * n_admit


def test_text_gate_grow_cross_batch_chain(spark, tmp_path):
    """Planted chain across DIFFERENT micro-batches: copy #1 admitted,
    copy #2 flagged dup_stream in a later batch, and a doc whose ONLY
    match is the non-admitted copy #2 is itself admitted (the
    non-transitive fold the exact gates cannot exhibit)."""
    import os

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_neardup_gate_grow,
    )

    # unique vocabulary -> no shingles shared with the sf0.001 corpus;
    # the s184 salt makes md5 banding fire for a~b and b~c but not a~c
    # (a~c is also structurally below threshold: jac 2727 < 3000)
    base = ["zq%d" % i for i in range(30)]
    yy = ["y%ds184" % i for i in range(2)]
    ww = ["w%ds184" % i for i in range(14)]
    a = " ".join(base)                    # copy #1 (did 1001)
    b = " ".join(base[:28] + yy)          # near-dup of a (jac 8666)
    c = " ".join(base[14:28] + yy + ww)   # matches b (3333), not a
    rows = [(1001, a), (1003, b), (1005, c)]
    # stage and stream from SEPARATE dirs (same pattern as
    # _range_split_odds): staging subdirectories inside the streamed
    # dir would double-ingest under recursiveFileLookup-style readers
    stage = str(tmp_path / "chain_stage")
    flat = str(tmp_path / "chain")
    os.makedirs(flat, exist_ok=True)
    import glob
    import shutil
    import time

    for i, (did, text) in enumerate(rows):
        spark.createDataFrame(
            [(did, text, "en", "synth", len(text))], DOCS_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{stage}/p{i}")
        (f,) = glob.glob(f"{stage}/p{i}/part-*.parquet")
        shutil.copy(f, f"{flat}/{i:02d}.parquet")
        os.utime(f"{flat}/{i:02d}.parquet",
                 (time.time() + i, time.time() + i))
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out, _ = run_neardup_gate_grow(spark, SF_SMOKE, source=stream)
    got = {r["did"]: (r["status"], r["match_did"]) for r in out.collect()}
    want = _python_fold_reference({0: "", **dict(rows)})
    assert got == want
    assert got[1001] == ("admit", None)
    assert got[1003] == ("dup_stream", 1001)   # flagged across batches
    assert got[1005][0] == "admit"             # only match was never admitted


def test_text_gate_grow_landed_matches_memory(spark, tmp_path):
    """Landed mode (batch_id-partitioned idempotent store) must produce
    exactly the session-local decisions, and a FULL REPLAY of the same
    stream against the already-landed store (fresh checkpoint, same
    land_dir) must leave the decisions byte-identical — the retry /
    at-least-once-delivery guarantee."""
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        run_neardup_gate_grow,
    )

    src, _ = _range_split_odds(spark, tmp_path, "landed_gate", n_files=4)
    plain, _ = run_neardup_gate_grow(spark, SF_SMOKE)
    want = {
        (r["did"], r["status"], r["match_did"]) for r in plain.collect()
    }
    land = str(tmp_path / "land")
    out1, _ = run_neardup_gate_grow(
        spark, SF_SMOKE, source=src,
        land_dir=land, checkpoint=str(tmp_path / "ck1"),
    )
    got1 = {(r["did"], r["status"], r["match_did"]) for r in out1.collect()}
    assert got1 == want
    # full replay: fresh checkpoint -> every file re-delivered with the
    # same batch ids against the recovered admitted index
    src2, _ = _range_split_odds(spark, tmp_path, "landed_gate2", n_files=4)
    out2, _ = run_neardup_gate_grow(
        spark, SF_SMOKE, source=src2,
        land_dir=land, checkpoint=str(tmp_path / "ck2"),
    )
    got2 = {(r["did"], r["status"], r["match_did"]) for r in out2.collect()}
    assert got2 == want
    # no duplicate rows either (partition overwrite, not append)
    assert out2.count() == len(want)


def test_text_gate_grow_landed_restart_recovers_index(spark, tmp_path):
    """Crash/restart recovery: process the first half of the stream,
    then a NEW invocation with the same checkpoint + land_dir processes
    only the remaining files — and its decisions must equal the
    single-run fold because the admitted index is recovered from the
    landed partitions (a doc in the second half that duplicates a
    first-half admission must flag dup_stream, not admit)."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_neardup_gate_grow,
    )

    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    stage = str(tmp_path / "restart_stage")
    flat = str(tmp_path / "restart_flat")
    os.makedirs(flat, exist_ok=True)
    step = 125
    for part in range(4):
        docs.where(
            (F.col("doc_id") >= part * step)
            & (F.col("doc_id") < (part + 1) * step)
        ).coalesce(1).write.mode("overwrite").parquet(f"{stage}/p{part}")

    def publish(part):
        (f,) = glob.glob(f"{stage}/p{part}/part-*.parquet")
        shutil.copy(f, f"{flat}/{part:02d}.parquet")
        os.utime(f"{flat}/{part:02d}.parquet",
                 (time.time() + part, time.time() + part))

    land = str(tmp_path / "restart_land")
    ck = str(tmp_path / "restart_ck")

    def run():
        srcdf = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )
        return run_neardup_gate_grow(
            spark, SF_SMOKE, source=srcdf, land_dir=land, checkpoint=ck
        )

    publish(0)
    publish(1)
    run()  # first run: files 0-1 only
    publish(2)
    publish(3)
    out, _ = run()  # restart: must process ONLY files 2-3
    got = {(r["did"], r["status"], r["match_did"]) for r in out.collect()}
    plain, _ = run_neardup_gate_grow(spark, SF_SMOKE)
    want = {
        (r["did"], r["status"], r["match_did"]) for r in plain.collect()
    }
    assert got == want


def test_video_gate_grow_across_batches(spark, tmp_path):
    """Video twin of test_image_gate_grow_across_batches on the shared
    fold runner: did-ordered multi-batch replay equals the
    single-trigger run, dup groups straddling a batch boundary are
    flagged against an earlier batch's admission, and every decision
    class is populated."""
    import collections

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        run_video_gate_grow,
    )

    out, _ = run_video_gate_grow(spark, SF_SMOKE)
    single = {
        (r["did"], r["status"], r["match_did"]) for r in out.collect()
    }
    counts = collections.Counter(s for _, s, _ in single)
    assert len(single) == 250
    assert min(counts["admit"], counts["dup_corpus"],
               counts["dup_stream"]) > 0
    src, step = _range_split_odds(spark, tmp_path, "vid_grow", n_files=4)
    out2, _ = run_video_gate_grow(spark, SF_SMOKE, source=src)
    multi = {
        (r["did"], r["status"], r["match_did"]) for r in out2.collect()
    }
    assert multi == single
    cross = [
        (d, m)
        for d, s, m in multi
        if s == "dup_stream" and m is not None and m // step < d // step
    ]
    assert cross, "no dup group straddles a batch boundary"
    admits = {d for d, s, _ in multi if s == "admit"}
    assert all(m in admits for _, m in cross)


def test_image_gate_grow_state_equals_admit_count(spark, tmp_path):
    """The growing gate's state-store bill must be exactly the
    novel-fingerprint count: corpus-matching fingerprints never create
    state, so the engine's own numRowsTotal equals the admit count
    (dup_stream groups share their admitter's row)."""
    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        run_media_phash_gate_grow,
    )
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        peak_state_rows,
    )

    src, _ = _range_split_odds(spark, tmp_path, "img_state", n_files=4)
    tbl, q = run_media_phash_gate_grow(
        spark, SF_SMOKE, source=src, with_query=True
    )
    rows = tbl.collect()
    admits = sum(1 for r in rows if r["status"] == "admit")
    # dup_stream fingerprints also live in the store (one row per
    # novel fingerprint, admitted by its first arrival)
    peak = peak_state_rows(q)
    assert admits > 0 and peak == admits
    corpus_dups = sum(1 for r in rows if r["status"] == "dup_corpus")
    assert corpus_dups > 0  # and none of them contributed state


def test_image_gate_grow_landed_restart_resumes_state(spark, tmp_path):
    """Checkpointed landed mode for the stateful image gate: a restart
    resumes the applyInPandasWithState store from the checkpoint, so a
    post-restart duplicate of a pre-restart admission is flagged
    dup_stream (not re-admitted), the parquet sink stays exactly-once,
    and the combined output equals the single-run gate."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark.streaming.docs import (
        DOCS_SCHEMA,
        run_media_phash_gate_grow,
    )

    docs = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    )
    stage = str(tmp_path / "img_restart_stage")
    flat = str(tmp_path / "img_restart_flat")
    os.makedirs(flat, exist_ok=True)
    # boundary at 100: the planted odd-block chain (97, 103) straddles
    # it, so the restarted run MUST consult pre-restart state to flag
    # 103 as a dup of 97
    bounds = [(0, 100), (100, 250), (250, 375), (375, 500)]
    for part, (lo, hi) in enumerate(bounds):
        docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(f"{stage}/p{part}")

    def publish(part):
        (f,) = glob.glob(f"{stage}/p{part}/part-*.parquet")
        shutil.copy(f, f"{flat}/{part:02d}.parquet")
        os.utime(f"{flat}/{part:02d}.parquet",
                 (time.time() + part, time.time() + part))

    land = str(tmp_path / "img_land")
    ck = str(tmp_path / "img_ck")

    def run():
        srcdf = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )
        return run_media_phash_gate_grow(
            spark, SF_SMOKE, source=srcdf, land_dir=land, checkpoint=ck
        )

    publish(0)
    run()
    publish(1)
    publish(2)
    publish(3)
    out = run()  # restart: state store recovered from the checkpoint
    got = {
        (r["did"], r["status"], r["match_did"]) for r in out.collect()
    }
    single = run_media_phash_gate_grow(spark, SF_SMOKE)
    want = {
        (r["did"], r["status"], r["match_did"]) for r in single.collect()
    }
    assert got == want
    assert out.count() == len(want)  # exactly-once: no duplicate rows
    # the restart really crossed an admission: some dup_stream's
    # admitter arrived in the pre-restart half
    cross_restart = [
        (d, m)
        for d, s_, m in got
        if s_ == "dup_stream" and m is not None and m < 100 <= d
    ]
    assert (103, 97) in cross_restart, (
        "the (97, 103) chain must cross the restart boundary",
        sorted(cross_restart),
    )
