"""Structured Streaming ingestion of the events table.

The reference is strictly batch (SURVEY §2.9); this is net-new,
north-star surface. The same transformation runs in batch and
streaming — ``tumbling_daily(df)`` is used by the batch query
``events_tumbling_daily`` AND by ``run_stream_to_table`` over the
file-source stream, so the correctness oracle for the batch form
certifies the streaming form (exactly-once file source + deterministic
agg ⇒ identical results at availableNow completion).

Every streaming query here and in ``docs.py`` runs on the same
plumbing, defined once below:

- ``file_stream`` is the one file source: a parquet table exposed as a
  stream through a cached symlink directory (one link per part file,
  optional duplicate copies and flush-sentinel rows), built once per
  source fingerprint under ``cachefs`` — no per-process temp dirs;
- ``drain`` is the one runner: one availableNow query into a memory
  sink (or a parquet sink for the landed gates), awaited, its result
  read back and the sink's temp view dropped at once, so no view keeps
  sink rows alive for the rest of the session;
- ``final_rows`` picks each key's last row off an update-mode sink,
  and ``peak_state_rows`` reads a finished query's peak state-store
  rows.

Timestamps: the parquet source carries ``ts`` as TIMESTAMP(µs, NTZ);
``_ts_ns`` converts it to integer nanoseconds right after the scan
(UTC session timezone, matching DuckDB's ``epoch_us``) so every
downstream expression stays in exact integer space —
day = µs // 86_400_000_000.
At scale, the file source becomes Kafka and the watermark bounds
state: ``with_watermark=True`` derives an event-time column and a
1-day watermark so late data older than a day is dropped instead of
growing state forever.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    TimestampNTZType,
    StructField,
    StructType,
)

from ..cachefs import cached_dir

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),  # µs-precision wall time
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

US_PER_DAY = 86_400_000_000


def _ts_ns(df: DataFrame) -> DataFrame:
    """Replace the TIMESTAMP_NTZ ``ts`` with exact integer ns since
    epoch. The NTZ→TIMESTAMP cast below renders wall time in the
    SESSION timezone, so it is pinned to UTC here — at the conversion
    site — covering every streaming path (a driver-supplied non-UTC
    session would otherwise shift every ts by the tz offset and
    diverge from the DuckDB oracle, which compares in UTC).

    Streaming readers always go through ``EVENTS_SCHEMA`` (NTZ), so
    only the timestamp branch is live here; the guard merely keeps the
    helper total if handed an already-converted long column."""
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    if dict(df.dtypes).get("ts") in ("timestamp", "timestamp_ntz"):
        df = df.withColumn(
            "ts",
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
                "long"
            ),
        )
    return df


def file_stream(
    spark: SparkSession,
    src: str,
    schema: StructType | str,
    *,
    copies: int = 1,
    sentinels: list[tuple] | None = None,
) -> DataFrame:
    """The parquet table ``src`` (a single file or a directory of part
    files) as a file-source stream — the package's one stream
    reader.

    The file source reads a directory and lists the plain files in
    it; sf_dir mixes every table in one directory, and the source does
    not descend into a symlinked subdirectory. So the stream directory
    holds one symlink per part file of a directory table (the layout
    of every scale replica and of any Spark-written table), or one for
    a single-file table — zero copy. ``copies`` links every file that
    many times (each row then arrives ``copies`` times). ``sentinels``
    are extra rows, in ``schema``'s field order (a ``StructType``
    then), written into the same directory as one small parquet
    file.

    The directory is a ``cachefs.cached_dir``, keyed by the source's
    path, mtime and size, ``copies``, the sentinel rows and this
    function's source text: a rewritten table (new part-file names)
    or an edited builder gets a new directory, and every later call,
    in any process, reuses the finished one in the uid-private cache
    base instead of making a temp dir of its own."""
    src = os.path.abspath(src)

    def build(staging: str) -> None:
        if os.path.isdir(src):
            files = [
                os.path.join(src, f)
                for f in sorted(os.listdir(src))
                if f.endswith(".parquet")
            ]
        else:
            files = [src]
        for i in range(copies):
            for f in files:
                link = f"{i}_{os.path.basename(f)}"
                os.symlink(f, os.path.join(staging, link))
        if sentinels:
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(schema)
            rows = [dict(zip(arrow_schema.names, r)) for r in sentinels]
            pq.write_table(
                pa.Table.from_pylist(rows, schema=arrow_schema),
                os.path.join(staging, "zz_sentinel.parquet"),
            )

    stream_dir = cached_dir(
        "stream", [src], build, code=(file_stream,),
        extra=f"{copies}|{sentinels!r}",
    )
    return spark.readStream.schema(schema).parquet(stream_dir)


def drain(
    df: DataFrame,
    mode: str = "append",
    *,
    path: str | None = None,
    checkpoint: str | None = None,
) -> tuple[DataFrame, StreamingQuery]:
    """Run the streaming ``df`` to completion as one availableNow query
    and return ``(result, query)``; ``awaitTermination`` re-raises a
    failed query's error.

    The default sink is a memory table under a fresh query name:
    ``result`` is read from its temp view, and the view is dropped
    before returning. ``result`` keeps its analyzed plan, so it still
    reads the sink's rows; once it and ``query`` are garbage, so are
    the rows (an undropped view would pin them in driver memory for
    the life of the session). With ``path`` the sink is parquet files
    there, restartable from ``checkpoint``, and ``result`` reads them
    back."""
    spark = df.sparkSession
    writer = df.writeStream.outputMode(mode).trigger(availableNow=True)
    if path is not None:
        q = writer.format("parquet").option(
            "checkpointLocation", checkpoint
        ).start(path)
        q.awaitTermination()
        return spark.read.parquet(path), q
    name = "drain_" + uuid.uuid4().hex
    q = writer.format("memory").queryName(name).start()
    q.awaitTermination()
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result, q


def final_rows(df: DataFrame, key: str) -> DataFrame:
    """Each ``key``'s last row of an update-mode sink: the stateful
    sketch streams emit one running row per key per micro-batch with
    a monotone ``upd_seq``, and the highest one is the final state."""
    w = Window.partitionBy(key).orderBy(F.col("upd_seq").desc())
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)


def peak_state_rows(q: StreamingQuery) -> int:
    """Peak state-store rows of a finished query: the max of
    ``stateOperators[].numRowsTotal`` over its micro-batch progresses.

    ``recentProgress`` is a ring buffer of
    ``spark.sql.streaming.numRecentProgressUpdates`` entries; a full
    buffer may have dropped batches, so the peak could undercount, and
    that raises instead."""
    progress = q.recentProgress
    cap = int(
        SparkSession.active().conf.get(
            "spark.sql.streaming.numRecentProgressUpdates"
        )
    )
    if len(progress) >= cap:
        raise RuntimeError(
            f"{len(progress)} progress entries fill the {cap}-entry ring "
            "buffer; raise spark.sql.streaming.numRecentProgressUpdates"
        )
    return max(
        (
            int(so.get("numRowsTotal") or 0)
            for p in progress
            for so in p.get("stateOperators") or []
        ),
        default=0,
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream with integer-ns ``ts``
    (see ``file_stream``)."""
    return _ts_ns(
        file_stream(spark, f"{sf_dir}/events.parquet", EVENTS_SCHEMA)
    )


def tumbling_daily(events: DataFrame, with_watermark: bool = False) -> DataFrame:
    """Tumbling 1-day window per event_type: count + exact cent sum.
    Works identically over a batch or streaming DataFrame."""
    df = events.withColumn("day_num", F.expr("(ts div 1000) div 86400000000"))
    if with_watermark:
        df = df.withColumn(
            "event_time", F.timestamp_micros(F.expr("ts div 1000"))
        ).withWatermark("event_time", "1 day")
    return df.groupBy("day_num", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
    )


def sessionize_stateful(
    spark: SparkSession,
    sf_dir: str,
    gap_min: int = 30,
    source: DataFrame | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (the arbitrary-state API — the batch
    window/lag形 can't run incrementally). State per user =
    (n_sessions, n_events, last_ts); a new session opens when the gap
    to the previous event exceeds ``gap_min``.

    Semantics match the batch ``events_sessionize`` query exactly
    (same oracle certifies both): events are processed in
    (ts, event_id) order within the batch. In production, a watermark
    + event-time ordering guard would handle cross-batch late data;
    with the availableNow file source all rows arrive in one batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_min * 60 * 1_000_000
    ev = (
        source if source is not None else read_events_stream(spark, sf_dir)
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

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="n_sessions long, n_events long, last_ts long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful sessionization to completion and return the
    final per-user table (update-mode memory sink; the single
    availableNow batch yields one row per user)."""
    return drain(sessionize_stateful(spark, sf_dir), "update")[0]


def sliding_weekly(events: DataFrame, with_watermark: bool = False) -> DataFrame:
    """Sliding 7-day/1-day window per event_type over event time —
    the streaming twin of the batch ``events_sliding_window`` query
    (which fans each event into its 7 windows via a generate_series
    join). ``F.window`` slide alignment is epoch-based, so a window
    ending exclusively at day e+1 covers days [e-6, e] — relabeling
    by end-1 reproduces the batch ``win_end_day`` exactly."""
    df = events.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )
    if with_watermark:
        df = df.withWatermark("event_time", "1 day")
    return (
        df.groupBy(
            F.window("event_time", "7 days", "1 day").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
        .select(
            F.expr("(unix_micros(w.end) div 86400000000) - 1").alias(
                "win_end_day"
            ),
            "event_type",
            "n",
            "value_c",
        )
    )


def run_sliding_stream(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Run the sliding-window aggregation as a stream to completion
    (availableNow + memory sink).

    UPDATE mode + 1-day watermark: the 7d/1d windows already group on
    the event-time column, so closed windows are evicted from the
    store once the watermark passes their end — state holds ~8 open
    windows per type instead of the whole history. Final value per
    group = ``max_by(..., n)`` over the update-mode sink rows (``n``
    strictly increases each time a group is emitted).

    ``source`` overrides the default single-file reader — the
    multi-batch replay test delivers one day per trigger, pinning that
    in-order replay under the 1-day watermark loses nothing."""
    sink, _ = drain(
        sliding_weekly(
            source
            if source is not None
            else read_events_stream(spark, sf_dir),
            with_watermark=True,
        ),
        "update",
    )
    return (
        sink.groupBy("win_end_day", "event_type")
        .agg(
            F.max("n").alias("n"),
            F.max_by("value_c", "n").alias("value_c"),
        )
    )


#: static event-type → category dimension for stream-static joins
EVENT_CATEGORIES = {
    "click": "engagement",
    "view": "engagement",
    "signup": "acquisition",
    "purchase": "revenue",
    "error": "ops",
}


def _category_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        list(EVENT_CATEGORIES.items()), "event_type string, category string"
    )


def enriched_daily(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join the (broadcast) category
    dimension onto the event stream, then tumbling 1-day counts per
    category. Works identically over a batch or streaming DataFrame —
    a stream-static inner join is stateless in Structured Streaming
    (the static side is broadcast to every micro-batch), so this
    composes with the windowed agg without extra watermark needs."""
    df = events.withColumn("day_num", F.expr("(ts div 1000) div 86400000000"))
    return (
        df.join(F.broadcast(dim), "event_type")
        .groupBy("day_num", "category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
    )


def run_enriched_stream(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Run the stream-static enrichment to completion (availableNow +
    memory sink) and return the result table.

    UPDATE mode: the batch twin's day_num grouping becomes a
    watermark-evicted 1-day ``F.window`` on event time (a plain bigint
    key would never leave the state store), relabeled back to day_num
    on the sink rollup; final value per group = ``max_by(..., n)``.

    ``source`` overrides the default single-file reader (multi-batch
    replay test, one day per trigger)."""
    ev = (
        (source if source is not None else read_events_stream(spark, sf_dir))
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("event_time", "1 day")
    )
    sink, _ = drain(
        ev.join(F.broadcast(_category_dim(spark)), "event_type")
        .groupBy(F.window("event_time", "1 day").alias("w"), "category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        ),
        "update",
    )
    return (
        sink.groupBy(
            F.expr("unix_micros(w.start) div 86400000000").alias("day_num"),
            "category",
        )
        .agg(
            F.max("n").alias("n"),
            F.max_by("value_c", "n").alias("value_c"),
        )
    )


ATTRIBUTION_WINDOW_US = 3_600_000_000  # 1 hour


def attribution_pairs(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Click→purchase attribution: every (purchase, click) pair for
    the same user where the click lands within the hour BEFORE (or at)
    the purchase. Batch form — an inner join with an integer-µs range
    predicate; the result set is arrival-order independent, so the
    same predicate certifies the stream-stream twin."""
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.expr("ts div 1000").alias("c_us"),
    )
    p = purchases.select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.expr("ts div 1000").alias("p_us"),
    )
    return (
        p.join(c, "user_id")
        .where(
            (F.col("c_us") >= F.col("p_us") - ATTRIBUTION_WINDOW_US)
            & (F.col("c_us") <= F.col("p_us"))
        )
        .select("purchase_id", "click_id")
    )


def run_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join (the real Structured Streaming
    capability): clicks and purchases read as two streams, each
    watermarked 1 hour, joined on user_id with the event-time range
    condition. The watermark + the time bound let Spark drop click
    state older than the attribution window instead of buffering the
    stream forever — the state-bounded production shape. availableNow
    + memory sink returns the completed result; inner-join output is
    deterministic regardless of micro-batching."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.timestamp_micros(F.expr("ts div 1000")).alias("c_time"),
        )
        .withWatermark("c_time", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.timestamp_micros(F.expr("ts div 1000")).alias("p_time"),
        )
        .withWatermark("p_time", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (purchases["user_id"] == clicks["user_id"])
        & (clicks["c_time"] >= purchases["p_time"] - F.expr("INTERVAL 1 HOUR"))
        & (clicks["c_time"] <= purchases["p_time"]),
        "inner",
    ).select("purchase_id", "click_id")
    return drain(joined)[0]


def attribution_pairs_outer(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Left-outer attribution from the CLICK side: every click, paired
    with each purchase landing within the hour AFTER it, else a null
    purchase — the unmatched-click denominator a conversion-rate
    pipeline needs. Batch form; same pair predicate as
    ``attribution_pairs`` (c ∈ [p−1h, p] ⇔ p ∈ [c, c+1h])."""
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.expr("ts div 1000").alias("c_us"),
    )
    p = purchases.select(
        F.col("user_id").alias("__p_user"),
        F.col("event_id").alias("purchase_id"),
        F.expr("ts div 1000").alias("p_us"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("__p_user"))
        & (F.col("p_us") >= F.col("c_us"))
        & (F.col("p_us") <= F.col("c_us") + ATTRIBUTION_WINDOW_US),
        "left",
    ).select("click_id", "purchase_id")


#: Flush sentinels: a far-future (~2096, past every generated ts,
#: still far inside int64 ns) click and purchase with negative ids, as
#: on-disk rows (``ts`` in NTZ µs). Outer-join and session-window state
#: only drains when the watermark passes it; a finite file stream ends
#: with the watermark one delay behind its newest REAL row, so the
#: newest unmatched rows / open sessions would stay buffered forever.
#: The sentinels push every input watermark past every real event, so
#: the availableNow no-data batch evicts and emits all real state —
#: the streaming result then equals the batch twin. The sentinels'
#: own rows match nothing and are filtered out by their id < 0.
FLUSH_SENTINELS = [
    (-1, 4_000_000_000_000_000, -1, "click", 0.0, None),
    (-2, 4_000_000_000_000_000, -2, "purchase", 0.0, None),
]


def _flushed_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events stream plus ``FLUSH_SENTINELS``."""
    return _ts_ns(
        file_stream(
            spark,
            f"{sf_dir}/events.parquet",
            EVENTS_SCHEMA,
            sentinels=FLUSH_SENTINELS,
        )
    )


def run_attribution_outer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream join: clicks ⟕ purchases on
    user_id with the event-time range condition. Unlike the inner form,
    outer results are NOT micro-batch invariant by default — an
    unmatched click emits its null row only when the global watermark
    proves no matching purchase can still arrive, and rows newer than
    (final watermark) would be withheld at query end. The flush
    sentinels (``FLUSH_SENTINELS``) advance both watermarks past every
    real event so the no-data batch drains state completely; the
    result then equals the batch twin and the same oracle certifies
    both."""
    clicks = (
        _flushed_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.timestamp_micros(F.expr("ts div 1000")).alias("c_time"),
        )
        .withWatermark("c_time", "1 hour")
    )
    purchases = (
        _flushed_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("__p_user"),
            F.col("event_id").alias("purchase_id"),
            F.timestamp_micros(F.expr("ts div 1000")).alias("p_time"),
        )
        .withWatermark("p_time", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (clicks["user_id"] == purchases["__p_user"])
        & (purchases["p_time"] >= clicks["c_time"])
        & (purchases["p_time"] <= clicks["c_time"] + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("click_id", "purchase_id")
    # drop the sentinel click's own row if it ever drains (id < 0);
    # this filter runs on the completed memory table, not the stream
    return drain(joined)[0].where(F.col("click_id") >= 0)


def run_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup — the ingest-side exact-dedup twin a
    training-data pipeline runs on its event/document firehose. The
    source dir links the events files TWICE (``copies=2`` → every row
    arrives duplicated); ``dropDuplicatesWithinWatermark`` on event_id
    keys the dedup state and the 1-day watermark EVICTS keys once no
    duplicate can still arrive — bounded state, unlike a plain
    dropDuplicates whose key set grows with the stream forever. The
    deduped output equals the single-copy batch table, so the batch
    oracle certifies the streaming run."""
    ev = (
        _ts_ns(
            file_stream(
                spark, f"{sf_dir}/events.parquet", EVENTS_SCHEMA, copies=2
            )
        )
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("event_time", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = ev.select(
        "event_id",
        F.expr("(ts div 1000) div 86400000000").alias("day_num"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    return drain(out)[0]


def run_stream_to_table(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Run the streaming tumbling aggregation to completion
    (availableNow + memory sink) and return the result table.

    UPDATE mode with a watermark-evicted 1-day event-time window (the
    day_num grouping of the batch twin is re-expressed as ``F.window``
    so the engine can drop closed days from the store — a day_num
    bigint key would never evict). The sink receives each group's
    RUNNING aggregate whenever it is touched; ``n`` strictly increases
    per emission, so ``max_by(..., n)`` over the sink rows is the final
    snapshot per group — correct even for non-monotone sums, no
    complete-mode state that grows with stream history.

    ``source`` overrides the default single-file reader with any
    ns-``ts`` events stream (the multi-batch replay test feeds a
    file-per-day source under maxFilesPerTrigger=1)."""
    ev = (
        (source if source is not None else read_events_stream(spark, sf_dir))
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("event_time", "1 day")
    )
    sink, _ = drain(
        ev.groupBy(F.window("event_time", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        ),
        "update",
    )
    return (
        sink.groupBy(
            F.expr("unix_micros(w.start) div 86400000000").alias("day_num"),
            "event_type",
        )
        .agg(
            F.max("n").alias("n"),
            F.max_by("value_c", "n").alias("value_c"),
        )
    )


def session_windows_builtin(
    events: DataFrame, gap_min: int = 30, with_watermark: bool = False
) -> DataFrame:
    """Per-user sessions via the BUILT-IN ``F.session_window`` (vs the
    applyInPandasWithState custom operator in ``sessionize_stateful``):
    Spark merges overlapping [t, t+gap) windows natively, state is
    managed by the engine, and the aggregation combines map-side.
    Boundary semantics differ from the batch lag() form by one point:
    an event exactly ``gap`` after its predecessor starts a NEW session
    here (windows [t1, t1+gap) and [t1+gap, ...) do not overlap), so
    the oracle twin uses ``diff >= gap``, not ``>``."""
    df = events.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )
    if with_watermark:
        df = df.withWatermark("event_time", "1 hour")
    return df.groupBy(
        F.session_window("event_time", f"{gap_min} minutes").alias("w"),
        "user_id",
    ).agg(F.count(F.lit(1)).alias("n_ev"))


def run_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the built-in session-window aggregation as a stream
    (availableNow + memory sink), then roll the per-session table up
    to per-user counts — a second stateful aggregation inside the
    stream would be illegal, and the rollup over the (tiny) session
    table is plain batch work.

    APPEND mode + 1-hour watermark: a session leaves the state store
    (and is emitted, exactly once, finalized) when the watermark
    passes its close — update mode is unusable here because merging
    sessions rewrite their own window key, leaving stale partial rows
    in the sink. A finite file stream ends with the watermark one
    delay behind its newest row, which would withhold the last open
    sessions forever, so the source carries the far-future flush
    sentinels (``FLUSH_SENTINELS``); their own sessions are dropped by
    the ``user_id >= 0`` filter."""
    sink, _ = drain(
        session_windows_builtin(
            _flushed_events_stream(spark, sf_dir), with_watermark=True
        )
    )
    return (
        sink.where(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_ev").alias("n_events"),
        )
    )


def funnel_stateful(
    spark: SparkSession, sf_dir: str, win_us: int = 86_400_000_000
) -> DataFrame:
    """Custom stateful streaming funnel view -> click -> purchase with
    a 24 h per-step conversion window, via ``applyInPandasWithState``
    — the incremental form of the batch ``events_funnel`` query (whose
    chained-window shape cannot run incrementally). State per user is
    the (t1, t2, t3) stage-completion timestamps; a stage fills only
    once, with the earliest qualifying event, so arrival-order
    processing within (ts, event_id) order reproduces the batch
    conditional-min exactly (same oracle certifies both). The strict
    ``ts > prev`` comparisons match the batch form's tie behavior.

    As with ``sessionize_stateful``, rows are sorted within the batch;
    the availableNow file source delivers one batch, and a production
    multi-batch source would add a watermark + event-time guard."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.expr("ts div 1000").alias("ts_us"),
        "event_id",
    )

    def fn(key, pdfs, state):
        t1, t2, t3 = state.get if state.exists else (None, None, None)
        rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
        for ts, et in zip(rows["ts_us"], rows["event_type"]):
            ts = int(ts)
            if et == "view":
                if t1 is None:
                    t1 = ts
            elif et == "click":
                if t1 is not None and t2 is None and t1 < ts <= t1 + win_us:
                    t2 = ts
            elif et == "purchase":
                if t2 is not None and t3 is None and t2 < ts <= t2 + win_us:
                    t3 = ts
        state.update((t1, t2, t3))
        yield pd.DataFrame(
            {"user_id": [key[0]], "t1": [t1], "t2": [t2], "t3": [t3]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, t1 long, t2 long, t3 long",
        stateStructType="t1 long, t2 long, t3 long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful funnel to completion (availableNow + update
    memory sink -> one row per user), then collapse the tiny per-user
    stage table to the single funnel-counts row batch-side."""
    return drain(funnel_stateful(spark, sf_dir), "update")[0].agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"),
    )


def run_volume_anomaly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rollup feeding an offline detector: the per-(type,
    day) counts accumulate incrementally in a complete-mode streaming
    aggregation (the only stateful op — bounded by the day×type
    cardinality, the same state HLL/tumbling keep); anomaly scoring
    (per-type 2σ over ALL days — a second aggregation level streaming
    cannot nest) then runs as a BATCH pass over the completed rollup.
    At availableNow completion the rollup equals the batch daily
    table, so the batch anomaly oracle certifies the composition.

    Round-5: UPDATE mode with a 1-day event-time window, so closed
    days leave the state store once the watermark passes (the same
    bounded-state posture the DAU/WAU streams moved to) — counts are
    monotone, so per-(type, day) MAX over the update sink is the
    final rollup."""
    daily = (
        read_events_stream(spark, sf_dir)
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("event_time", "1 day")
        .groupBy("event_type", F.window("event_time", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    sink, _ = drain(daily, "update")
    # localCheckpoint: the completed rollup is day×type-sized (~150
    # rows); checkpointing gives the self-join fresh attribute ids
    # (MemorySink views share refs and fail analysis otherwise)
    rolled = (
        sink.groupBy(
            "event_type",
            F.expr("unix_micros(w.start) div 86400000000").alias("day_num"),
        )
        .agg(F.max("x").alias("x"))
        .localCheckpoint()
    )
    stats = rolled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    d = F.col("n") * F.col("x") - F.col("s")
    var_n2 = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    return rolled.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day_num",
        "x",
        (d * d > 4 * var_n2).cast("int").alias("is_anomaly"),
    )


def run_dau_stream(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Streaming DAU: stateful exact dedup on (user, day) CHAINED into
    an UPDATE-mode 1-day-windowed count — two stateful operators in one
    incremental query, BOTH watermark-evicted. Dedup state expires one
    day after a (user, day) pair's first sighting
    (``dropDuplicatesWithinWatermark``: in-day duplicates are < 1 day
    apart in event time, so none survive eviction); count state is a
    windowed aggregation on the watermarked column, so closed days are
    dropped from the store once the watermark passes the window end.
    Unlike the round-4 complete-mode form, state no longer grows with
    the day count — an unbounded production stream holds ~2 days of
    (user, day) keys plus the open windows.

    The update-mode memory sink appends one row per touched window per
    micro-batch; deduped contributions only ever ADD to a day's count,
    so the per-day count is monotone across batches and MAX(dau) is the
    final value — no batch-id bookkeeping, no driver collect. At
    availableNow completion the result equals batch
    COUNT(DISTINCT user) per day (single-batch AND day-ordered
    multi-batch replay — both pinned in tests/test_streaming.py).

    ``source`` overrides the default single-file reader with any
    ns-``ts`` events stream (the multi-batch test feeds a
    file-per-day source under maxFilesPerTrigger=1)."""
    ud = (
        (source if source is not None else read_events_stream(spark, sf_dir))
        .withColumn("day_num", F.expr("(ts div 1000) div 86400000000"))
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("event_time", "1 day")
        .dropDuplicatesWithinWatermark(["user_id", "day_num"])
    )
    sink, _ = drain(
        ud.groupBy(F.window("event_time", "1 day").alias("w")).agg(
            F.count(F.lit(1)).alias("dau")
        ),
        "update",
    )
    return (
        sink.groupBy(
            F.expr("unix_micros(w.start) div 86400000000").alias("day_num")
        )
        .agg(F.max("dau").alias("dau"))
    )


def run_wau_stream(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Streaming trailing-7-day WAU: fan each event into the ≤7 window
    ends it serves, dedup statefully on (user, window) — a user active
    on several days of one window still counts once — then an
    UPDATE-mode 1-day-windowed count keyed by the window-end day. Both
    stateful operators are watermark-evicted: the event-time column is
    re-based to the fanned window-end day (``win_time``), so every
    contributor to one (user, win_day) pair carries the IDENTICAL
    instant and the 7-day watermark delay covers the 6-day fanout
    spread plus in-order multi-batch replay; the count is a windowed
    aggregation on ``win_time``, so closed windows leave the store.
    State is bounded by ~7 open days of (user, win_day) keys — no
    complete-mode day-count growth, unlike the round-4 form.

    Deduped contributions only add, so per-day MAX over the update-mode
    sink rows is the final count. Windows ending past the final real
    day are trimmed via a broadcast join against the streamed maximum
    (no driver collect)."""
    fanned = (
        (source if source is not None else read_events_stream(spark, sf_dir))
        .withColumn("day_num", F.expr("(ts div 1000) div 86400000000"))
        .withColumn("off", F.explode(F.sequence(F.lit(0), F.lit(6))))
        .withColumn("win_day", F.col("day_num") + F.col("off"))
        .withColumn(
            "win_time", F.timestamp_micros(F.col("win_day") * 86_400_000_000)
        )
        .withWatermark("win_time", "7 days")
        .select("win_day", "win_time", "user_id")
        .dropDuplicatesWithinWatermark(["user_id", "win_day"])
    )
    sink, _ = drain(
        fanned.groupBy(F.window("win_time", "1 day").alias("w")).agg(
            F.count(F.lit(1)).alias("wau")
        ),
        "update",
    )
    rolled = (
        sink.groupBy(
            F.expr("unix_micros(w.start) div 86400000000").alias("win_day")
        )
        .agg(F.max("wau").alias("wau"))
        .localCheckpoint()
    )
    mx = rolled.agg((F.max("win_day") - F.lit(6)).alias("last_day"))
    return (
        rolled.join(F.broadcast(mx), F.col("win_day") <= F.col("last_day"))
        .select(F.col("win_day").alias("day_num"), "wau")
    )


def transition_stateful(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Per-user first-order transition pair extraction as a CUSTOM
    STATEFUL operator (``applyInPandasWithState``): state per user is
    exactly the last event type seen; every arriving event emits one
    (prev_type, event_type) pair and advances the state — the
    incremental twin of the batch lag window in
    ``queries.events_transition_matrix``. Events are processed in
    (ts, event_id) order within each micro-batch; like the
    sessionization operator, the availableNow single-batch harness
    delivers the whole stream in order (a production deployment adds
    an event-time ordering guard for cross-batch late data).

    100 TB posture: state is ONE string per user (bounded by the user
    population, evictable with a timeout in production); the pair
    output feeds a |types|² aggregation — bounded keys, so even
    complete output mode holds a tiny state table."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        source if source is not None else read_events_stream(spark, sf_dir)
    ).select(
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "event_id",
        "event_type",
    )

    def fn(key, pdfs, state):
        last = state.get[0] if state.exists else None
        rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
        prevs, curs = [], []
        for t in rows["event_type"]:
            if last is not None:
                prevs.append(last)
                curs.append(t)
            last = t
        state.update((last,))
        yield pd.DataFrame({"prev_type": prevs, "event_type": curs})

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="prev_type string, event_type string",
        stateStructType="last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_transition_stream(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Run the stateful pair extraction chained into a pair-count
    aggregation (two stateful operators in one incremental query —
    the append-mode custom operator feeds an UPDATE-mode count over
    the bounded |types|² key space; state is bounded by construction,
    and the sink only receives touched groups per batch instead of a
    full complete-mode rewrite), then attach the exact-ppm share
    exactly like the batch query. Counts are monotone, so MAX per pair
    over the sink rows is the final count. Certified by the SAME
    oracle as ``events_transition_matrix``."""
    sink, _ = drain(
        transition_stateful(spark, sf_dir, source)
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n")),
        "update",
    )
    pairs = sink.groupBy("prev_type", "event_type").agg(
        F.max("n").alias("n")
    )
    total = pairs.agg(F.sum("n").alias("total"))
    return pairs.crossJoin(F.broadcast(total)).select(
        "prev_type",
        "event_type",
        "n",
        F.expr("n * 1000000 div total").alias("ppm"),
    )


def scd2_stateful(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Incremental SCD Type-2 history build — the streaming CDC twin
    of ``queries.events_scd2_history``: state per user = (current
    state, its valid_from, version). Each micro-batch processes the
    user's rows in (ts, event_id) order; a state CHANGE emits the
    now-CLOSED interval (valid_to set) and, at batch end, the open
    interval is (re-)emitted with valid_to NULL — so the sink always
    holds every interval's latest revision. Downstream, closed beats
    open per (user, version): intervals are immutable once closed, so
    the dedup is a tiny argbest, not a replay.

    100 TB posture: state is one (string, long, int) per user —
    watermark-evictable in production once a user is quiet; emissions
    are O(state changes), not O(events)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        source if source is not None else read_events_stream(spark, sf_dir)
    ).select(
        "user_id",
        F.expr("ts div 1000").alias("us"),
        "event_id",
        "event_type",
    )

    def fn(key, pdfs, state):
        cur, frm, ver = state.get if state.exists else (None, None, 0)
        rows = pd.concat(list(pdfs)).sort_values(["us", "event_id"])
        out = {"state": [], "valid_from_us": [], "valid_to_us": [],
               "version": []}
        for us, typ in zip(rows["us"], rows["event_type"]):
            us = int(us)
            if cur is None:
                cur, frm, ver = typ, us, 1
            elif typ != cur:
                out["state"].append(cur)
                out["valid_from_us"].append(frm)
                out["valid_to_us"].append(us)  # closed interval
                out["version"].append(ver)
                cur, frm, ver = typ, us, ver + 1
        if cur is not None:  # open interval, latest revision
            out["state"].append(cur)
            out["valid_from_us"].append(frm)
            out["valid_to_us"].append(None)
            out["version"].append(ver)
        state.update((cur, frm, ver))
        df = pd.DataFrame(out)
        df.insert(0, "user_id", key[0])
        yield df

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, state string, valid_from_us long, "
            "valid_to_us long, version int"
        ),
        stateStructType="cur string, frm long, ver int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_scd2_stream(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Run the incremental SCD2 build to completion and resolve each
    (user, version) to its latest revision (closed beats open — an
    argbest struct aggregate, no window): the result hash-matches the
    batch ``events_scd2_history`` oracle exactly, including the
    ``is_current`` flag derived from the surviving open intervals."""
    sink, _ = drain(scd2_stateful(spark, sf_dir, source), "update")
    return (
        sink.groupBy("user_id", "version")
        .agg(
            F.max(
                F.struct(
                    F.col("valid_to_us").isNotNull().alias("closed"),
                    F.col("state").alias("state"),
                    F.col("valid_from_us").alias("valid_from_us"),
                    F.col("valid_to_us").alias("valid_to_us"),
                )
            ).alias("best")
        )
        .select(
            "user_id",
            F.col("best.state").alias("state"),
            F.col("best.valid_from_us").alias("valid_from_us"),
            F.col("best.valid_to_us").alias("valid_to_us"),
            "version",
            F.col("best.valid_to_us").isNull().cast("int").alias(
                "is_current"
            ),
        )
    )


def quantile_sketch_stateful(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """Streaming per-event-type value quantiles with BOUNDED state:
    the stream state per type is its log-bucket histogram (≤ 512
    (bucket, count) pairs across the whole int64 range — see
    ``functions/sketches.logbucket_sql``), merged per micro-batch via
    ``applyInPandasWithState``.  The streaming twin of the batch
    ``events_quantile_sketch`` estimate columns: a p99 dashboard that
    never holds the value multiset, only bucket counters that ADD
    across batches (and across executors — the sketch is mergeable,
    so this is also exactly what a 1000-node reducer receives).

    Bucketing runs JVM-side on the stream (bin/shift/mask integer
    expressions — stateless); only the per-type counter merge crosses
    into Arrow.  The estimate math in the merge (ceil-threshold scan
    of the cumulative counts, midpoint representative) is the same
    integer formulation the batch query and its DuckDB oracle use,
    unit-pinned by tests/test_sketches.py's pure-Python reference.

    Output (update mode): one row per type per batch with the running
    (n_events, n_buckets, p50_est, p95_est, p99_est) and a monotone
    ``upd_seq`` so a replay can select each type's final row.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.sketches import logbucket_sql

    ev = source if source is not None else read_events_stream(spark, sf_dir)
    bucketed = ev.select(
        "event_type",
        F.greatest(
            F.round(F.expr("value") * 100).cast("long"),
            F.lit(0).cast("long"),
        ).alias("v_c"),
    ).select("event_type", F.expr(logbucket_sql("v_c")).alias("b"))

    def _rep(b: int) -> int:
        # midpoint representative — mirrors logbucket_rep_sql
        if b < 24:
            return b % 8
        bl = b // 8 + 1
        lo = (8 + b % 8) << (bl - 4)
        return lo + ((1 << (bl - 4)) // 2 if bl >= 5 else 0)

    def fn(key, pdfs, state):
        bs, cnts, seq = state.get if state.exists else ([], [], 0)
        cur = dict(zip(bs, cnts))
        for pdf in pdfs:
            for b, c in pdf["b"].value_counts().items():
                b = int(b)
                cur[b] = cur.get(b, 0) + int(c)
        items = sorted(cur.items())
        seq += 1
        state.update(([b for b, _ in items], [c for _, c in items], seq))
        n = sum(c for _, c in items)
        ests = {}
        for p in (500, 950, 990):
            cum = 0
            for b, c in items:
                cum += c
                if cum * 1000 >= p * n:
                    ests[p] = _rep(b)
                    break
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "n_buckets": [len(items)],
                "p50_est": [ests[500]],
                "p95_est": [ests[950]],
                "p99_est": [ests[990]],
                "upd_seq": [seq],
            }
        )

    return bucketed.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=(
            "event_type string, n_events long, n_buckets long,"
            " p50_est long, p95_est long, p99_est long, upd_seq long"
        ),
        stateStructType="bs array<long>, cnts array<long>, upd_seq long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_quantile_sketch_stream(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """Run the streaming quantile sketch to completion (availableNow
    + update-mode memory sink) and return each type's FINAL row."""
    sink, _ = drain(
        quantile_sketch_stateful(spark, sf_dir, source=source), "update"
    )
    return final_rows(sink, "event_type").select(
        "event_type", "n_events", "n_buckets",
        "p50_est", "p95_est", "p99_est",
    )


# ---------------------------------------------------------------------------
# round 12: streaming geofence — stream-static SPATIAL join
# ---------------------------------------------------------------------------


def geofence_layer(
    spark: SparkSession, sf_dir: str, cell_size: int = 16
) -> DataFrame:
    """Static geofence polygon layer for the stream-static spatial
    join: the customer even-grid rectangles, pre-exploded onto their
    bbox grid cells (functions/spatial.py:bbox_cells) with the ring
    edges built ONCE (rings_to_edges over parse_geom_rings) — the
    layer is dimension-sized, so Structured Streaming broadcasts it
    into every micro-batch and the per-event work is a hash probe +
    ray cast."""
    from .._qcore import _even_grid_rects, _t
    from ..functions.geometry import parse_geom_rings, rings_to_edges
    from ..functions.spatial import bbox_cells

    rects = _even_grid_rects(_t(spark, sf_dir, "customer"), "c_custkey")
    return rects.select(
        "okey",
        F.explode(
            bbox_cells(
                F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"), cell_size
            )
        ).alias("cell"),
        rings_to_edges(parse_geom_rings("wkt")).alias("edges"),
    )


def geofence_pairs(
    events: DataFrame, layer: DataFrame, cell_size: int = 16
) -> DataFrame:
    """(event, geofence-polygon) containment pairs via the PBSM grid
    join: the event maps to its single grid cell, the broadcast layer
    is probed on that cell, and the exact even-odd ray cast refines.
    Works identically over a batch or streaming events DataFrame — a
    stream-static inner join is STATELESS (no watermark, micro-batch
    invariant), so the streaming twin is hash-checked against the
    batch oracle. Event coordinates derive from event_id on the odd
    grid (never edge-incident on the even-grid fences)."""
    from ..functions.geometry import point_in_edges
    from ..functions.spatial import point_cell

    j = F.col("event_id")
    pts = (
        events.where(j % 16 == 0)
        .select(
            j.alias("event_id"),
            (2 * (j % 101) + 1).cast("long").alias("px"),
            (2 * (j % 59) + 1).cast("long").alias("py"),
        )
        .withColumn("cell", point_cell(F.col("px"), F.col("py"), cell_size))
    )
    return (
        pts.join(F.broadcast(layer), "cell")
        .where(point_in_edges(F.col("edges"), F.col("px"), F.col("py")) == 1)
        .select("event_id", "okey", "px", "py")
    )


def run_geofence_stream(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Run the geofence enrichment to completion (availableNow + memory
    sink, append mode — the join is stateless) and return the result
    table. ``source`` overrides the default single-file reader
    (multi-batch replay test)."""
    return drain(
        geofence_pairs(
            source if source is not None else read_events_stream(spark, sf_dir),
            geofence_layer(spark, sf_dir),
        )
    )[0]
