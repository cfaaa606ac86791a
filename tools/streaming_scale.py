"""Streaming scale harness — measured state/throughput rows for
SCALING.md.

The batch families all carry 10x/100x evidence; this harness gives the
STATEFUL streams theirs: it replays a 10x/100x replica of the sf0.1
events table (user_id/event_id shifted per replica so user cardinality
scales with the data; the 30-day span is unchanged — more traffic per
day, the realistic shape) through three representative stateful
queries under day-ordered multi-batch delivery (one file per day,
``maxFilesPerTrigger=1``, mtimes forced increasing so the file source
triggers in day order), and records per query:

- wall-clock seconds and rows/sec for the full replay;
- PEAK state-store rows (max over micro-batch progresses of
  ``stateOperators[].numRowsTotal``) — the number that certifies the
  bounded-state claims: the tumbling agg's state must track OPEN
  windows (watermark-evicted), not history; the stream-stream join's
  state must track the 1-hour attribution window, not the stream.

Queries:
- tumbling: update-mode day x type aggregation (run_stream_to_table's
  query) built from the same ``tumbling_daily`` the batch oracle
  certifies;
- sessionize: the applyInPandasWithState per-user session counter
  (state rows == user count by design — it reports totals per user);
- attribution: the watermarked stream-stream inner join (clicks x
  purchases, 1-hour window);
- quantile_sketch: the bounded-state per-type log-bucket quantile
  sketch (round 8) — peak state rows must equal the type count at
  every factor;
- kmv_vocab / cms_grid / priority_sample: the docs-based sketch
  streams, replayed over a factor-x documents replica (doc_ids
  shifted per replica, 16 part files streamed one per trigger) —
  peak state rows must equal n_sources / depth / salts respectively
  at every factor.

Usage: python tools/streaming_scale.py [factor ...] [--only q1,q2]
(default factors: 10 100; default queries: all). Prints one JSON
line per (factor, query).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_replica(spark, factor: int) -> str:
    """factor-x replica of the events table, one parquet file per day,
    mtimes increasing in day order; cached via cachefs (content +
    builder-code keyed, uid-private, atomic). Returns the flat
    directory of day files."""
    from soil_data_development_tools___arcmap_spark.cachefs import cached_dir

    src = os.path.join(os.path.abspath(SF_DIR), "events.parquet")

    def build(staging: str) -> None:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = spark.read.parquet(src)
        maxu = ev.selectExpr("max(user_id)").collect()[0][0] + 1
        maxe = ev.selectExpr("max(event_id)").collect()[0][0] + 1
        reps = spark.range(factor).selectExpr("id AS rep")
        part_dir = os.path.join(staging, "_parts")
        (
            ev.crossJoin(reps)
            .selectExpr(
                f"event_id + rep * {maxe} AS event_id",
                "ts",
                f"user_id + rep * {maxu} AS user_id",
                "event_type",
                "value",
                "props",
                "unix_micros(cast(ts AS timestamp)) div 86400000000"
                " AS day_num",
            )
            .repartition("day_num")
            .write.mode("overwrite")
            .partitionBy("day_num")
            .parquet(part_dir)
        )
        days = sorted(
            int(os.path.basename(d).split("=")[1])
            for d in glob.glob(os.path.join(part_dir, "day_num=*"))
        )
        t0 = time.time()
        for i, d in enumerate(days):
            parts = sorted(
                glob.glob(os.path.join(part_dir, f"day_num={d}", "*.parquet"))
            )
            for j, p in enumerate(parts):
                dst = os.path.join(staging, f"day{d:06d}_{j:02d}.parquet")
                shutil.copy(p, dst)
                os.utime(dst, (t0 + i, t0 + i))  # day-ordered triggers
        shutil.rmtree(part_dir, ignore_errors=True)

    return cached_dir(
        "evscale", [src], build, code=(build_replica,), extra=str(factor)
    )


def build_docs_replica(spark, factor: int) -> str:
    """factor-x replica of the documents table (doc_id shifted per
    replica so id-keyed hashing/salting sees distinct rows), written
    as 16 part files so a one-file-per-trigger replay exercises 16
    genuine state merges; cached via cachefs like the events replica."""
    from soil_data_development_tools___arcmap_spark.cachefs import cached_dir

    src = os.path.join(os.path.abspath(SF_DIR), "documents.parquet")

    def build(staging: str) -> None:
        docs = spark.read.parquet(src)
        maxd = docs.selectExpr("max(doc_id)").collect()[0][0] + 1
        reps = spark.range(factor).selectExpr("id AS rep")
        (
            docs.crossJoin(reps)
            .selectExpr(
                f"doc_id + rep * {maxd} AS doc_id",
                *[c for c in docs.columns if c != "doc_id"],
            )
            .repartition(16)
            .write.mode("overwrite")
            .parquet(staging)
        )
        for f in os.listdir(staging):
            if not f.endswith(".parquet"):
                os.remove(os.path.join(staging, f))

    return cached_dir(
        "docscale", [src], build, code=(build_docs_replica,), extra=str(factor)
    )


def build_emb_replica(spark, factor: int) -> str:
    """factor-x replica of the embeddings table (vec_id shifted per
    replica, parity preserved — the drift monitor's old/new split is
    vec_id % 2, so the shift must be even), written as 16 part files
    for the one-file-per-trigger replay; cachefs-cached."""
    from soil_data_development_tools___arcmap_spark.cachefs import cached_dir

    src = os.path.join(os.path.abspath(SF_DIR), "embeddings.parquet")

    def build(staging: str) -> None:
        emb = spark.read.parquet(src)
        maxv = emb.selectExpr("max(vec_id)").collect()[0][0] + 1
        shift = maxv + (maxv % 2)  # even shift preserves parity
        reps = spark.range(factor).selectExpr("id AS rep")
        (
            emb.crossJoin(reps)
            .selectExpr(
                f"vec_id + rep * {shift} AS vec_id",
                *[c for c in emb.columns if c != "vec_id"],
            )
            .repartition(16)
            .write.mode("overwrite")
            .parquet(staging)
        )
        for f in os.listdir(staging):
            if not f.endswith(".parquet"):
                os.remove(os.path.join(staging, f))

    return cached_dir(
        "embscale", [src], build, code=(build_emb_replica,), extra=str(factor)
    )


def _run(spark, sink_df, mode: str) -> dict:
    """Run a streaming DF to completion; return wall, rows, peak state."""
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        drain,
        peak_state_rows,
    )

    t0 = time.time()
    _, q = drain(sink_df, mode)
    wall = time.time() - t0
    peak_state = peak_state_rows(q)  # raises on a full progress buffer
    rows = sum(int(p.get("numInputRows") or 0) for p in q.recentProgress)
    return {
        "wall_sec": round(wall, 1),
        "input_rows": rows,
        "rows_per_sec": int(rows / wall) if wall > 0 else None,
        "peak_state_rows": peak_state,
        "batches": len(q.recentProgress),
    }


def main() -> None:
    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark import get_spark
    from soil_data_development_tools___arcmap_spark.streaming.events import (
        EVENTS_SCHEMA,
        _ts_ns,
        peak_state_rows,
        session_windows_builtin,
        sessionize_stateful,
    )

    argv = sys.argv[1:]
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    factors = [int(a) for a in argv] or [10, 100]

    def want(name: str) -> bool:
        return only is None or name in only

    spark = get_spark("streaming-scale")
    spark.sparkContext.setLogLevel("ERROR")
    # recentProgress is a ring buffer (default 100 entries); the
    # metrics below sum over it, so a replay with more micro-batches
    # than the cap would undercount — raise it well past any
    # day-per-trigger replay (peak_state_rows raises on a full buffer)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    for factor in factors:
        day_dir = build_replica(spark, factor)

        def src():
            return _ts_ns(
                spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(day_dir)
            )

        # run_stream_to_table's query: watermark-evicted 1-day F.window
        # (NOT tumbling_daily's day_num bigint key — a derived bigint
        # never leaves the state store; measuring it here shows peak
        # state = all days x types instead of the open-window handful)
        tum = (
            src()
            .withColumn(
                "event_time", F.timestamp_micros(F.expr("ts div 1000"))
            )
            .withWatermark("event_time", "1 day")
            .groupBy(F.window("event_time", "1 day").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "value_c"
                ),
            )
        )
        if want("tumbling"):
            m = _run(spark, tum, "update")
            print(json.dumps({"factor": factor, "query": "tumbling", **m}))

        if want("sessionize"):
            m = _run(
                spark,
                sessionize_stateful(spark, SF_DIR, source=src()),
                "update",
            )
            print(
                json.dumps({"factor": factor, "query": "sessionize", **m})
            )

        # built-in session_window twin (engine-managed merging state,
        # 1-hour watermark): unlike the custom per-user-totals
        # operator, its state holds OPEN sessions only — the contrast
        # row for the two sessionization strategies. APPEND mode:
        # session-window aggs don't support update; closed sessions
        # emit as the watermark passes them (the final watermark lags
        # the stream end by the delay, so the last hour's sessions
        # stay buffered — state/throughput are what's measured here)
        if want("session_window"):
            m = _run(
                spark,
                session_windows_builtin(src(), with_watermark=True),
                "append",
            )
            print(
                json.dumps(
                    {"factor": factor, "query": "session_window", **m}
                )
            )

        # watermarked stream-stream inner join (run_attribution_stream's
        # query, built on the replica source)
        clicks = (
            src()
            .where(F.col("event_type") == "click")
            .select(
                "user_id",
                F.col("event_id").alias("click_id"),
                F.timestamp_micros(F.expr("ts div 1000")).alias("c_time"),
            )
            .withWatermark("c_time", "1 hour")
        )
        purchases = (
            src()
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
            & (
                clicks["c_time"]
                >= purchases["p_time"] - F.expr("INTERVAL 1 HOUR")
            )
            & (clicks["c_time"] <= purchases["p_time"]),
            "inner",
        ).select("purchase_id", "click_id")
        if want("attribution"):
            m = _run(spark, joined, "append")
            print(
                json.dumps({"factor": factor, "query": "attribution", **m})
            )

        # bounded-state quantile sketch (round 8): per-type log-bucket
        # histogram state — peak_state_rows must stay at n_types no
        # matter the factor (the counters live INSIDE each row's
        # arrays, ≤512 pairs per type)
        if want("quantile_sketch"):
            from soil_data_development_tools___arcmap_spark.streaming.events import (
                quantile_sketch_stateful,
            )

            m = _run(
                spark,
                quantile_sketch_stateful(spark, SF_DIR, source=src()),
                "update",
            )
            print(
                json.dumps(
                    {"factor": factor, "query": "quantile_sketch", **m}
                )
            )

        # docs-based sketch streams over the factor-x documents
        # replica, 16 part files one-per-trigger (16 state merges)
        docs_queries = {"kmv_vocab", "cms_grid", "priority_sample"}
        if only is None or (only & docs_queries):
            from soil_data_development_tools___arcmap_spark.streaming.docs import (
                DOCS_SCHEMA,
                cms_grid_stateful,
                kmv_vocab_stateful,
                priority_sample_stateful,
            )

            docs_dir = build_docs_replica(spark, factor)

            def dsrc():
                return (
                    spark.readStream.schema(DOCS_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(docs_dir)
                )

            for qname, builder in (
                ("kmv_vocab", kmv_vocab_stateful),
                ("cms_grid", cms_grid_stateful),
                ("priority_sample", priority_sample_stateful),
            ):
                if not want(qname):
                    continue
                m = _run(
                    spark, builder(spark, SF_DIR, source=dsrc()), "update"
                )
                print(json.dumps({"factor": factor, "query": qname, **m}))

        # stateless streaming image-ingest gate over the same docs
        # replica: peak state must be 0 rows at every factor (the
        # fingerprint is per-row, the index probe is stream-static)
        if want("media_phash"):
            from soil_data_development_tools___arcmap_spark.streaming.docs import (
                DOCS_SCHEMA,
                _phash_media,
            )

            docs_dir = build_docs_replica(spark, factor)
            # base_mod scales with the factor: constant planted
            # dup-group size -> constant per-image match fan-out (a
            # fixed modulus makes matches quadratic in the replica and
            # OOMs the memory sink at 100x measuring the fixture)
            new = _phash_media(
                spark.readStream.schema(DOCS_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(docs_dir)
                .where(F.col("doc_id") % 2 == 1),
                base_mod=37 * factor,
            ).select(
                F.col("did").alias("new_did"), "ahash_hi", "ahash_lo"
            )
            # settle the index ONCE like the production gate does — a
            # stream-static join re-evaluates its static side per
            # trigger, which would re-fingerprint the corpus 16 times
            index = _phash_media(
                spark.read.schema(DOCS_SCHEMA)
                .parquet(docs_dir)
                .where(F.col("doc_id") % 2 == 0),
                base_mod=37 * factor,
            ).select(
                F.col("did").alias("corpus_did"), "ahash_hi", "ahash_lo"
            ).localCheckpoint()
            gate = new.join(index, ["ahash_hi", "ahash_lo"])
            m = _run(spark, gate, "append")
            print(json.dumps({"factor": factor, "query": "media_phash", **m}))

        # streaming drift monitor over a factor-x embeddings replica:
        # peak state must be exactly 64 rows (the dimensionality) at
        # every factor
        if want("emb_drift"):
            from soil_data_development_tools___arcmap_spark.streaming.docs import (
                EMB_SCHEMA,
                emb_drift_stateful,
            )

            emb_dir = build_emb_replica(spark, factor)
            esrc = (
                spark.readStream.schema(EMB_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(emb_dir)
            )
            m = _run(
                spark, emb_drift_stateful(spark, SF_DIR, source=esrc), "update"
            )
            print(json.dumps({"factor": factor, "query": "emb_drift", **m}))

        # round 9: GROWING-index ingest gates over the docs replica.
        # Unlike every stream above, these gates' state is SUPPOSED to
        # grow — with the stream's NOVEL-fingerprint count, not its
        # length. scale=factor keeps planted dup-group size constant
        # (ingest_mix_group), so the novel fraction — and hence state
        # growth per stream row — stays constant as the corpus scales;
        # peak_state_rows comes from the engine's own stateOperators.
        grow_gates = {"image_gate_grow", "audio_gate_grow",
                      "audio_gate_grow_wide", "audio_gate_grow_spectral",
                      "audio_gate_grow_rank",
                      "text_gate_grow", "text_gate_grow_salted",
                      "video_gate_grow"}
        if only is None or (only & grow_gates):
            from soil_data_development_tools___arcmap_spark.cachefs import (
                scratch_dir,
            )
            from soil_data_development_tools___arcmap_spark.streaming.docs import (
                DOCS_SCHEMA,
            )

            docs_dir = build_docs_replica(spark, factor)
            # the gate runners read the corpus from
            # <sf_dir>/documents.parquet; present the replica that way
            wrap = scratch_dir("growgate_sf")
            os.symlink(docs_dir, os.path.join(wrap, "documents.parquet"))

            def gsrc():
                return (
                    spark.readStream.schema(DOCS_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(docs_dir)
                )

            def _run_grow_gate(qname, runner, **kw):
                """Shared exact-gate measurement: wall, engine-counted
                peak state, decision mix — one code path so a metric
                fix cannot skew one gate's published numbers. The
                runner drains its query with ``drain`` and hands the
                query back (``with_query``)."""
                from pyspark.sql import functions as SF

                t0 = time.time()
                tbl, q = runner(
                    spark, wrap, source=gsrc(), scale=factor,
                    with_query=True, **kw,
                )
                wall = time.time() - t0
                peak = peak_state_rows(q)  # raises on a full buffer
                rows = sum(
                    int(pr.get("numInputRows") or 0)
                    for pr in q.recentProgress
                )
                counts = {
                    r["status"]: r["n"]
                    for r in tbl.groupBy("status")
                    .agg(SF.count(SF.lit(1)).alias("n"))
                    .collect()
                }
                print(json.dumps({
                    "factor": factor, "query": qname,
                    "wall_sec": round(wall, 1), "input_rows": rows,
                    "rows_per_sec": int(rows / wall) if wall else None,
                    "peak_state_rows": peak, "decisions": counts,
                }))

            if want("image_gate_grow"):
                from soil_data_development_tools___arcmap_spark.streaming.docs import (
                    run_media_phash_gate_grow,
                )

                _run_grow_gate("image_gate_grow", run_media_phash_gate_grow)

            if want("audio_gate_grow"):
                from soil_data_development_tools___arcmap_spark.streaming.docs import (
                    run_media_audio_gate_grow,
                )

                _run_grow_gate("audio_gate_grow", run_media_audio_gate_grow)

            if want("audio_gate_grow_wide"):
                from soil_data_development_tools___arcmap_spark.streaming.docs import (
                    run_media_audio_gate_grow,
                )

                _run_grow_gate(
                    "audio_gate_grow_wide", run_media_audio_gate_grow,
                    window=4,
                )

            if want("audio_gate_grow_spectral"):
                # round 10: the SECOND fingerprint family — 28-bit
                # spectral-shape space; the saturation row the delta
                # family hits (state stuck at the family's pattern
                # count) should not reproduce here
                from soil_data_development_tools___arcmap_spark.streaming.docs import (
                    run_media_audio_spectral_gate_grow,
                )

                _run_grow_gate(
                    "audio_gate_grow_spectral",
                    run_media_audio_spectral_gate_grow,
                )

            if want("audio_gate_grow_rank"):
                # round 10: the near-injective rank-order family —
                # state here tracks TRUE novelty (the planted novel
                # clip count), the ladder's end point
                from soil_data_development_tools___arcmap_spark.streaming.docs import (
                    run_media_audio_rank_gate_grow,
                )

                _run_grow_gate(
                    "audio_gate_grow_rank",
                    run_media_audio_rank_gate_grow,
                )

            if want("text_gate_grow_salted"):
                # the OTHER novelty extreme: per-replica token salting
                # (media_scale's builder) makes every replica novel, so
                # the admitted index must grow with the corpus — the
                # honest worst case of a growing index (the plain
                # replica above shows the constant-novelty best case)
                sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
                from media_scale import build_salted_docs_replica

                from soil_data_development_tools___arcmap_spark.streaming.docs import (
                    run_neardup_gate_grow,
                )

                sdir = build_salted_docs_replica(spark, factor)
                swrap = scratch_dir("growgate_salted_sf")
                os.symlink(sdir, os.path.join(swrap, "documents.parquet"))
                ssrc = (
                    spark.readStream.schema(DOCS_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(sdir)
                )
                t0 = time.time()
                out, stats = run_neardup_gate_grow(spark, swrap, source=ssrc)
                from pyspark.sql import functions as SF

                counts = {
                    r["status"]: r["n"]
                    for r in out.groupBy("status")
                    .agg(SF.count(SF.lit(1)).alias("n"))
                    .collect()
                }
                wall = time.time() - t0
                n_in = sum(counts.values())
                print(json.dumps({
                    "factor": factor, "query": "text_gate_grow_salted",
                    "wall_sec": round(wall, 1), "input_rows": n_in,
                    "rows_per_sec": int(n_in / wall) if wall else None,
                    "peak_state_rows":
                        (stats["admitted_rows_per_batch"] or [0])[-1],
                    "fold_pairs_per_batch":
                        stats["fold_pairs_per_batch"],
                    # round 10: max rows any single driver collect saw
                    # during the folds (<= fold_pair_cap + 1 on the
                    # fast path; window-bounded on the windowed path)
                    "fold_driver_rows_peak":
                        stats.get("fold_driver_rows_peak"),
                    "decisions": counts,
                }))

            if want("video_gate_grow"):
                from soil_data_development_tools___arcmap_spark.streaming.docs import (
                    run_video_gate_grow,
                )

                t0 = time.time()
                out, stats = run_video_gate_grow(
                    spark, wrap, source=gsrc(), scale=factor
                )
                from pyspark.sql import functions as SF

                counts = {
                    r["status"]: r["n"]
                    for r in out.groupBy("status")
                    .agg(SF.count(SF.lit(1)).alias("n"))
                    .collect()
                }
                wall = time.time() - t0
                n_in = sum(counts.values())
                print(json.dumps({
                    "factor": factor, "query": "video_gate_grow",
                    "wall_sec": round(wall, 1), "input_rows": n_in,
                    "rows_per_sec": int(n_in / wall) if wall else None,
                    "peak_state_rows":
                        (stats["admitted_rows_per_batch"] or [0])[-1],
                    "fold_pairs_per_batch":
                        stats["fold_pairs_per_batch"],
                    # round 10: max rows any single driver collect saw
                    # during the folds (<= fold_pair_cap + 1 on the
                    # fast path; window-bounded on the windowed path)
                    "fold_driver_rows_peak":
                        stats.get("fold_driver_rows_peak"),
                    "decisions": counts,
                }))

            if want("text_gate_grow"):
                from soil_data_development_tools___arcmap_spark.streaming.docs import (
                    run_neardup_gate_grow,
                )

                t0 = time.time()
                out, stats = run_neardup_gate_grow(
                    spark, wrap, source=gsrc()
                )
                from pyspark.sql import functions as SF

                counts = {
                    r["status"]: r["n"]
                    for r in out.groupBy("status")
                    .agg(SF.count(SF.lit(1)).alias("n"))
                    .collect()
                }
                wall = time.time() - t0
                n_in = sum(counts.values())
                print(json.dumps({
                    "factor": factor, "query": "text_gate_grow",
                    "wall_sec": round(wall, 1), "input_rows": n_in,
                    "rows_per_sec": int(n_in / wall) if wall else None,
                    # foreachBatch upsert: the growing state is the
                    # admitted band index (4 rows per admitted doc)
                    "peak_state_rows":
                        (stats["admitted_rows_per_batch"] or [0])[-1],
                    "fold_pairs_per_batch":
                        stats["fold_pairs_per_batch"],
                    # round 10: max rows any single driver collect saw
                    # during the folds (<= fold_pair_cap + 1 on the
                    # fast path; window-bounded on the windowed path)
                    "fold_driver_rows_peak":
                        stats.get("fold_driver_rows_peak"),
                    "decisions": counts,
                }))


if __name__ == "__main__":
    main()
