"""Batch scale harness for the round-8 media-dedup + graph-audit ops.

Measures the new operators at factor-x documents corpora (doc_ids
shifted per replica) on local[32], steady-state best-of-2:

- ``docs_media_phash_dups`` / ``docs_media_audio_fp``: linear
  fingerprint pipelines — payloads synthesized/encoded/decoded/hashed
  inside one Arrow stage, then ONE hash-key window. Group sizes grow
  with the replica (same planted moduli), which is exactly what the
  window must absorb.
- ``docs_media_video_neardup``: the shared-frame equi-join's bucket
  size equals the planted dup-group size, so the harness raises
  ``base_mod`` with the factor (29 -> 29*factor) to hold group size
  constant — the realistic "corpus grows, dup density doesn't" model.
  (Replaying the FIXED modulus at 100x would make every bucket 17k
  docs wide and the candidate join quadratic — that measures the
  fixture artifact, not the operator.)
- ``docs_dup_wedge_gaps``: needs constant NEAR-DUP density, so its
  replica salts every token with the replica id (disjoint vocabularies
  -> the pair graph is factor disjoint copies of the sf0.1 graph; the
  plain id-shift replica would make every doc an exact twin of its 99
  copies and measure a quadratic fixture artifact).

Usage: python tools/media_scale.py [factor ...]   (default: 10 100)
Prints one JSON line per (factor, query).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_salted_docs_replica(spark, factor: int) -> str:
    """factor-x documents replica with per-replica token salting:
    doc_ids shifted AND every token suffixed with the replica id, so
    replicas share no shingles and near-dup density per doc stays at
    the sf0.1 level while the corpus grows factor-x."""
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
                "array_join(transform(split(text, ' '), "
                "t -> concat(t, '_', rep)), ' ') AS text",
                "lang",
                "source",
                "n_chars",
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(staging)
        )

    return cached_dir(
        "docsalt", [src], build, code=(build_salted_docs_replica,),
        extra=str(factor),
    )


def _sf_wrap(parquet_dir: str) -> str:
    """Wrap a replica parquet directory as an sf_dir with a
    documents.parquet entry (symlink), so queries(spark, sf_dir) run
    on it unchanged."""
    from soil_data_development_tools___arcmap_spark.cachefs import scratch_dir

    wrap = scratch_dir("sfdir")
    os.symlink(parquet_dir, os.path.join(wrap, "documents.parquet"))
    return wrap


def _steady(fn, runs: int = 2) -> tuple[float, int]:
    best, rows = None, 0
    for _ in range(runs):
        t0 = time.time()
        rows = fn().count()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 2), rows


def main() -> int:
    factors = [int(a) for a in sys.argv[1:]] or [10, 100]
    from tools.streaming_scale import build_docs_replica

    from soil_data_development_tools___arcmap_spark import get_spark
    from soil_data_development_tools___arcmap_spark import queries as Q

    spark = get_spark("media-scale")
    for factor in factors:
        plain = _sf_wrap(build_docs_replica(spark, factor))
        salted = _sf_wrap(build_salted_docs_replica(spark, factor))
        runs = {
            "phash_dups": lambda: Q.docs_media_phash_dups(spark, plain),
            "audio_fp": lambda: Q.docs_media_audio_fp(spark, plain),
            "video_neardup": lambda: Q.docs_media_video_neardup(
                spark, plain, base_mod=29 * factor
            ),
            "wedge_gaps": lambda: Q.docs_dup_wedge_gaps(spark, salted),
        }
        for name, fn in runs.items():
            sec, rows = _steady(fn)
            print(
                json.dumps(
                    {
                        "factor": factor,
                        "query": name,
                        "steady_sec": sec,
                        "rows": rows,
                    }
                ),
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
