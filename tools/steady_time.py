"""Steady-state timer for arbitrary registry queries at sf0.1 (the
round-12/13 breadth-sweep method): one fresh JVM, shared-machinery
warm-up, then per query prime (cold, JIT) + forced-GC best-of-2
steady, forced end-to-end with the noop sink (guide §1.4).

Usage: python tools/steady_time.py <query> [query ...]
Prints one JSON line {query: {"cold": s, "steady": s}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        raise SystemExit(2)
    import __spark_entry__ as E
    from soil_data_development_tools___arcmap_spark import get_spark

    spark = get_spark("steady-time")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    # shared-machinery warm-up (same as bench.py's worker)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    out: dict[str, dict[str, float]] = {}
    for name in sys.argv[1:]:
        fn = qs.get(name)
        if fn is None:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"steady_time: {name}")
        t0 = time.time()
        fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        cold = round(time.time() - t0, 3)
        best = None
        for _ in range(2):
            spark._jvm.System.gc()
            t0 = time.time()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = {"cold": cold, "steady": round(best, 3)}
        print(f"{name}: cold {cold} steady {out[name]['steady']}",
              file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
