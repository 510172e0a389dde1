"""Ad-hoc per-query wall measurement, bench.py-identical methodology.

Usage: python tools/measure_queries.py q1,q2,... [--runs N]

Runs each named registered query ``--runs`` times (default 5) in
registry-interleaved order (q1 q2 ... q1 q2 ...) with a cold cache per
repeat and the noop sink, exactly like bench.py's timed region, and
prints one JSON line {"queries": {name: {"samples": [...], "min": s,
"median": s, "compiles": [...], "build_jobs": [...]}}, "tide": {...}}.
Interleaving spreads window drift across the arms instead of
concentrating it in one query's samples.

Per run, ``compiles`` counts the classes the code generator compiled
(0 when every class came from the codegen cache) and ``build_jobs`` the
Spark jobs launched while the plan was built, before its action (0
when every read found its schema cached). Together they tell a query's
fixed per-call costs apart from its data work.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import tide_probe
from gmall_flink_yb_spark.functions.cacheutil import release_cache
from gmall_flink_yb_spark.plans.inspect import codegen_compiles
from gmall_flink_yb_spark.queries import QUERIES
from gmall_flink_yb_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("queries", help="comma-separated registry names")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()
    names = args.queries.split(",")
    runs = args.runs
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "measure", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    # same warmups as bench.py
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    spark.range(1024).repartition(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    sc = spark.sparkContext
    pre = tide_probe()
    samples: dict[str, list[float]] = {n: [] for n in names}
    compiles: dict[str, list[int]] = {n: [] for n in names}
    build_jobs: dict[str, list[int]] = {n: [] for n in names}
    for rep in range(runs):
        for n in names:
            spark.catalog.clearCache()
            group = f"measure:{n}:{rep}"
            sc.setJobGroup(group, f"measure:{n}")
            c0 = codegen_compiles(spark)
            t0 = time.time()
            df = QUERIES[n](spark, sf_dir)
            build_jobs[n].append(
                len(sc.statusTracker().getJobIdsForGroup(group))
            )
            df.write.format("noop").mode("overwrite").save()
            samples[n].append(round(time.time() - t0, 3))
            compiles[n].append(codegen_compiles(spark) - c0)
            release_cache(df)
    out = {
        "queries": {
            n: {
                "samples": s,
                "min": min(s),
                "median": round(statistics.median(s), 3),
                "compiles": compiles[n],
                "build_jobs": build_jobs[n],
            }
            for n, s in samples.items()
        },
        "tide": {"pre": pre, "post": tide_probe()},
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
