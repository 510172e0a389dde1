"""serving_queries: the DWS/ADS read side, driven closed loop.

Two client threads share one SparkSession. Each runs its own seeded
permutation of a fixed gmall query mix, builds the plan, collects the
result, and only then sends its next query. Clients run whole passes
through their permutation, starting another only while one more pass of
the last one's length fits in the window, so the sample mix of a run does
not depend on where the clock cut.
"""

from __future__ import annotations

import os
import threading
import time

import duckdb
import numpy as np

from gmall_flink_yb_spark.functions.cacheutil import release_cache
from gmall_flink_yb_spark.queries import ORACLES, QUERIES
from tools.check_oracle import table_hash

from perfbench import common, gen

MIX = (
    "uv_daily", "new_visitor_daily", "bounce_daily", "tumbling_hourly",
    "session_stats", "funnel_conversion", "retention_cohorts",
    "returning_users_daily", "order_wide", "payment_wide",
    "revenue_by_nation", "top_brands", "keyword_hourly",
    "q3_shipping_priority", "q18_large_orders", "basket_pairs",
)
CLIENTS = 2
# one pass per client at the benchmark's run length: 32 samples leave
# ten beyond p65
TAIL_PCT = 65.0


class Serving:
    name = "serving_queries"

    def __init__(self, seed: int, seconds: float):
        self.seed, self.seconds = seed, seconds

    def generate(self, work: str) -> None:
        self.sf_dir = os.path.join(work, "star")
        self.rows = gen.star_tables(self.seed, self.sf_dir)

    def prepare(self, spark, work: str) -> None:
        """Oracle hashes (DuckDB over the same files) and one warm pass, so
        code generation and first-use costs stay out of the window. Both
        are untimed, so the warm pass runs on as many threads as cores, and
        DuckDB alongside it."""
        def oracles() -> None:
            con = duckdb.connect()
            try:
                for t in self.rows:
                    path = os.path.join(self.sf_dir, f"{t}.parquet")
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                self.oracle = {}
                for name in MIX:
                    res = con.sql(ORACLES[name])
                    self.oracle[name] = table_hash(res.columns, res.fetchall())
            finally:
                con.close()

        def warm(names) -> None:
            for name in names:
                df = QUERIES[name](spark, self.sf_dir)
                df.collect()
                release_cache(df)

        n = max(CLIENTS, os.cpu_count() or 1)
        threads = [threading.Thread(target=warm, args=(MIX[c::n],))
                   for c in range(n)]
        threads.append(threading.Thread(target=oracles))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if not hasattr(self, "oracle") or len(self.oracle) != len(MIX):
            raise RuntimeError("DuckDB oracles failed")

    def measure(self, spark, tracer, run_dir: str) -> dict:
        sc = spark.sparkContext
        rec = {"queries": [], "errors": [], "groups": {}}
        lock = threading.Lock()
        t0 = time.time()
        deadline = t0 + self.seconds

        def client(c: int) -> None:
            rng = np.random.default_rng([self.seed, 10 + c])
            n = 0
            last_pass = 0.0
            # whole passes only; another pass starts only while one as long
            # as the previous one still fits before the deadline
            while n == 0 or time.time() + last_pass < deadline:
                p0 = time.time()
                for i in rng.permutation(len(MIX)):
                    name = MIX[int(i)]
                    n += 1
                    qid = f"c{c}q{n}"
                    if tracer.enabled:
                        sc.setJobGroup(qid, name)
                    with tracer.span("queries.query", trace_id=qid,
                                     query=name):
                        t1 = time.time()
                        try:
                            with tracer.span("queries.build"):
                                df = QUERIES[name](spark, self.sf_dir)
                            t2 = time.time()
                            eager = (len(sc.statusTracker().getJobIdsForGroup(qid))
                                     if tracer.enabled else 0)
                            with tracer.span("queries.collect"):
                                cols, rows = df.columns, df.collect()
                            t3 = time.time()
                            release_cache(df)
                            err = None
                        except Exception as exc:  # a failed query is a failed op
                            t2 = t3 = time.time()
                            cols, rows, eager, err = [], [], 0, str(exc)
                    ok = err is None and table_hash(
                        cols, [tuple(r) for r in rows]) == self.oracle[name]
                    with lock:
                        rec["groups"][qid] = name
                        rec["queries"].append({
                            "client": c, "name": name, "start": t1,
                            "build_s": t2 - t1, "collect_s": t3 - t2,
                            "latency_s": t3 - t1, "rows": len(rows),
                            "eager_jobs": eager, "ok": ok,
                        })
                        if not ok:
                            rec["errors"].append(
                                f"{name}: {err or 'result hash != oracle'}")
                last_pass = time.time() - p0

        threads = [threading.Thread(target=client, args=(c,))
                   for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        rec["wall_s"] = time.time() - t0
        rec["t0"] = t0
        return rec

    def results(self, rec: dict, tracer) -> tuple[dict, dict, int, int]:
        qs = rec["queries"]
        lat = [q["latency_s"] for q in qs]
        if not common.tail_supported(len(lat), TAIL_PCT):
            rec["errors"].append(f"{len(lat)} queries do not support p{TAIL_PCT}")
        e2e = {
            "latency_p50_s": common.percentile(lat, 50),
            "latency_tail_s": common.percentile(lat, TAIL_PCT),
            "throughput_per_s": len(qs) / rec["wall_s"],
        }
        layer = {
            "queries.build_s": sum(q["build_s"] for q in qs),
            "queries.eager_jobs": float(sum(q["eager_jobs"] for q in qs)),
            "queries.collect_s": sum(q["collect_s"] for q in qs),
            "queries.result_rows": float(sum(q["rows"] for q in qs)),
            "sources.input_mb": sum(
                os.path.getsize(os.path.join(self.sf_dir, f))
                for f in os.listdir(self.sf_dir)) / 2**20,
        }
        return e2e, layer, len(qs), sum(1 for q in qs if not q["ok"])

    def check(self, spark, rec: dict) -> list[str]:
        # every result was hashed against its oracle as it arrived
        return list(rec["errors"])
