"""Scale-slope bench for the dedup chain: 1x vs 10x documents.

The per-round driver bench (sf0.1) runs each dedup query in ~1-7 s, which
mostly measures fixed overhead — it cannot tell a near-linear operator from
a quadratic one. This harness measures the SLOPE: the same five queries on
the sf0.1 documents table and on a 10x replica of it, reporting
t(10x)/t(1x) per query. Near-linear operators should land <= ~12x
(10x data + shuffle growth); anything beyond that names its offending
stage.

The 10x corpus is NOT ten verbatim copies: each replica r suffixes every
word with a replica tag (``<word>s<r>``), so cross-replica doc pairs share
no shingles and the near-dup graph keeps its organic 1x structure scaled
10x. Verbatim replication would instead multiply every dup clique by 10 and
grow PAIR counts ~100x — a quadratic-input benchmark that would mis-grade a
linear operator. The suffix (rather than inserting salt TOKENS between
words) keeps per-document token counts identical to the 1x corpus, so the
only variable is document COUNT. MinHash/SimHash signatures see the same
effect (salted shingle sets are disjoint across replicas).

Run:  python tools/bench_scale.py [--runs N] [--sf-dir DIR] [--out DIR]
Prints one JSON line: {"queries": {name: {"t1": s, "t10": s, "slope": x}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gmall_flink_yb_spark.functions.similarity import (
    brute_force_topk,
    incremental_cosine_dedup,
    ivf_topk,
    lsh_bucket_topk,
)
from gmall_flink_yb_spark.queries import _LSH_DIM, _LSH_PLANES, QUERIES
from gmall_flink_yb_spark.session import get_spark
from gmall_flink_yb_spark.sources.readers import read_table

DEDUP_QUERIES = [
    "dedup_jaccard_prefix",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_canonical",
    "dedup_incremental",
    "winnow_overlap",
    # corpus-analytics additions: vocabulary-join scoring and the
    # source-pair gram matrix (both documents-table shaped, so the salted
    # replication applies: 10x docs, disjoint cross-replica grams)
    "unigram_lm",
    "source_overlap",
    # round-7 addition: Lee et al. span removal — inverted-gram occurrence
    # count + per-doc island merge + HOF cut; per-replica word salting
    # preserves each replica's internal duplicate spans while keeping
    # cross-replica grams disjoint, so the TRUE dup structure scales 1:1
    "substring_dedup",
    # its incremental twin (id-older half = seen index, newer half = batch)
    "substring_scrub_incremental",
    # A-ES weighted sampling: narrow score + per-source window; replicas
    # keep the source strata, so each stratum grows linearly
    "weighted_sample_docs",
]

FACT_QUERIES = [
    "q1_pricing_summary",
    "q18_large_orders",
    "order_wide",
    "uv_daily",
    "session_stats",
    # round-3 additions over the same fact tables
    "basket_pairs",
    "returning_users_daily",
    "ts_motif_topk",
    "sax_motifs",
    # round-4 semi/anti-join shapes (q17 correlated scalar, q20 semi-join
    # chain, q21 exists/not-exists over one fact partitioning)
    "q17_small_quantity_revenue",
    "q20_excess_shipments_suppliers",
    "q21_waiting_suppliers",
    # round-4 late additions (q2 correlated MIN over the snowflake chain,
    # q11 global-scalar HAVING, q12 CASE aggregation, q16 count-distinct
    # with a NOT IN exclusion)
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_late_priority_lines",
    "q16_supplier_part_distribution",
]

REPLICAS = 10  # overridable via --replicas
ID_STRIDE = 1_000_000_000


def build_corpora(spark, sf_dir: str, out_dir: str) -> tuple[str, str]:
    """Write the 1x corpus (re-laid-out for I/O parity) and the salted 10x
    corpus under out_dir; returns their sf-dir-shaped directories."""
    base = read_table(spark, sf_dir, "documents")
    one_dir = os.path.join(out_dir, "scale1x")
    ten_dir = os.path.join(out_dir, "scale10x")
    base.write.mode("overwrite").parquet(
        os.path.join(one_dir, "documents.parquet")
    )
    if REPLICAS > 32:
        # large-replica fast path (1000x runs): an N-way union makes an
        # N-branch plan the driver chokes on; a crossJoin with a replica
        # range plus COLUMN-valued regexp replacement builds the same
        # salted corpus in one branch
        reps = base.sparkSession.range(REPLICAS).select(
            F.col("id").alias("_rep")
        )
        ten = base.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_rep") * ID_STRIDE).alias("doc_id"),
            F.regexp_replace(
                F.col("text"),
                F.lit(r"([a-zA-Z0-9]+)"),
                F.concat(F.lit("$1s"), F.col("_rep").cast("string")),
            ).alias("text"),
            *[c for c in base.columns if c not in ("doc_id", "text")],
        )
    else:
        replicas = [
            base.select(
                (F.col("doc_id") + F.lit(r * ID_STRIDE)).alias("doc_id"),
                F.regexp_replace("text", r"([a-zA-Z0-9]+)", f"$1s{r}").alias(
                    "text"
                ),
                *[
                    c
                    for c in base.columns
                    if c not in ("doc_id", "text")
                ],
            )
            for r in range(REPLICAS)
        ]
        ten = replicas[0]
        for rep in replicas[1:]:
            ten = ten.unionByName(rep)
    ten.repartition(32).write.mode("overwrite").parquet(
        os.path.join(ten_dir, "documents.parquet")
    )
    return one_dir, ten_dir


def build_embedding_corpora(spark, sf_dir: str, out_dir: str) -> tuple[str, str]:
    """1x and 10x embeddings corpora for the ANN corpus-scaling slope.

    Replicas are SALTED with a per-replica deterministic sign flip per
    dimension (the embedding analog of the text corpus's per-replica word
    suffix): flipping the same dimensions on both vectors of a pair leaves
    every intra-replica cosine bit-identical, while cross-replica cosines
    become ~0 (each dimension's product keeps its sign with probability
    1/2 under an independent flip pattern). Verbatim copies would instead
    put all N copies of a vector in the SAME SRP bucket at any banding —
    every true near-dup clique grows N-fold and candidate PAIRS grow N^2 —
    a quadratic-input benchmark that mis-grades the both-sides-scaling
    incremental stage (measured: at --replicas 1000 the verbatim clique
    floor is ~7.5e8 vector-carrying pairs, which spills out this box's
    disk at ANY n_planes). The pinned-query top-k stages never noticed
    because their pair count is corpus x queries, not corpus x corpus.
    """
    base = read_table(spark, sf_dir, "embeddings")
    one_dir = os.path.join(out_dir, "escale1x")
    ten_dir = os.path.join(out_dir, "escale10x")
    base.write.mode("overwrite").parquet(
        os.path.join(one_dir, "embeddings.parquet")
    )
    replicated = _replicate(base, ["vec_id"])
    # sign(rep, dim) = +/-1 from a hash of the replica tag and dimension
    # index; _rep is recovered from the vec_id stride so this stays one
    # codegen'd projection regardless of replica count.
    rep = (F.col("vec_id") / F.lit(ID_STRIDE)).cast("long")
    salted = replicated.withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x, i: x
            * F.when(rep == 0, F.lit(1.0))  # replica 0 stays verbatim so
            # pinned-query top-k stages keep their organic match structure
            .when(
                F.pmod(F.xxhash64(rep, i), F.lit(2)) == 0, F.lit(-1.0)
            ).otherwise(F.lit(1.0)),
        ),
    )
    salted.repartition(32).write.mode("overwrite").parquet(
        os.path.join(ten_dir, "embeddings.parquet")
    )
    return one_dir, ten_dir


def _replicate(df, id_cols: list[str]):
    """10x union with every id column shifted by a per-replica stride, so
    each replica keeps its internal join/grouping structure and replicas
    never collide (orderkeys still join within a replica; user streams
    stay intact per replica)."""
    if REPLICAS > 32:
        # see build_corpora: single-branch crossJoin replication for
        # large replica counts
        reps = df.sparkSession.range(REPLICAS).select(
            F.col("id").alias("_rep")
        )
        return df.crossJoin(F.broadcast(reps)).select(
            *[
                (F.col(c) + F.col("_rep") * ID_STRIDE).alias(c)
                if c in id_cols
                else F.col(c)
                for c in df.columns
            ]
        )
    replicas = [
        df.select(
            *[
                (F.col(c) + F.lit(r * ID_STRIDE)).alias(c)
                if c in id_cols
                else F.col(c)
                for c in df.columns
            ]
        )
        for r in range(REPLICAS)
    ]
    out = replicas[0]
    for rep in replicas[1:]:
        out = out.unionByName(rep)
    return out


def build_fact_corpora(spark, sf_dir: str, out_dir: str) -> tuple[str, str]:
    """1x / 10x relational-core corpora: lineitem + orders replicated on
    shifted orderkeys (joins stay per-replica), events on shifted
    user/event ids (10x organic user streams); dims copied verbatim —
    dims stay dim-sized at any fact scale, which is exactly the broadcast
    story the plans rely on."""
    one_dir = os.path.join(out_dir, "fscale1x")
    ten_dir = os.path.join(out_dir, "fscale10x")
    replicated = {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey"],
        "events": ["event_id", "user_id"],
    }
    dims = ["region", "nation", "customer", "supplier", "part"]
    for t in dims:
        df = read_table(spark, sf_dir, t)
        for d in (one_dir, ten_dir):
            df.write.mode("overwrite").parquet(
                os.path.join(d, f"{t}.parquet")
            )
    for t, id_cols in replicated.items():
        base = read_table(spark, sf_dir, t)
        base.write.mode("overwrite").parquet(
            os.path.join(one_dir, f"{t}.parquet")
        )
        _replicate(base, id_cols).repartition(32).write.mode(
            "overwrite"
        ).parquet(os.path.join(ten_dir, f"{t}.parquet"))
    return one_dir, ten_dir


# (name, corpus->DataFrame) ANN stages with a PINNED query set; semantic_dedup
# and embedding_near_dup are excluded by design: verbatim replication
# multiplies every true near-dup clique 10x, growing their PAIR output ~100x —
# a quadratic-input benchmark, not a plan property.
def _ann_stages(queries_df):
    return [
        ("ann_brute_topk", lambda c: brute_force_topk(c, queries_df, k=5)),
        (
            "ann_lsh_topk",
            lambda c: lsh_bucket_topk(
                c, queries_df, k=5, n_planes=_LSH_PLANES, dim=_LSH_DIM
            ),
        ),
        (
            "ann_ivf_topk",
            lambda c: ivf_topk(c, queries_df, k=5, n_centroids=16, n_probe=4),
        ),
        # incremental admission: BOTH sides scale with the corpus (older-id
        # half = index, newer half = incoming), unlike the pinned-query
        # top-k stages — the slope shows how banded-SRP candidate growth
        # tracks corpus growth
        ("ann_incremental", _ann_incremental_stage),
        # the documented n_planes >= log2(n) sizing rule in action: at
        # large corpus the P=8 random-collision floor (B*n^2/2^P)
        # dominates candidates; P=16 divides the floor by 256
        ("ann_incremental_p16", lambda c: _ann_incremental_stage(c, 16)),
        # the rule's large-corpus setting (srp_band_buckets sizing note:
        # 24-32 planes at 10^7-10^9 rows): at --replicas 1000 (1M vectors
        # per side) log2(n)=20, so P=16 still leaves a ~1.2e8-pair random
        # floor whose vector-carrying shuffle exceeds this box's disk —
        # P=24 is the honest banding for that tier
        ("ann_incremental_p24", lambda c: _ann_incremental_stage(c, 24)),
        # VERDICT r7 #4: the rule enforced by code — n_planes="auto"
        # derives P = ceil(log2(n)) + 3 from a plan-build count, so the
        # 1000x tier needs NO hand-set P (at 1M vectors/side it derives
        # the same P=24 the hand-tuned stage uses)
        ("ann_incremental_auto", lambda c: _ann_incremental_stage(c, "auto")),
    ]


def _ann_incremental_stage(c, n_planes=8):
    half = c.agg((F.max("vec_id") / 2).cast("long").alias("_h"))
    ex = (
        c.crossJoin(F.broadcast(half))
        .filter(F.col("vec_id") <= F.col("_h"))
        .drop("_h")
    )
    inc = (
        c.crossJoin(F.broadcast(half))
        .filter(F.col("vec_id") > F.col("_h"))
        .drop("_h")
    )
    return incremental_cosine_dedup(
        ex, inc, "vec_id", "embedding", threshold=0.35,
        n_planes=n_planes, dim=_LSH_DIM,
    )


def time_df(spark, make_df, corpus_dir: str, runs: int, repin=None) -> float:
    """``repin`` re-materializes state the caller WANTS warm (the pinned
    ANN query side) after each clearCache — without it the eviction would
    silently re-bill the query-side scan to every sample, biasing slopes
    downward (t1 inflates proportionally more than t10)."""
    samples = []
    corpus = read_table(spark, corpus_dir, "embeddings")
    for _ in range(runs):
        spark.catalog.clearCache()
        if repin is not None:
            repin()
        t0 = time.time()
        make_df(corpus).write.format("noop").mode("overwrite").save()
        samples.append(time.time() - t0)
    return statistics.median(samples)


def time_query(spark, name: str, sf_dir: str, runs: int) -> float:
    fn = QUERIES[name]
    samples = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(time.time() - t0)
    return statistics.median(samples)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/spark_graft_scale")
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--skip-dedup", action="store_true")
    ap.add_argument("--skip-ann", action="store_true")
    ap.add_argument("--skip-facts", action="store_true")
    ap.add_argument("--replicas", type=int, default=10,
                    help="scale factor for the replica corpora (10 = 10x)")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: run just these from the suites",
    )
    ap.add_argument(
        "--shuffle-partitions", type=int, default=None,
        help="spark.sql.shuffle.partitions the session is built with "
        "(get_spark's deployment setting; AQE sizes each batch shuffle "
        "at run time either way)",
    )
    args = ap.parse_args()
    global REPLICAS
    REPLICAS = args.replicas
    if args.only:
        keep = set(args.only.split(","))
        DEDUP_QUERIES[:] = [q for q in DEDUP_QUERIES if q in keep]
        FACT_QUERIES[:] = [q for q in FACT_QUERIES if q in keep]

    spark = get_spark(
        "bench-scale", shuffle_partitions=args.shuffle_partitions
    )
    spark.sparkContext.setLogLevel("ERROR")
    n1 = n10 = None
    docs_built = False
    out: dict[str, dict[str, float]] = {}

    for name in [] if args.skip_dedup else DEDUP_QUERIES:
        if not docs_built:
            docs_built = True
            one_dir, ten_dir = build_corpora(spark, args.sf_dir, args.out)
            n1 = spark.read.parquet(
                os.path.join(one_dir, "documents.parquet")
            ).count()
            n10 = spark.read.parquet(
                os.path.join(ten_dir, "documents.parquet")
            ).count()
        t1 = time_query(spark, name, one_dir, args.runs)
        t10 = time_query(spark, name, ten_dir, args.runs)
        out[name] = {
            "t1": round(t1, 2),
            "t10": round(t10, 2),
            "slope": round(t10 / t1, 2),
        }
        print(
            f"# {name}: 1x {t1:.2f}s  10x {t10:.2f}s  slope {t10 / t1:.1f}x",
            file=sys.stderr,
        )
    stages = []
    repin = None
    if not args.skip_ann:
        stage_names = [
            "ann_brute_topk", "ann_lsh_topk", "ann_ivf_topk",
            "ann_incremental", "ann_incremental_p16",
            "ann_incremental_p24", "ann_incremental_auto",
        ]
        if args.only:
            keep_ann = set(args.only.split(","))
            wanted = [n for n in stage_names if n in keep_ann]
        else:
            wanted = None  # all
        if wanted != []:
            e1_dir, e10_dir = build_embedding_corpora(
                spark, args.sf_dir, args.out
            )
            queries_df = (
                read_table(spark, args.sf_dir, "embeddings")
                .filter(F.col("vec_id") % 50 == 0)
                .persist()
            )
            queries_df.count()

            def repin():
                queries_df.persist()
                queries_df.count()

            stages = _ann_stages(queries_df)
            if wanted is not None:
                stages = [(n, f) for n, f in stages if n in wanted]
    for name, make_df in stages:
        t1 = time_df(spark, make_df, e1_dir, args.runs, repin=repin)
        t10 = time_df(spark, make_df, e10_dir, args.runs, repin=repin)
        out[name] = {
            "t1": round(t1, 2),
            "t10": round(t10, 2),
            "slope": round(t10 / t1, 2),
        }
        print(
            f"# {name}: 1x {t1:.2f}s  10x {t10:.2f}s  slope {t10 / t1:.1f}x",
            file=sys.stderr,
        )
    if not args.skip_facts:
        f1_dir, f10_dir = build_fact_corpora(spark, args.sf_dir, args.out)
        for name in FACT_QUERIES:
            t1 = time_query(spark, name, f1_dir, args.runs)
            t10 = time_query(spark, name, f10_dir, args.runs)
            out[name] = {
                "t1": round(t1, 2),
                "t10": round(t10, 2),
                "slope": round(t10 / t1, 2),
            }
            print(
                f"# {name}: 1x {t1:.2f}s  10x {t10:.2f}s  "
                f"slope {t10 / t1:.1f}x",
                file=sys.stderr,
            )
    print(
        json.dumps(
            {"docs_1x": n1, "docs_10x": n10, "runs": args.runs, "queries": out}
        )
    )
    spark.stop()
    if not args.keep:
        shutil.rmtree(args.out, ignore_errors=True)


if __name__ == "__main__":
    main()
