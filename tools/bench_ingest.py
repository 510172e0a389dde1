"""Per-batch cost of streaming corpus ingestion as the admitted corpus
grows.

The claim under test (streaming/pipelines.py::start_incremental_dedup_stream):
per-batch audit cost tracks BATCH size, because the corpus side is the
persisted band-bucket index appended per batch, not the admitted text.
This harness ingests N equal batches (salted replicas of the sf documents
table — cross-batch shingle sets are disjoint, so nearly everything is
admitted and the corpus grows by one batch per step) one micro-batch at a
time, wall-clocking each batch. ``--ann`` does the same for the embedding
ingest (start_incremental_ann_stream) and its SRP band index.

Run:  python tools/bench_ingest.py [--batches N] [--sf-dir DIR]
Prints one JSON line:
  {"batch_rows": R, "batches": N, "indexed": [t0..tN-1]}
Expected shape: "indexed" stays ~flat with batch number.

``--span`` / ``--span-crossover`` are MEASUREMENT harnesses for the two
index-probe plans and deliberately FORCE each arm's plan, bypassing the
stream's ``SPAN_BCAST_MAX_BATCH_BYTES`` scan-bytes gate (ADVICE r11) —
the gate's own value is what the crossover sweep measures, so the
forced-broadcast arm at a large batch is the measured failure direction,
not a production path. Do not point ``--span`` at an unbounded backlog:
its batches are ``--batch-rows``-bounded by construction here, and the
production entry (``start_incremental_span_scrub_stream``) keeps the
"auto" gate for exactly this reason.

``--span-crossover`` (VERDICT r11 #3): seed a LARGE gram index
(``--index-reps`` salted replicas of the documents table), then sweep
probe-batch sizes (``--sweep-mb``) under both plans, running the
stream's own per-batch body (``span_scrub_batch``: reference read,
scrub, cleaned/grams writes) on a persisted batch. Output:
  {"index_bytes": B, "index_ghs": G, "sweep": [
    {"mb": M, "batch_bytes": b, "shuffle": [...], "broadcast": [...]}]}
The crossover (where the broadcast arm stops winning) sets
``SPAN_BCAST_MAX_BATCH_BYTES``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gmall_flink_yb_spark.session import get_spark
from gmall_flink_yb_spark.sources.readers import read_table

ID_STRIDE = 1_000_000_000


def span_crossover(spark, args) -> None:
    """Measure the shuffle-vs-broadcast probe-plan crossover in batch
    size against a corpus-scale gram index (see module docstring)."""
    from gmall_flink_yb_spark.functions.ngrams import incremental_span_scrub
    from gmall_flink_yb_spark.streaming.pipelines import span_scrub_batch

    base = read_table(spark, args.sf_dir, "documents").select(
        "doc_id", "text"
    )
    index_dir = os.path.join(args.out, "index")

    # --- seed the index: R salted replicas' distinct grams, one job.
    # Per-replica token salt keeps cross-replica grams disjoint (the
    # index grows linearly, like a real novel-content ingest); partition
    # by a gh hash bucket — the reference read only needs SOME
    # ingest_batch partitioning, and distinct-within-partition matches
    # what compact_ingest_index leaves behind.
    reps = spark.range(args.index_reps).select(F.col("id").alias("_r"))
    big = base.crossJoin(reps).select(
        (F.col("doc_id") + F.col("_r") * ID_STRIDE).alias("doc_id"),
        F.regexp_replace(
            F.col("text"),
            F.lit(r"([a-zA-Z0-9]+)"),
            F.concat(F.lit("$1i"), F.col("_r").cast("string")),
        ).alias("text"),
    )
    _, ghs = incremental_span_scrub(
        spark.createDataFrame([], "gh string"),
        big,
        "doc_id",
        "text",
        hot_gram_guard=False,
    )
    (
        ghs.withColumn(
            "ingest_batch",
            F.pmod(F.xxhash64("gh"), F.lit(args.index_reps)).cast("int"),
        )
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(index_dir)
    )
    index_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(index_dir)
        for f in fs
        if not f.startswith(("_", "."))
    )
    index_ghs = spark.read.parquet(index_dir).count()
    print(
        f"# index seeded: {index_bytes / 1e6:.0f} MB, {index_ghs} ghs",
        file=sys.stderr,
    )

    # --- sweep probe-batch sizes under both plans
    sweep = []
    for mb in [float(s) for s in args.sweep_mb.split(",")]:
        # k fresh-salted replicas ~ target compressed MB (documents
        # parquet is ~0.6 MB per replica at sf0.1); report actual bytes
        k = max(1, round(mb / 0.6))
        preps = spark.range(k).select(F.col("id").alias("_r"))
        probe = base.crossJoin(preps).select(
            (F.col("doc_id") + F.col("_r") * ID_STRIDE).alias("doc_id"),
            F.regexp_replace(
                F.col("text"),
                F.lit(r"([a-zA-Z0-9]+)"),
                F.concat(F.lit("$1p"), F.col("_r").cast("string")),
            ).alias("text"),
        )
        batch_dir = os.path.join(args.out, f"batch_{mb}")
        probe.write.mode("overwrite").parquet(batch_dir)
        batch_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(batch_dir)
            for f in fs
            if not f.startswith(("_", "."))
        )
        times: dict[str, list[float]] = {"shuffle": [], "broadcast": []}
        for _ in range(args.reps):
            for arm_name, arm in (("shuffle", False), ("broadcast", True)):
                spark.catalog.clearCache()
                t0 = time.time()
                incoming = spark.read.parquet(batch_dir).persist()
                failed = False
                try:
                    # batch id past every seeded partition: the whole
                    # index is the reference, and the batch's own grams
                    # land in a partition later reps do not read
                    span_scrub_batch(
                        incoming, 10**9,
                        os.path.join(args.out, "cleaned"), index_dir,
                        broadcast_incoming=arm,
                    )
                except Exception as exc:  # a forced-broadcast blowup IS
                    # a data point: the failure boundary the gate guards
                    failed = True
                    print(
                        f"# {mb} MB {arm_name} FAILED: "
                        f"{type(exc).__name__}: {str(exc)[:200]}",
                        file=sys.stderr,
                    )
                finally:
                    incoming.unpersist()
                times[arm_name].append(
                    None if failed else round(time.time() - t0, 2)
                )
                print(
                    f"# {mb} MB ({batch_bytes / 1e6:.1f} actual) "
                    f"{arm_name}: {times[arm_name][-1]:.2f}s",
                    file=sys.stderr,
                )
        sweep.append(
            {"mb": mb, "batch_bytes": batch_bytes, **times}
        )
    print(
        json.dumps(
            {
                "index_bytes": index_bytes,
                "index_ghs": index_ghs,
                "sweep": sweep,
            }
        )
    )
    spark.stop()
    shutil.rmtree(args.out, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/spark_graft_ingest")
    ap.add_argument(
        "--batch-rows", type=int, default=None,
        help="docs per batch (default: the whole documents table per "
        "batch); smaller batches raise the corpus-to-batch ratio",
    )
    ap.add_argument(
        "--ann", action="store_true",
        help="measure the EMBEDDING ingest (start_incremental_ann_stream "
        "and its persisted SRP band index) instead of the text ingest; "
        "replicas are circular-shifted so cross-batch cosines stay below "
        "the dup threshold and the corpus grows per batch",
    )
    ap.add_argument(
        "--span", action="store_true",
        help="measure the SPAN-SCRUB ingest "
        "(start_incremental_span_scrub_stream) under both index-probe "
        "plans. Salted replicas make cross-batch grams "
        "disjoint, so nothing is scrubbed and the index grows linearly — "
        "the worst case for the per-batch index probe the pipeline claims "
        "is flat-ish",
    )
    ap.add_argument(
        "--span-crossover", action="store_true",
        help="sweep probe-batch sizes under both span index-probe plans "
        "against a large seeded index (VERDICT r11 #3); see module "
        "docstring",
    )
    ap.add_argument("--index-reps", type=int, default=100)
    ap.add_argument("--sweep-mb", default="1,4,16,64")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark("bench-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    if args.span_crossover:
        shutil.rmtree(args.out, ignore_errors=True)
        os.makedirs(args.out, exist_ok=True)
        span_crossover(spark, args)
        return
    from gmall_flink_yb_spark.streaming.pipelines import (
        read_file_stream,
        start_incremental_ann_stream,
        start_incremental_dedup_stream,
        start_incremental_span_scrub_stream,
    )

    shutil.rmtree(args.out, ignore_errors=True)
    if args.ann:
        id_col = "vec_id"
        base = read_table(spark, args.sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    else:
        id_col = "doc_id"
        base = read_table(spark, args.sf_dir, "documents").select(
            "doc_id", "text"
        )
    if args.batch_rows:
        base = base.filter(F.col(id_col) < args.batch_rows)
    n_rows = base.count()

    # batch r = replica r: ids offset by r*stride (globally increasing).
    # Text: words suffixed per replica so cross-batch shingles are
    # disjoint. Embeddings: vectors circular-shifted by r so cross-batch
    # cosines decorrelate below the dup threshold. Either way nearly
    # every row is admitted and the corpus grows linearly.
    stage_root = os.path.join(args.out, "batches")
    os.makedirs(stage_root)
    files = []
    for r in range(args.batches):
        if args.ann:
            dim = 64
            s = r % dim
            rep = base.select(
                (F.col("vec_id") + F.lit(r * ID_STRIDE)).alias("vec_id"),
                (
                    F.concat(
                        F.slice("embedding", s + 1, dim - s),
                        F.slice("embedding", 1, s),
                    )
                    if s
                    else F.col("embedding")
                ).alias("embedding"),
            )
        else:
            rep = base.select(
                (F.col("doc_id") + F.lit(r * ID_STRIDE)).alias("doc_id"),
                F.regexp_replace("text", r"([a-zA-Z0-9]+)", f"$1s{r}").alias(
                    "text"
                ),
            )
        stage = os.path.join(args.out, f"stage_{r}")
        rep.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        dst = os.path.join(stage_root, f"{r:02d}.parquet")
        os.rename(os.path.join(stage, part[0]), dst)
        files.append(dst)
        # hide future batches from the stream until their turn
        os.rename(dst, dst + ".hidden")

    results: dict[str, list[float]] = {}
    schema = (
        "vec_id long, embedding array<double>"
        if args.ann
        else "doc_id long, text string"
    )
    # span mode A/Bs the index-PROBE plan instead (r11): shuffle the
    # accumulated gram index per batch vs narrow it to the batch's grams
    # via broadcast semi-join (index scanned, never shuffled)
    modes = ("span_shuffle", "span_broadcast") if args.span else ("indexed",)
    for mode in modes:
        mdir = os.path.join(args.out, mode)
        corpus, ckpt = os.path.join(mdir, "corpus"), os.path.join(mdir, "ck")
        index = os.path.join(mdir, "index")
        times = []
        for r in range(args.batches):
            src = files[r]
            os.rename(src + ".hidden", src)
            os.utime(src, (1_700_000_000 + r * 10,) * 2)
            spark.catalog.clearCache()
            t0 = time.time()
            stream = read_file_stream(
                spark, stage_root, schema, max_files_per_trigger=1,
                glob="*.parquet",
            )
            if args.span:
                q = start_incremental_span_scrub_stream(
                    spark, stream, corpus, ckpt, index,
                    broadcast_incoming=(mode == "span_broadcast"),
                )
            elif args.ann:
                q = start_incremental_ann_stream(
                    spark, stream, corpus, ckpt,
                    threshold=0.95, index_dir=index,
                )
            else:
                q = start_incremental_dedup_stream(
                    spark, stream, corpus, ckpt,
                    threshold=0.5, index_dir=index,
                )
            q.awaitTermination(600)
            times.append(round(time.time() - t0, 2))
            print(f"# {mode} batch {r}: {times[-1]:.2f}s", file=sys.stderr)
        results[mode] = times
        for f in files:  # re-hide for the next mode
            if os.path.exists(f):
                os.rename(f, f + ".hidden")

    print(
        json.dumps(
            {
                "batch_rows": n_rows,
                "batches": args.batches,
                **results,
            }
        )
    )
    spark.stop()
    shutil.rmtree(args.out, ignore_errors=True)


if __name__ == "__main__":
    main()
