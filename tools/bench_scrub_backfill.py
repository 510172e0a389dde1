"""Guard-on vs guard-off availableNow backfill for the span-scrub stream
(VERDICT r8 #7).

``start_incremental_span_scrub_stream`` defaults ``hot_gram_guard=False``
with the documented enable case being a GIANT availableNow backfill batch
(one batch IS a corpus, so a batch-universal boilerplate gram funnels the
occurrence window through one sort task exactly like the batch operator's
exposure). That advice had no measured row — this tool drives the exact
case: a replica-scaled, boilerplate-PREFIXED corpus dropped as one
availableNow backfill batch, guard off vs guard on, fresh
checkpoint/corpus/index dirs per arm, interleaved (off/on x rounds) so
both arms share the load regime. Prints one JSON line per run.

Usage: python tools/bench_scrub_backfill.py [--replicas 100] [--rounds 2]
       [--sf-dir /root/testdata/sf0.1] [--out /tmp/scrub_backfill]

BASELINE.md round-9 carries the row; the enable advice on the stream's
docstring stands or falls with it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_yb_spark.session import get_spark  # noqa: E402
from gmall_flink_yb_spark.sources.readers import read_table  # noqa: E402
from gmall_flink_yb_spark.streaming.pipelines import (  # noqa: E402
    read_file_stream,
    start_incremental_span_scrub_stream,
)

# the registry's forced-hot boilerplate (queries.py _HOTGRAM_BOILER): 12
# tokens -> universal grams at n=8 in EVERY backfill document
_BOILER = (
    "all rights reserved by the original author and publisher of this work"
)
_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def build_backfill(spark, sf_dir: str, out: str, replicas: int) -> str:
    """Replica-scaled documents (bench_scale's word-SALTED replication —
    verbatim copies would make every gram corpus-duplicated and scrub
    every document to nothing; salting keeps cross-replica grams
    disjoint so only true structure repeats), then every doc prefixed
    with the boilerplate sentence: the batch-universal hot grams the
    guard exists for. Written once, consumed by every arm."""
    import tools.bench_scale as bs

    bs.REPLICAS = replicas
    _, ten_dir = bs.build_corpora(spark, sf_dir, out)
    salted = spark.read.parquet(
        os.path.join(ten_dir, "documents.parquet")
    ).select(
        "doc_id",
        F.concat(F.lit(_BOILER + " "), F.col("text")).alias("text"),
    )
    d = os.path.join(out, "backfill")
    salted.repartition(32).write.mode("overwrite").parquet(d)
    return d


def run_arm_safe(
    spark, src: str, out: str, guard: bool, tag: str,
    max_files: int | None = None,
) -> dict:
    """An arm that dies (e.g. guard-off OOMing on a batch-universal gram
    sort at the giant tier) is itself a measurement — record it as a row
    instead of killing the other arm's run."""
    try:
        return run_arm(spark, src, out, guard, tag, max_files)
    except Exception as e:  # noqa: BLE001 — report-and-continue harness
        return {
            "arm": tag,
            "hot_gram_guard": guard,
            "wall_s": None,
            "failed": f"{type(e).__name__}: {str(e)[:200]}",
        }


def run_arm(
    spark, src: str, out: str, guard: bool, tag: str,
    max_files: int | None = None,
) -> dict:
    work = os.path.join(out, f"arm_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    # no maxFilesPerTrigger: availableNow takes the whole backlog as ONE
    # batch — the giant-backfill stress case. With --max-files N the same
    # backlog drains as ceil(32/N) batch-bounded chunks — the SUPPORTED
    # giant-backfill path (rate-limited availableNow; chunk-boundary
    # semantics are the stream's normal incremental semantics: a dup pair
    # split across chunks keeps the first copy).
    stream = read_file_stream(
        spark, src, _SCHEMA, max_files_per_trigger=max_files
    )
    t0 = time.time()
    q = start_incremental_span_scrub_stream(
        spark,
        stream,
        os.path.join(work, "corpus"),
        os.path.join(work, "ckpt"),
        os.path.join(work, "index"),
        n=8,
        hot_gram_guard=guard,
    )
    q.awaitTermination()
    wall = round(time.time() - t0, 1)
    kept = spark.read.parquet(os.path.join(work, "corpus")).agg(
        F.count(F.lit(1)).alias("docs"), F.sum("kept_tokens").alias("kept")
    ).first()
    row = {
        "arm": tag,
        "hot_gram_guard": guard,
        "wall_s": wall,
        "docs": kept["docs"],
        "kept_tokens": kept["kept"],
    }
    shutil.rmtree(work, ignore_errors=True)
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--replicas", type=int, default=100)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--out", default="/tmp/scrub_backfill")
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--arms", default="off,on",
                    help="comma-set of arms to run in THIS process. At "
                    "the giant tier guard-off dies with a JVM heap OOM "
                    "(the measured result) — in local mode that is the "
                    "DRIVER's JVM, so run the arms in separate processes "
                    "(--arms off, then --arms on with --keep so the "
                    "shared backfill corpus survives) to keep one arm's "
                    "OOM from wedging the other's session.")
    ap.add_argument("--max-files", type=int, default=None,
                    help="maxFilesPerTrigger for the backfill drain — "
                    "None = the one-giant-batch stress case; N = the "
                    "supported rate-limited availableNow path (the "
                    "backlog's 32 files drain as ceil(32/N) chunks)")
    args = ap.parse_args()
    arm_sel = {a.strip() for a in args.arms.split(",")}

    spark = get_spark("bench-scrub-backfill")
    spark.sparkContext.setLogLevel("ERROR")
    src = os.path.join(args.out, "backfill")
    if not os.path.isdir(src):  # reuse across per-arm processes
        src = build_backfill(spark, args.sf_dir, args.out, args.replicas)
    for r in range(args.rounds):
        for guard in (False, True):
            if ("on" if guard else "off") not in arm_sel:
                continue
            row = run_arm_safe(
                spark, src, args.out, guard,
                f"{'on' if guard else 'off'}_{r}",
                args.max_files,
            )
            row["replicas"] = args.replicas
            row["max_files"] = args.max_files
            print(json.dumps(row), flush=True)
    spark.stop()
    if not args.keep:
        shutil.rmtree(args.out, ignore_errors=True)


if __name__ == "__main__":
    main()
