"""Measure BACKFILL_HEAP_PER_CHUNK_BYTE (VERDICT r10 #4).

``backfill_corpus`` derives its heap-bounded chunk size as
``min JVM heap / BACKFILL_HEAP_PER_CHUNK_BYTE``. The constant was
bracketed by the round-9 endpoint observations (8 g OOM at a 850 MB
one-batch drain; OK at ~106 MB chunks) but never MEASURED. This tool
measures it: drive the same span-scrub backfill at several
explicit chunk sizes in a FIXED-heap JVM and read peak heap from the
JVM's own memory MXBean, so the constant derives from measured
bytes-of-heap per chunk byte (slope across chunk sizes) plus the
measured fixed floor, with the family's round-up convention.

Peak heap is sampled two ways, both driver-side (local mode: driver ==
executor JVM): the heap MemoryPoolMXBeans' peak-usage registers (reset
before the drain, summed after — catches spikes between polls) and a
200 ms poll of MemoryMXBean heap 'used' (robust if a pool bean does not
support peak tracking).

Usage (arms in SEPARATE processes so heap is truly fixed per arm and an
OOM cannot wedge the next arm):

  python tools/calibrate_backfill_heap.py --build --replicas 100
  SPARK_DRIVER_MEM=2g python tools/calibrate_backfill_heap.py \
      --arm --max-bytes 33554432
  SPARK_DRIVER_MEM=2g python tools/calibrate_backfill_heap.py \
      --arm --max-bytes 0          # 0 = whole backlog as one batch

Each --arm prints one JSON row; BASELINE.md round-11 carries the table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
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
from gmall_flink_yb_spark.streaming.pipelines import (  # noqa: E402
    _backlog_stats,
    backfill_corpus,
    exact_span_backfill,
    start_incremental_span_scrub_stream,
)

_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


class _HeapProbe:
    """Peak JVM heap during a window: MemoryPool peak registers (reset at
    start) + a polling fallback, max of both reported."""

    def __init__(self, spark, interval: float = 0.2) -> None:
        self._jvm = spark._jvm
        self._mf = self._jvm.java.lang.management.ManagementFactory
        self._interval = interval
        self._stop = threading.Event()
        self._poll_peak = 0
        self._thread: threading.Thread | None = None

    def _heap_pools(self):
        pools = []
        it = self._mf.getMemoryPoolMXBeans().iterator()
        heap_type = self._jvm.java.lang.management.MemoryType.HEAP
        while it.hasNext():
            p = it.next()
            if p.getType() == heap_type:
                pools.append(p)
        return pools

    def used(self) -> int:
        return int(
            self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        )

    def start(self) -> None:
        for p in self._heap_pools():
            try:
                p.resetPeakUsage()
            except Exception:
                pass
        self._poll_peak = self.used()

        def poll() -> None:
            while not self._stop.wait(self._interval):
                try:
                    self._poll_peak = max(self._poll_peak, self.used())
                except Exception:
                    return  # gateway gone (arm died) — keep last peak

        self._thread = threading.Thread(target=poll, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[int, int]:
        """(poll_peak, pool_peak_sum). The poll peak is a true
        point-in-time heap 'used' maximum (<= committed heap); the pool
        sum adds each pool's own maximum, which need not coincide in
        time — it OVERSTATES (can exceed the heap) but catches spikes
        between polls. Report both, compare on the poll peak."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        pool_peak = 0
        try:
            for p in self._heap_pools():
                pu = p.getPeakUsage()
                if pu is not None:
                    pool_peak += int(pu.getUsed())
        except Exception:
            pass
        return self._poll_peak, pool_peak


def run_arm(args) -> dict:
    spark = get_spark("calibrate-backfill-heap")
    spark.sparkContext.setLogLevel("ERROR")
    src = os.path.join(args.out, "backfill")
    total, n_files = _backlog_stats(spark, src, glob="*.parquet")
    work = os.path.join(args.out, f"arm_{args.max_bytes}")
    shutil.rmtree(work, ignore_errors=True)
    heap = int(
        spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    probe = _HeapProbe(spark)
    baseline = probe.used()
    probe.start()
    t0 = time.time()
    if args.max_bytes == -1:
        chunk_budget = None  # backfill_corpus derives from the JVM heap
    else:
        chunk_budget = args.max_bytes or total
    row: dict = {
        "heap_bytes": heap,
        "backlog_bytes": total,
        "n_files": n_files,
        "max_bytes_per_batch": chunk_budget if chunk_budget else "derived",
        "broadcast_incoming": args.broadcast,
        "exact": args.exact,
    }
    try:
        if args.exact:
            # --exact (r12): the chunk-invariant two-pass drain — global
            # dup-gram set, then a frozen surgical drain; heap profile
            # differs from the normal drain (no accumulated index, but a
            # corpus-sized frozen probe from chunk 1)
            q = exact_span_backfill(
                spark,
                src,
                _SCHEMA,
                glob="*.parquet",
                max_bytes_per_batch=chunk_budget,
                corpus_dir=os.path.join(work, "corpus"),
                checkpoint_dir=os.path.join(work, "ckpt"),
                dup_gram_dir=os.path.join(work, "dupg"),
                n=8,
            )
        else:
            q = backfill_corpus(
                spark,
                src,
                _SCHEMA,
                start_incremental_span_scrub_stream,
                glob="*.parquet",
                max_bytes_per_batch=chunk_budget,
                corpus_dir=os.path.join(work, "corpus"),
                checkpoint_dir=os.path.join(work, "ckpt"),
                index_dir=os.path.join(work, "index"),
                n=8,
                # --broadcast (VERDICT r11 #4): force the broadcast index
                # probe at backfill-chunk scale — the mid-tier small-chunk
                # OOM floor was attributed to the per-batch probe of the
                # ACCUMULATED index, exactly the term the broadcast plan
                # removes; this arm tests whether the gate should widen
                broadcast_incoming=True if args.broadcast else "auto",
            )
        q.awaitTermination()
        wall = round(time.time() - t0, 1)
        kept = (
            spark.read.parquet(os.path.join(work, "corpus"))
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("kept_tokens").alias("kept"),
                F.countDistinct("ingest_batch").alias("batches"),
            )
            .first()
        )
        row.update(
            wall_s=wall,
            docs=kept["docs"],
            kept_tokens=kept["kept"],
            batches=kept["batches"],
        )
    except Exception as e:  # noqa: BLE001 — an OOM IS a measurement
        row["failed"] = f"{type(e).__name__}: {str(e)[:200]}"
    row["baseline_heap"] = baseline
    poll_peak, pool_peak = probe.stop()
    row["poll_peak_heap"] = poll_peak
    row["pool_peak_sum"] = pool_peak
    shutil.rmtree(work, ignore_errors=True)
    try:
        spark.stop()
    except Exception:
        pass
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/backfill_heap")
    ap.add_argument("--replicas", type=int, default=100)
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--arm", action="store_true")
    ap.add_argument(
        "--max-bytes",
        type=int,
        default=0,
        help="explicit chunk budget bytes; 0 = whole backlog, one "
        "batch; -1 = let backfill_corpus DERIVE the chunk from the JVM "
        "heap (the production default — the VERDICT r10 #8 proof arm)",
    )
    ap.add_argument(
        "--exact", action="store_true",
        help="run the chunk-invariant exact_span_backfill two-pass "
        "drain instead of the normal keep-first drain (r12)",
    )
    ap.add_argument(
        "--broadcast", action="store_true",
        help="force broadcast_incoming=True for every chunk (the "
        "VERDICT r11 #4 re-calibration arm)",
    )
    args = ap.parse_args()
    if args.build:
        from tools.bench_scrub_backfill import build_backfill

        spark = get_spark("calibrate-backfill-heap-build")
        spark.sparkContext.setLogLevel("ERROR")
        d = build_backfill(spark, args.sf_dir, args.out, args.replicas)
        print(json.dumps({"built": d, "replicas": args.replicas}))
        spark.stop()
    if args.arm:
        print(json.dumps(run_arm(args)), flush=True)


if __name__ == "__main__":
    main()
