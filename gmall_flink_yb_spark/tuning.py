"""Data-sized shuffle parallelism (VERDICT r7 #3).

``session.get_spark`` sizes ``spark.sql.shuffle.partitions`` from CPU
count — right for a fixed bench box, wrong as data scales: the 1000x
substring-dedup run went superlinear at the 32-partition session default
(248 s — per-partition window sorts outgrew memory and spilled
pathologically) and returned to at-linear at 256 (129.8 s,
BASELINE.md). The repo's stated rule, "size shuffle partitions so sorts
fit in memory", is enforced by this module instead of by hand-passed
knobs:

    partitions = estimated shuffle bytes / target partition bytes,
    clamped to [session BASE parallelism, PARTITIONS_MAX]

Shuffle bytes are estimated as PARQUET SCAN BYTES x an operator
EXPANSION factor, because the scan size is what a caller can know
cheaply (one filesystem metadata call — no data read, no Spark job) and
the expansion is a property of the operator family:

- Parquet's columnar compression alone is ~3x for text.
- Row-exploding operators multiply further: the span-removal gram
  stream carries ~44 B per token (32-hex md5 + pos + doc_id) where the
  raw text spends ~6 B — with decompression that is the ~20x end-to-end
  expansion ``GRAM_EXPANSION`` encodes (calibrated on the measured
  1000x point: ~0.7 GB of salted corpus parquet needed ~256 partitions
  at the 64 MB target).

On a real cluster the same arithmetic holds per-executor: 64 MB
post-expansion partitions keep any window/sort/hash state far inside a
multi-GB task heap while staying coarse enough that task-launch overhead
never dominates. AQE coalesces DOWN when the estimate overshoots (small
actual shuffles merge back to fewer partitions at runtime), so the cost
of overestimating is near zero; underestimating is the failure mode this
module exists to prevent — AQE cannot SPLIT a sort partition that
already outgrew memory mid-task.

The conf contract:

- Each sizing call SETS what its plan needs, floored at the base that
  ``session.get_spark`` records (:func:`session_base_partitions`) — it
  lowers the conf as well as raising it, so one giant derivation never
  ratchets the ones after it.
- Streaming sinks size their own query's session: a ``foreachBatch``
  body's ``batch_df.sparkSession`` is a clone Structured Streaming keeps
  per query, so a batch's sizing never reaches the parent session.
- Nothing restores. A later plan that sizes itself overwrites the value;
  one that does not runs at whatever the last call set, and AQE
  coalesces any overshoot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_yb_spark.session import BASE_PARTITIONS_KEY

# post-expansion bytes one shuffle partition should hold: sorts/hash maps
# of this size fit comfortably in task memory at default executor sizing
TARGET_PARTITION_BYTES = 64 * 1024 * 1024
# backstop against degenerate estimates (a million-partition shuffle is
# scheduler abuse, not parallelism)
PARTITIONS_MAX = 20_000

# measured end-to-end expansion of the token-gram explosion over text
# parquet (decompression ~3x, then ~44 B/token gram rows vs ~6 B/token
# raw text); see module docstring for the 1000x calibration point
GRAM_EXPANSION = 20.0

# Per-family shuffle-expansion constants (VERDICT r8 #3: GRAM_EXPANSION is
# gram-calibrated but was applied to the dedup stages too). Each is
# measured as TOTAL SHUFFLE WRITE BYTES of the family's representative
# operator divided by its corpus's parquet scan bytes, via the Spark UI
# stage metrics (tools/calibrate_expansion.py, sf0.1 x 100 replicas =
# 84 MB salted corpus / 78 MB salted embeddings; ratios stable vs the 5x
# smoke point within ~7%); calibration rows live in BASELINE.md.
# Constants round UP from the measured point — overshoot is
# AQE-coalesced, undershoot is the memory cliff this module prevents.
# Cross-check: the gram family measured 12.5 here; GRAM_EXPANSION keeps
# its 20.0 partition-crossover calibration (the binding constraint was
# the 1000x window-sort regime, not total write volume).
#
# shingle/MinHash stream: tokenize -> distinct shingles -> 32-hash
# signatures -> banded buckets + persisted-signature band join; measured
# 30.1x at 100x / 32.0x at 5x (heavier per scanned byte than grams: the
# md5-hex shingle stream shuffles once for df-ranks and again under the
# candidate join, each row carrying the signature array).
SHINGLE_EXPANSION = 32.0
# ANN band rows: B bands x (64-double vector + band/bucket) per vector,
# both sides of the incremental join; measured 6.9x at 100x / 6.8x at 5x.
VECTOR_EXPANSION = 8.0
# persisted md5-hex gram / band index rows probed by the incremental
# operators: no explode — the index shuffles ~once (distinct + the
# partitioning-reusing membership join). MEASURED r10 (VERDICT r9 #2,
# tools/calibrate_expansion.py --family hashindex: the same 1x batch
# probes gram indexes grown from 20x and 100x corpora; the
# delta-shuffle/delta-index-bytes marginal isolates the index side):
# 1.12x @ 20x tier, 1.05x @ 100x tier, 1.04x marginal — random md5-hex
# rows are ~incompressible in parquet, so shuffle bytes track scan
# bytes ~1:1. Rounded UP to 2.0: headroom for index layouts that DO
# compress (band indexes carrying repeated bucket/band columns), and
# overshoot is AQE-coalesced while undershoot is the memory cliff.
HASH_INDEX_EXPANSION = 2.0
# above-file-count threshold where per-file size stats switch to
# parent-directory content summaries (bounds driver metadata RPCs)
_MAX_FILE_STATS = 1024


def session_base_partitions(spark: SparkSession) -> int:
    """The session's BASE ``spark.sql.shuffle.partitions`` — the floor
    every sizing call clamps to. A pure read: ``session.get_spark``
    records the base on every call; a session built elsewhere (a vanilla
    ``__spark_entry__`` harness) falls back to the static SparkConf value,
    else Spark's default. Flooring at the base rather than at the live
    value lets a small derivation LOWER the conf after a big one
    (VERDICT r9 #4)."""
    v = spark.conf.get(BASE_PARTITIONS_KEY, None)
    if v is None:
        v = spark.sparkContext.getConf().get(
            "spark.sql.shuffle.partitions", "200"
        )
    return int(v)


def _apply_partitions(spark: SparkSession, parts: int) -> int:
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    return parts


def estimate_parquet_bytes(spark: SparkSession, *paths: str) -> int:
    """Total on-disk bytes under ``paths`` via the Hadoop filesystem —
    one metadata call per path, no data read, cluster-correct for any
    scheme (local, HDFS, S3A). Missing paths count zero (a caller sizing
    for an about-to-be-written corpus passes its inputs instead)."""
    total = 0
    for p in paths:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            total += int(fs.getContentSummary(jpath).getLength())
    return total


def partitions_for_bytes(
    n_bytes: float,
    target_bytes: int = TARGET_PARTITION_BYTES,
    lo: int = 1,
    hi: int = PARTITIONS_MAX,
) -> int:
    """ceil(n_bytes / target), clamped to [lo, hi]."""
    import math

    return max(lo, min(hi, math.ceil(max(n_bytes, 1) / target_bytes)))


def size_shuffle_partitions(
    spark: SparkSession,
    *paths: str,
    expansion: float = 1.0,
    target_bytes: int = TARGET_PARTITION_BYTES,
) -> int:
    """Set ``spark.sql.shuffle.partitions`` from the data: scan bytes of
    ``paths`` x ``expansion`` / ``target_bytes``, floored at the session's
    BASE setting (:func:`session_base_partitions`; AQE coalesces
    overshoot at runtime). Returns the value set. Runtime conf: applies
    to plans executed afterwards."""
    parts = partitions_for_bytes(
        estimate_parquet_bytes(spark, *paths) * expansion,
        target_bytes=target_bytes,
        lo=session_base_partitions(spark),
    )
    return _apply_partitions(spark, parts)


# spread_file_scan gate: below this on-disk size a starved scan stays
# single-task — the narrow work on so few bytes finishes faster than the
# round-robin exchange's fixed cost (A/B'd at sf0.1: light consumers lost
# ~0.2 s to a blanket spread; see OPTIMIZATION_r12.md "scan starvation")
SPREAD_SCAN_MIN_BYTES = 256 << 10


def spread_file_scan(df: DataFrame) -> DataFrame:
    """Round-robin the rows of a PARALLELISM-STARVED file scan across the
    session's cores (guide §2.5: "one huge unsplittable file ...
    repartition immediately after the read") — the operator-entry spread
    for operators whose scan-to-first-exchange work is heavy per byte
    (tokenize/explode/regexp/decode). Single-file single-row-group
    layouts cap a parquet scan at one task however many cores the
    session has, serializing the whole map side; the repartition moves
    the scan output once and every downstream narrow stage parallelizes.
    Catalyst still pushes filters and column pruning below the
    repartition into the scan.

    No-op (plan unchanged) whenever: the frame is not file-backed, its
    plan is anything but a bare scan (+ Project/Filter), the backing
    files are under SPREAD_SCAN_MIN_BYTES, or the layout already
    yields >= defaultParallelism splits — i.e. on any healthy production
    table this does nothing; it only repairs layouts the split planner
    cannot parallelize. NOT wired into read_table: a blanket spread
    measured NEGATIVE for light consumers (joins pay an extra full
    shuffle of base rows; sub-second queries pay the exchange + AQE
    round-trip); each heavy operator opts in at entry, the same
    placement philosophy as auto_shuffle_partitions (VERDICT r8 #1).

    The scan-only plan guard (ADVICE r12): the split-count probe below
    goes through ``df.rdd``, and under AQE ``Dataset.rdd`` forces
    ``getFinalPhysicalPlan`` — on a plan CONTAINING exchanges that
    eagerly EXECUTES the intermediate shuffle stages at plan-build
    time (hidden jobs before any action). The operator entry points
    that call this accept arbitrary caller frames, so non-scan plans
    are rejected up front; for a scan-only plan there is nothing to
    execute and the probe is pure planning.
    """
    if not _scan_only_plan(df):
        return df
    size = input_file_bytes(df)
    if size is None or size < SPREAD_SCAN_MIN_BYTES:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        return df
    return df.repartition(target)


# analyzed-plan node names that keep a frame "a bare scan" for
# spread_file_scan: projections/filters/aliases over a relation. Anything
# else (Join/Generate/Aggregate/Repartition/Window/...) either multiplies
# rows, already spreads them, or would make the df.rdd probe execute
# upstream shuffle stages eagerly under AQE.
_SPREAD_SCAN_NODES = ("Project", "Filter", "Relation", "SubqueryAlias", "View")


def _scan_only_plan(df: DataFrame) -> bool:
    """True iff every node of ``df``'s analyzed plan is a
    Project/Filter/alias over a relation (see ``spread_file_scan``)."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    for line in plan.splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0]
        if node and not node.startswith(_SPREAD_SCAN_NODES):
            return False
    return True


def input_file_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of the files backing ``df``'s plan — driver-side
    metadata only, no Spark job. ``None`` when the frame has no file
    sources (local relations, pure streams), which callers treat as
    "cannot size, leave the session alone".

    Up to ``_MAX_FILE_STATS`` files this stats each file exactly; beyond
    that it takes one ``getContentSummary`` per DISTINCT PARENT DIRECTORY
    (a handful of RPCs however many files a 100 TB table holds). The
    directory form can overcount when partition pruning kept only some of
    a directory's files — the safe direction: overcounting derives more
    partitions, and AQE coalesces the overshoot at runtime, while an
    undercount is the memory cliff the sizing exists to prevent."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    spark = df.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    if len(files) <= _MAX_FILE_STATS:
        for f in files:
            jpath = jvm.org.apache.hadoop.fs.Path(f)
            fs = jpath.getFileSystem(conf)
            if fs.exists(jpath):
                total += int(fs.getFileStatus(jpath).getLen())
        return total
    dirs = sorted({f.rsplit("/", 1)[0] for f in files})
    return estimate_parquet_bytes(spark, *dirs)


def file_backed_rows(df: DataFrame) -> int | None:
    """Row count for a parquet-file-backed frame from footer metadata —
    driver-side, no Spark job. Exact for scan + row-preserving plans;
    ``None`` when the frame isn't local-parquet-backed or its plan can
    MULTIPLY rows (Join/Generate/Expand — leaf counts then bound
    nothing). Row-SHRINKING nodes (Filter/Sample/Aggregate) only make it
    an upper bound — the safe direction for partition sizing and for
    SRP plane derivation (similarity._file_backed_rows delegates here).
    Footer reads cap at ``_MAX_FILE_STATS`` files, then stride-sample and
    extrapolate by file count."""
    import urllib.parse

    try:
        files = df.inputFiles()
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    if not files or any(not f.endswith(".parquet") for f in files):
        return None
    if any(op in plan for op in ("Join", "Generate", "Expand")):
        return None
    paths = []
    for f in files:
        if f.startswith("file:"):
            paths.append(
                urllib.parse.unquote(urllib.parse.urlparse(f).path)
            )
        elif "://" in f:
            return None  # remote FS — footer reads need that FS's client
        else:
            paths.append(f)
    import pyarrow.parquet as pq

    if len(paths) <= _MAX_FILE_STATS:
        sample = paths
    else:
        stride = len(paths) / _MAX_FILE_STATS
        sample = [paths[int(i * stride)] for i in range(_MAX_FILE_STATS)]
    try:
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in sample)
    except Exception:
        return None
    return int(rows * (len(paths) / len(sample)))


def auto_shuffle_partitions_for_rows(
    df: DataFrame,
    bytes_per_row: float,
    auto_partitions: bool | int = True,
    target_bytes: int = TARGET_PARTITION_BYTES,
) -> int | None:
    """Row-count-based twin of :func:`auto_shuffle_partitions`, for
    NARROW-ROW shuffles whose volume tracks row COUNT, not scan bytes
    (exact_dedup's fingerprint aggregate: ~48 B of md5+id+overhead per
    document regardless of document size — a scan-bytes expansion would
    be corpus-shape-dependent, a per-row constant is not). Rows come
    from parquet footer metadata (:func:`file_backed_rows`, no job);
    non-file frames are left alone under ``True``. Same knob contract:
    int = explicit partition target, False = off; floored at the session
    base and never restored (see :func:`auto_shuffle_partitions`)."""
    if auto_partitions is False:
        return None
    spark = df.sparkSession
    base = session_base_partitions(spark)
    if auto_partitions is True:
        rows = file_backed_rows(df)
        if rows is None:
            return None
        parts = partitions_for_bytes(
            rows * bytes_per_row, target_bytes=target_bytes, lo=base
        )
    else:
        parts = max(int(auto_partitions), base)
    return _apply_partitions(spark, parts)


# narrow hash-row width for fingerprint-style aggregates: 16 B md5 +
# 8 B id + UnsafeRow/agg-map overhead
FINGERPRINT_ROW_BYTES = 48.0


def auto_shuffle_partitions(
    df: DataFrame,
    expansion: float,
    auto_partitions: bool | int = True,
    target_bytes: int = TARGET_PARTITION_BYTES,
) -> int | None:
    """The OPERATOR-ENTRY sizing hook (VERDICT r8 #1): derive the shuffle
    partition count an operator over ``df`` needs and raise the session
    setting to it, from inside the operator — so a user calling
    ``dup_span_rows`` / ``minhash_lsh_pairs`` on a 100 TB corpus gets the
    at-linear partition count automatically instead of rediscovering the
    superlinear session-default regime the 1000x benches measured
    (248 s -> 130 s at the same plan; BASELINE.md).

    ``auto_partitions`` is the operator's knob, passed through verbatim:

    - ``True`` — derive from ``df``'s backing files x ``expansion``
      (:func:`input_file_bytes`); frames with no file sources are left
      alone (returns None) — the explicit-int form is the path for those.
    - an ``int`` — explicit target for non-file inputs (or to override
      the estimate); still floored at the session's base setting.
    - ``False`` — do nothing (returns None).

    Each call derives what ITS operator needs, clamped to
    [session base, PARTITIONS_MAX], and SETS that on ``df``'s session —
    lowering back toward (never below) the base when an earlier giant
    call left the conf raised; nothing restores it afterwards (module
    docstring). Overshoot within one plan is AQE-coalesced. Caveat: the
    conf is read when a plan EXECUTES, so a caller that builds a big
    operator's frame, then calls a small operator, then finally executes
    the big frame runs the big shuffle at the small derivation.
    Operators that shuffle several inputs in ONE plan size all of them
    in one :func:`auto_shuffle_partitions_inputs` call (summed, not
    last-writer-wins); callers interleaving plan builds across operators
    should execute eagerly or pass explicit ints."""
    return auto_shuffle_partitions_inputs(
        [(df, expansion)], auto_partitions, target_bytes=target_bytes
    )


def auto_shuffle_partitions_inputs(
    inputs: list[tuple[DataFrame, float]],
    auto_partitions: bool | int = True,
    target_bytes: int = TARGET_PARTITION_BYTES,
) -> int | None:
    """Multi-input form of :func:`auto_shuffle_partitions` for operators
    whose ONE plan shuffles several frames (the incremental dedup family:
    both sides shingle/band inside the same plan). ``inputs`` is
    ``[(df, expansion), ...]``; derived bytes SUM across the file-backed
    entries, so the single conf write reflects the plan's whole shuffle
    volume; two separate calls would be last-writer-wins, since each
    call floors at the session base, not the live value. Non-file
    entries contribute zero (exactly
    what their standalone call would have derived: a no-op); if NO entry
    is file-backed the session is left alone. An ``int`` is the explicit
    target for the plan: still summed against nothing, just
    base-floored — the derived estimate is skipped, same as the
    single-input contract."""
    if auto_partitions is False or not inputs:
        return None
    spark = inputs[0][0].sparkSession
    base = session_base_partitions(spark)
    if auto_partitions is True:
        total = 0.0
        any_file = False
        for df, expansion in inputs:
            n_bytes = input_file_bytes(df)
            if n_bytes is not None:
                any_file = True
                total += n_bytes * expansion
        if not any_file:
            return None
        parts = partitions_for_bytes(
            total, target_bytes=target_bytes, lo=base
        )
    else:
        parts = max(int(auto_partitions), base)
    return _apply_partitions(spark, parts)


# parquet's string compression on the calibration corpora is ~2-3x, so
# in-memory text bytes need a smaller multiplier than the scan-bytes-
# calibrated expansion constants; erring high is AQE-coalesced. Measured
# on the sf0.1 documents table: scan 0.59 MB vs sum(octet_length(text))
# 1.49 MB = 2.5x — a discount of 2 keeps the raw-bytes path's derived
# target within ~25% ABOVE the file-backed path's (the safe side).
RAW_TEXT_DISCOUNT = 2.0


def auto_shuffle_partitions_for_batch(
    df: DataFrame,
    expansion: float,
    *payload_cols: str,
    auto_partitions: bool | int = True,
    target_bytes: int = TARGET_PARTITION_BYTES,
) -> int | None:
    """Per-micro-batch twin of :func:`auto_shuffle_partitions` for
    foreachBatch bodies (the streaming edition of VERDICT r8 #1's wiring):
    a micro-batch DataFrame is not file-backed, so the batch operators'
    entry hooks no-op inside the batch function — and a giant availableNow
    backfill batch (one batch IS a corpus) then runs its gram/shingle
    shuffle at the session default, the superlinear regime the 1000x
    benches measured; at the 5M-doc backfill tier it is a JVM heap OOM,
    not a slowdown (BASELINE.md round-9).

    Sizing source, in order: ``input_file_bytes`` when the micro-batch
    plan IS file-backed (FileStreamSource batches usually are — exact and
    job-free), else ONE aggregate job summing ``octet_length`` over
    ``payload_cols`` on the (caller-persisted) batch, discounted by
    ``RAW_TEXT_DISCOUNT`` since the expansion constants are calibrated
    against compressed scan bytes. Same knob contract as the other hooks:
    True = derive, int = explicit, False = off; base-floored, AQE
    coalesces overshoot. The write lands on ``df``'s session — inside
    foreachBatch the streaming query's own clone — and every batch sizes
    itself on entry, so one giant availableNow batch neither outlives
    its batch nor reaches the parent session; nothing restores."""
    if auto_partitions is False:
        return None
    spark = df.sparkSession
    base = session_base_partitions(spark)
    if auto_partitions is True:
        n_bytes = input_file_bytes(df)
        if n_bytes is None and payload_cols:
            # per-column coalesce (ADVICE r9): a NULL in ANY payload
            # column used to NULL the row's whole summed expression,
            # which F.sum then skipped — the row contributed 0 bytes,
            # undercounting in exactly the direction this OOM guard
            # exists to prevent
            n_raw = (
                df.select(
                    sum(
                        (
                            F.coalesce(
                                F.octet_length(F.col(c).cast("string")),
                                F.lit(0),
                            )
                            for c in payload_cols
                        ),
                        F.lit(0),
                    ).alias("_b")
                )
                .agg(F.sum("_b"))
                .first()[0]
            )
            n_bytes = (n_raw or 0) / RAW_TEXT_DISCOUNT
        if n_bytes is None:
            return None
        parts = partitions_for_bytes(
            n_bytes * expansion, target_bytes=target_bytes, lo=base
        )
    else:
        parts = max(int(auto_partitions), base)
    return _apply_partitions(spark, parts)
