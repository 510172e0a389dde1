"""Scan-layout repair and job-free input metadata.

Shuffle sizing is not here: AQE sizes every batch shuffle at run time
from the bytes the map side wrote (``session.get_spark`` sets the
initial partition count and lets persisted plans coalesce), so no
engine code estimates shuffle volume or writes
``spark.sql.shuffle.partitions``. This module keeps the plan-time
decisions AQE cannot make:

- :func:`spread_file_scan` spreads a parallelism-starved file scan
  (one file, one row group) across the session's cores at a heavy
  operator's entry — a scan's split count is fixed before AQE runs.
- :func:`input_file_bytes` and :func:`file_backed_rows` read on-disk
  bytes and parquet footer row counts without a Spark job, for plan
  gates such as the span stream's broadcast probe and SRP plane
  derivation.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

# above-file-count threshold where per-file size stats switch to
# parent-directory content summaries (bounds driver metadata RPCs)
_MAX_FILE_STATS = 1024


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
    round-trip); each heavy operator opts in at entry.

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


# analyzed-plan node names (``TreeNode.nodeName``) that keep a frame "a
# bare scan" for spread_file_scan: projections/filters/aliases over a
# file relation. Anything else (Join/Generate/Aggregate/Repartition/
# Window/...) either multiplies rows, already spreads them, or would make
# the df.rdd probe execute upstream shuffle stages eagerly under AQE.
_SPREAD_SCAN_NODES = frozenset({
    "Project", "Filter", "SubqueryAlias", "View",
    "LogicalRelation", "DataSourceV2Relation",
})


# analyzed-plan node names that can emit more rows than their inputs
# hold, so leaf-file row counts bound nothing (see file_backed_rows)
_ROW_MULTIPLYING_NODES = frozenset({
    "Join", "LateralJoin", "AsOfJoin", "Generate", "Expand",
})


def _plan_node_names(df: DataFrame) -> Iterator[str]:
    """Yield the node name of every node of ``df``'s analyzed plan,
    subquery plans included. Walks the JVM tree and yields exact
    ``nodeName()``s, so text inside the plan (a literal, a column name)
    is never mistaken for a node. Raises whatever py4j raises when the
    plan cannot be read; callers treat that as "not this shape"."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        yield node.nodeName()
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


def _scan_only_plan(df: DataFrame) -> bool:
    """True iff every node of ``df``'s analyzed plan, subquery plans
    included, is a Project/Filter/alias over a relation (see
    ``spread_file_scan``)."""
    try:
        return all(n in _SPREAD_SCAN_NODES for n in _plan_node_names(df))
    except Exception:
        return False


def input_file_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of the files backing ``df``'s plan — driver-side
    metadata only, no Spark job. ``None`` when the frame has no file
    sources (local relations, pure streams).

    Up to ``_MAX_FILE_STATS`` files this stats each file exactly; beyond
    that it takes one ``getContentSummary`` per DISTINCT PARENT DIRECTORY
    (a handful of RPCs however many files a 100 TB table holds). The
    directory form can overcount when partition pruning kept only some of
    a directory's files; callers use the figure only to choose between
    plans."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    spark = df.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    per_file = len(files) <= _MAX_FILE_STATS
    paths = files if per_file else sorted({f.rsplit("/", 1)[0] for f in files})
    total = 0
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(conf)
        if fs.exists(jpath):
            total += int(
                fs.getFileStatus(jpath).getLen()
                if per_file
                else fs.getContentSummary(jpath).getLength()
            )
    return total


def file_backed_rows(df: DataFrame) -> int | None:
    """Row count for a parquet-file-backed frame from footer metadata —
    driver-side, no Spark job. Exact for scan + row-preserving plans;
    ``None`` when the frame isn't local-parquet-backed or its plan has a
    node that can MULTIPLY rows (``_ROW_MULTIPLYING_NODES``, matched by
    exact node name — leaf counts then bound nothing). Row-SHRINKING
    nodes (Filter/Sample/Aggregate) only make it an upper bound — the safe direction for SRP plane derivation
    (similarity._file_backed_rows delegates here).
    Footer reads cap at ``_MAX_FILE_STATS`` files, then stride-sample and
    extrapolate by file count."""
    import urllib.parse

    try:
        files = df.inputFiles()
        if any(n in _ROW_MULTIPLYING_NODES for n in _plan_node_names(df)):
            return None
    except Exception:
        return None
    if not files or any(not f.endswith(".parquet") for f in files):
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
