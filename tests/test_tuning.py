"""Data-sized shuffle parallelism (VERDICT r7 #3): partitions derive from
estimated shuffle bytes, never from the box alone."""

from __future__ import annotations

import os

import pytest

from gmall_flink_yb_spark.functions import dedup, ngrams, similarity
from gmall_flink_yb_spark.tuning import (
    GRAM_EXPANSION,
    PARTITIONS_MAX,
    TARGET_PARTITION_BYTES,
    estimate_parquet_bytes,
    partitions_for_bytes,
    size_shuffle_partitions,
)


def test_partitions_for_bytes_math():
    t = TARGET_PARTITION_BYTES
    assert partitions_for_bytes(0, lo=4) == 4          # floor wins
    assert partitions_for_bytes(t, lo=1) == 1          # exactly one target
    assert partitions_for_bytes(t + 1, lo=1) == 2      # ceil
    assert partitions_for_bytes(1000 * t, lo=4) == 1000
    assert partitions_for_bytes(10**18, lo=4) == PARTITIONS_MAX  # backstop


def test_estimate_and_size_from_real_parquet(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(100_000).selectExpr(
        "id", "repeat('x', 100) as pad"
    ).write.parquet(p)
    n = estimate_parquet_bytes(spark, p)
    assert n == sum(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if not f.startswith(".")  # Hadoop's ChecksumFileSystem hides .crc
    )
    assert estimate_parquet_bytes(spark, str(tmp_path / "missing")) == 0

    before = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        # tiny input: floor at the session's current parallelism (the
        # helper floors at the session base; AQE coalesces down at runtime)
        assert size_shuffle_partitions(spark, p) == before
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == before
        # force a scale-up: expansion such that the estimate crosses the
        # target several times over
        want_bytes = (before + 7) * TARGET_PARTITION_BYTES
        got = size_shuffle_partitions(spark, p, expansion=want_bytes / n)
        assert got >= before + 7
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == got
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(before))


def test_gram_expansion_reproduces_measured_1000x_point():
    """The calibration the constant encodes: ~0.7 GB of salted 1000x
    corpus parquet needed ~256 partitions (BASELINE.md: 32 was
    superlinear at 248 s, 256 at-linear at 129.8 s). The derived count
    must land in the same regime — hundreds, not tens or thousands."""
    parts = partitions_for_bytes(0.7e9 * GRAM_EXPANSION, lo=32)
    assert 128 <= parts <= 512


def test_input_file_bytes_and_fallbacks(spark, tmp_path):
    from gmall_flink_yb_spark.tuning import input_file_bytes

    p = str(tmp_path / "t2.parquet")
    spark.range(10_000).selectExpr(
        "id", "repeat('y', 50) as pad"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    n = input_file_bytes(df)
    assert n == estimate_parquet_bytes(spark, p)
    # transforms keep the leaf files
    assert input_file_bytes(df.selectExpr("id")) == n
    # no file sources -> None (caller leaves the session alone)
    assert input_file_bytes(spark.range(5)) is None


def test_operator_entry_auto_partitions(spark, tmp_path):
    """VERDICT r8 #1 done-criterion: a FILE-BACKED operator call raises
    the session's shuffle partitions to scan_bytes x family expansion /
    target (no harness-side sizing), a non-file call doesn't crash (and
    leaves the setting alone), an explicit int overrides, and False
    opts out."""
    from gmall_flink_yb_spark import tuning
    from gmall_flink_yb_spark.functions.dedup import minhash_lsh_pairs
    from gmall_flink_yb_spark.functions.ngrams import dup_span_rows

    p = str(tmp_path / "docs.parquet")
    spark.range(2_000).selectExpr(
        "id AS doc_id",
        "concat('tok', id, ' lorem ipsum dolor sit amet consectetur "
        "adipiscing elit sed do eiusmod tempor') AS text",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    scan = tuning.input_file_bytes(docs)

    before = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        # shrink the target so even this tiny file derives > session
        target = max(1, int(scan * tuning.GRAM_EXPANSION // (before + 5)))
        want = tuning.partitions_for_bytes(
            scan * tuning.GRAM_EXPANSION, target_bytes=target, lo=before
        )
        assert want > before  # the test corpus must actually force a raise
        got = tuning.auto_shuffle_partitions(
            docs, tuning.GRAM_EXPANSION, True, target_bytes=target
        )
        assert got == want
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == want
        spark.conf.set("spark.sql.shuffle.partitions", str(before))

        # the real operator path at the real 64 MB target: tiny corpus
        # floors at the session setting (sf0.1 bench plans unchanged)
        dup_span_rows(docs, "doc_id", "text", n=3)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == before
        minhash_lsh_pairs(docs, "doc_id", "text")
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == before

        # non-file input: no crash, no change
        local_docs = spark.range(100).selectExpr(
            "id AS doc_id", "concat('w', id) AS text"
        )
        dup_span_rows(local_docs, "doc_id", "text", n=2)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == before

        # explicit int override (the non-file-input path); floor = base
        dup_span_rows(
            local_docs, "doc_id", "text", n=2, auto_partitions=before + 11
        )
        assert int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ) == before + 11
        spark.conf.set("spark.sql.shuffle.partitions", str(before))

        # False opts out entirely
        assert tuning.auto_shuffle_partitions(
            docs, tuning.GRAM_EXPANSION, False, target_bytes=1
        ) is None
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(before))


def test_family_expansion_constants_exist():
    """VERDICT r8 #3: one measured constant per family (calibration rows
    in BASELINE.md via tools/calibrate_expansion.py). Shingle must be >=
    gram (the signature+band stream measured HEAVIER per scanned byte
    than the gram stream); vector is band-multiplied but explode-free."""
    from gmall_flink_yb_spark.tuning import (
        HASH_INDEX_EXPANSION,
        SHINGLE_EXPANSION,
        VECTOR_EXPANSION,
    )

    assert SHINGLE_EXPANSION >= GRAM_EXPANSION
    assert 1.0 <= VECTOR_EXPANSION <= SHINGLE_EXPANSION
    # measured r10 (calibrate_expansion --family hashindex): 1.04-1.12x
    # across tiers — the constant rounds up from the measured point but
    # must stay within ~2x of it (a 4.0 guess was the pre-measurement
    # value this bound exists to catch drifting back to)
    assert 1.12 <= HASH_INDEX_EXPANSION <= 2.5


def test_row_based_sizing_for_narrow_shuffles(spark, tmp_path):
    """exact_dedup's fingerprint shuffle tracks row COUNT, not scan
    bytes: auto_shuffle_partitions_for_rows derives from footer row
    metadata (no job), floors at the session value for small inputs,
    and leaves non-file frames alone."""
    from gmall_flink_yb_spark import tuning
    from gmall_flink_yb_spark.functions.dedup import exact_dedup

    p = str(tmp_path / "narrow.parquet")
    spark.range(50_000).selectExpr(
        "id AS doc_id", "concat('text', id) AS text"
    ).write.parquet(p)
    docs = spark.read.parquet(p)

    before = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        # forced tiny target: 50k rows x 48 B / 2048 B -> >> session floor
        got = tuning.auto_shuffle_partitions_for_rows(
            docs, tuning.FINGERPRINT_ROW_BYTES, True, target_bytes=2048
        )
        assert got == tuning.partitions_for_bytes(
            50_000 * tuning.FINGERPRINT_ROW_BYTES,
            target_bytes=2048, lo=before,
        ) > before
        spark.conf.set("spark.sql.shuffle.partitions", str(before))

        # operator path at the real target: small corpus floors
        exact_dedup(docs, "doc_id", "text")
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == before
        # non-file frame: no crash, no change
        exact_dedup(
            spark.range(10).selectExpr("id AS doc_id", "'t' AS text"),
            "doc_id", "text",
        )
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(before))


def test_auto_partitions_for_batch_payload_path(spark):
    """The foreachBatch sizing hook (streaming edition of the r8 #1
    wiring): a NON-file-backed frame derives partitions from ONE
    octet_length aggregate over the payload cols discounted by
    RAW_TEXT_DISCOUNT; False and explicit-int honor the shared knob
    contract; no-payload non-file frames no-op."""
    import math

    from gmall_flink_yb_spark import tuning

    rows = [(i, "x" * 1000) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    raw = 200 * 1000
    before = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        # derive: raw payload / discount x expansion / target, floored at
        # the session current — force a raise with a tiny target
        target = 1000
        want = max(
            before,
            math.ceil(
                raw / tuning.RAW_TEXT_DISCOUNT * 2.0 / target
            ),
        )
        got = tuning.auto_shuffle_partitions_for_batch(
            df, 2.0, "text", target_bytes=target
        )
        assert got == want
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == want
        spark.conf.set("spark.sql.shuffle.partitions", str(before))

        # off: untouched
        assert (
            tuning.auto_shuffle_partitions_for_batch(
                df, 2.0, "text", auto_partitions=False, target_bytes=target
            )
            is None
        )
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == before

        # explicit int: floored at current, set verbatim above it
        got = tuning.auto_shuffle_partitions_for_batch(
            df, 2.0, "text", auto_partitions=before + 7
        )
        assert got == before + 7
        spark.conf.set("spark.sql.shuffle.partitions", str(before))

        # no payload cols on a non-file frame: nothing to size from
        assert (
            tuning.auto_shuffle_partitions_for_batch(df, 2.0) is None
        )
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(before))


def test_auto_partitions_for_batch_prefers_file_bytes(spark, tmp_path):
    """A file-backed frame (FileStreamSource batches usually are) sizes
    from scan bytes — exact and job-free — not the raw-payload probe."""
    from gmall_flink_yb_spark import tuning

    p = str(tmp_path / "batch.parquet")
    spark.range(1000).selectExpr(
        "id as doc_id", "repeat('y', 200) as text"
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    scan = tuning.estimate_parquet_bytes(spark, p)
    before = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        target = 100  # force a raise
        got = tuning.auto_shuffle_partitions_for_batch(
            df, 1.0, "text", target_bytes=target
        )
        import math

        assert got == max(before, math.ceil(scan / target))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(before))


def test_base_floor_releases_the_ratchet(spark, tmp_path):
    """VERDICT r9 #4: the auto-sizing floor is the session's BASE
    parallelism, not the live value — a big-corpus derivation followed by
    a small-corpus derivation on the same session lets the second LOWER
    the conf back toward (never below) the base, instead of inheriting
    the giant call's setting forever."""
    from gmall_flink_yb_spark import tuning

    big = str(tmp_path / "big.parquet")
    small = str(tmp_path / "small.parquet")
    spark.range(50_000).selectExpr(
        "id AS doc_id", "repeat('lorem ipsum ', 20) AS text"
    ).write.parquet(big)
    spark.range(200).selectExpr(
        "id AS doc_id", "concat('w', id) AS text"
    ).write.parquet(small)

    before = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = tuning.session_base_partitions(spark)
    assert base == before  # get_spark stamped the pre-ratchet value
    try:
        big_df, small_df = spark.read.parquet(big), spark.read.parquet(small)
        # shrink the target so the big file forces a real raise
        target = max(
            1, int(tuning.input_file_bytes(big_df) * 2.0 // (before + 9))
        )
        raised = tuning.auto_shuffle_partitions(
            big_df, 2.0, True, target_bytes=target
        )
        assert raised > before
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == raised

        # the small call derives from BASE, not from the raised value
        low = tuning.auto_shuffle_partitions(
            small_df, 2.0, True, target_bytes=target
        )
        assert low < raised
        assert low >= base
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == low

        # explicit ints floor at base too (not at the live value)
        got = tuning.auto_shuffle_partitions(small_df, 2.0, base + 3)
        assert got == base + 3
        # ...and never sink below base
        assert tuning.auto_shuffle_partitions(small_df, 2.0, 1) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(before))


def test_multi_input_sizing_sums_the_plan(spark, tmp_path):
    """Operators whose one plan shuffles several inputs size them in ONE
    summed call (auto_shuffle_partitions_inputs) — under the base floor,
    two separate calls would be last-writer-wins instead of max."""
    from gmall_flink_yb_spark import tuning

    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(20_000).selectExpr(
        "id AS doc_id", "repeat('x', 64) AS text"
    ).write.parquet(a)
    spark.range(20_000).selectExpr(
        "id AS doc_id", "repeat('y', 64) AS text"
    ).write.parquet(b)
    da, db = spark.read.parquet(a), spark.read.parquet(b)
    na, nb = tuning.input_file_bytes(da), tuning.input_file_bytes(db)

    before = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        target = max(1, int((na + nb) * 3.0 // (before + 6)))
        want = tuning.partitions_for_bytes(
            (na + nb) * 3.0, target_bytes=target, lo=before
        )
        got = tuning.auto_shuffle_partitions_inputs(
            [(da, 3.0), (db, 3.0)], True, target_bytes=target
        )
        assert got == want > before

        # a non-file entry contributes zero but doesn't disable sizing
        local = spark.range(10).selectExpr("id AS doc_id")
        got2 = tuning.auto_shuffle_partitions_inputs(
            [(da, 3.0), (local, 3.0)], True, target_bytes=target
        )
        assert got2 == tuning.partitions_for_bytes(
            na * 3.0, target_bytes=target, lo=before
        )
        # all-non-file leaves the session alone
        lv = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert tuning.auto_shuffle_partitions_inputs(
            [(local, 3.0)], True, target_bytes=target
        ) is None
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == lv
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(before))


def test_batch_payload_probe_coalesces_null_columns(spark):
    """ADVICE r9: a NULL in any payload column must cost that row only
    the null column's bytes, not zero the row's whole contribution —
    undercounting is the unsafe direction for an OOM-prevention hook."""
    from gmall_flink_yb_spark import tuning

    rows = [(1, "x" * 100, None), (2, None, "y" * 100), (3, "z" * 100, "w" * 100)]
    df = spark.createDataFrame(rows, "id long, a string, b string")
    before = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        # raw payload = 400 bytes; target 1 byte after discount -> parts
        # reflect ALL non-null cells (rows with one NULL still count)
        got = tuning.auto_shuffle_partitions_for_batch(
            df, 1.0, "a", "b", auto_partitions=True, target_bytes=1
        )
        want = tuning.partitions_for_bytes(
            400 / tuning.RAW_TEXT_DISCOUNT, target_bytes=1, lo=before
        )
        assert got == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(before))


# sink -> (module and name of the audit/scrub function its body calls,
# batch schema, one row per batch id, stream starter)
_INGEST_SINKS = {
    "dedup": (
        dedup, "incremental_lsh_dedup_indexed", "doc_id long, text string",
        lambda i: {"doc_id": [i], "text": [f"document {i} on topic {i}"]},
        "start_incremental_dedup_stream",
    ),
    "ann": (
        similarity, "incremental_cosine_dedup_indexed",
        "vec_id long, embedding array<double>",
        lambda i: {"vec_id": [i], "embedding": [[1.0 + i, 2.0, 0.5, 0.0]]},
        "start_incremental_ann_stream",
    ),
    "span": (
        ngrams, "incremental_span_scrub", "doc_id long, text string",
        lambda i: {"doc_id": [i], "text": [f"document {i} on topic {i}"]},
        "start_incremental_span_scrub_stream",
    ),
}


@pytest.mark.parametrize("sink", sorted(_INGEST_SINKS))
def test_stream_sizing_stays_on_the_query_session(
    spark, tmp_path, monkeypatch, sink
):
    """A foreachBatch sink sizes the streaming query's cloned session and
    plans the whole batch there: the audit/scrub function sees the sized
    value on BOTH its reference and its incoming frame, while the parent
    session stays at its base during the stream and after it — so no
    sink needs a restore."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmall_flink_yb_spark import tuning
    from gmall_flink_yb_spark.streaming import pipelines

    module, fn_name, schema, row, starter = _INGEST_SINKS[sink]
    base = tuning.session_base_partitions(spark)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == base
    seen = []
    real = getattr(module, fn_name)

    def parts(session):
        return int(session.conf.get("spark.sql.shuffle.partitions"))

    def spy(reference, incoming, *args, **kwargs):
        seen.append(
            (
                parts(reference.sparkSession),
                parts(incoming.sparkSession),
                parts(spark),
            )
        )
        return real(reference, incoming, *args, **kwargs)

    monkeypatch.setattr(module, fn_name, spy)
    src = tmp_path / "incoming"
    src.mkdir()
    for i in range(2):  # two files, one availableNow batch each
        f = src / f"{i:02d}.parquet"
        pq.write_table(pa.table(row(i)), f)
        os.utime(f, (1_700_000_000 + i * 10,) * 2)
    stream = pipelines.read_file_stream(
        spark, str(src), schema, max_files_per_trigger=1, glob="*.parquet"
    )
    q = getattr(pipelines, starter)(
        spark,
        stream,
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        index_dir=str(tmp_path / "index"),
        auto_partitions=base + 5,
        **({"dim": 4} if sink == "ann" else {}),
    )
    q.awaitTermination(180)
    assert q.exception() is None
    assert seen == [(base + 5, base + 5, base)] * 2
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == base


def test_spread_file_scan_gates_and_identity(spark, tmp_path):
    """r12 scan-starvation spread: repartitions a big single-file scan to
    defaultParallelism, is a NO-OP (plan unchanged) for non-file frames,
    small files, and already-parallel scans, and never changes rows."""
    import pyspark.sql.functions as F

    from gmall_flink_yb_spark import tuning

    # non-file frame: no-op, same plan object semantics
    local = spark.range(100).withColumn("t", F.lit("x"))
    assert tuning.spread_file_scan(local) is local

    # small file (< SPREAD_SCAN_MIN_BYTES): no-op
    small = str(tmp_path / "small.parquet")
    spark.range(10).write.parquet(small)
    sdf = spark.read.parquet(small)
    assert tuning.spread_file_scan(sdf) is sdf

    # big single-file scan: spread to defaultParallelism, rows identical
    big = str(tmp_path / "big.parquet")
    spark.range(200_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("txt")
    ).coalesce(1).write.parquet(big)
    bdf = spark.read.parquet(big)
    n_before = bdf.rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism
    spread = tuning.spread_file_scan(bdf)
    if n_before < target:
        assert spread is not bdf
        assert spread.rdd.getNumPartitions() == target
    assert sorted(map(tuple, spread.collect())) == sorted(
        map(tuple, bdf.collect())
    )

    # already-parallel layout: no-op (write enough files to cover cores)
    many = str(tmp_path / "many.parquet")
    spark.range(200_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("txt")
    ).repartition(target).write.parquet(many)
    mdf = spark.read.parquet(many)
    if mdf.rdd.getNumPartitions() >= target:
        assert tuning.spread_file_scan(mdf) is mdf

    # non-scan plan over file sources (ADVICE r12): a frame with
    # exchanges/joins must be rejected BEFORE the df.rdd split probe —
    # under AQE that probe eagerly executes the plan's shuffle stages
    # at plan-build time. Projections/filters/aliases stay eligible.
    joined = bdf.join(bdf.select(F.col("id")), "id")
    assert tuning.spread_file_scan(joined) is joined
    agged = bdf.groupBy("txt").count()
    assert tuning.spread_file_scan(agged) is agged
    repart = bdf.repartition(4)
    assert tuning.spread_file_scan(repart) is repart
    projected = bdf.select("id", F.col("txt").alias("t")).filter("id > 10")
    assert tuning._scan_only_plan(projected)
