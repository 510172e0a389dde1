"""Embedding-level incremental near-dup admission: batch operator
(similarity.incremental_cosine_dedup / _indexed) and the streaming ingest
with the persisted SRP band index (start_incremental_ann_stream) — the
vector-space twins of the MinHash incremental dedup family, tested with
the same batch-parity + replay discipline."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from gmall_flink_yb_spark.functions.cacheutil import release_cache
from gmall_flink_yb_spark.functions.similarity import (
    incremental_cosine_dedup,
    incremental_cosine_dedup_indexed,
    srp_band_buckets,
)

DIM = 8

V1 = [1.0, 0.1, 0.0, 0.0, 0.1, 0.0, 0.0, 0.2]
V2 = [0.0, 1.0, 0.2, 0.0, 0.0, 0.3, 0.0, 0.0]
V3 = [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.4, 0.1]
V1_DUP = [1.01, 0.1, 0.001, 0.0, 0.1, 0.0, 0.0, 0.202]  # cos(V1) ~ 1.0
V3_DUP = [0.0, 0.001, 0.0, 0.99, 0.0, 0.0, 0.41, 0.1]   # cos(V3) ~ 1.0

SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def _verdicts(df):
    rows = {r["id"]: r for r in df.collect()}
    release_cache(df)
    return rows


def test_rejects_near_dups_keeps_novel(spark):
    """Incoming near-dup of an admitted vector -> rejected with dup_of;
    novel vector -> kept; within-batch dup -> rejected against the
    smaller-id incoming vector."""
    ex = spark.createDataFrame([(1, V1), (2, V2)], SCHEMA)
    inc = spark.createDataFrame(
        [(10, V1_DUP), (11, V3), (12, V3_DUP)], SCHEMA
    )
    got = _verdicts(
        incremental_cosine_dedup(ex, inc, threshold=0.95, dim=DIM)
    )
    assert set(got) == {10, 11, 12}
    assert got[10]["keep"] == 0 and got[10]["dup_of"] == 1
    assert got[11]["keep"] == 1 and got[11]["dup_of"] is None
    assert got[12]["keep"] == 0 and got[12]["dup_of"] == 11


def test_indexed_matches_rebuild(spark):
    """The precomputed-index path must produce the identical verdict frame
    as the rebuild-from-corpus wrapper (same banding, same plane family)."""
    ex = spark.createDataFrame([(1, V1), (2, V2)], SCHEMA)
    inc = spark.createDataFrame(
        [(10, V1_DUP), (11, V3), (12, V3_DUP)], SCHEMA
    )
    rebuilt = _verdicts(
        incremental_cosine_dedup(ex, inc, threshold=0.95, dim=DIM)
    )
    idx = srp_band_buckets(
        ex.select(
            F.col("vec_id").cast("long").alias("id"),
            F.col("embedding").alias("vec"),
        ),
        dim=DIM,
    )
    verdicts, inc_buckets = incremental_cosine_dedup_indexed(
        idx, inc, threshold=0.95, dim=DIM
    )
    indexed = _verdicts(verdicts)
    assert {
        k: (v["keep"], v["dup_of"]) for k, v in indexed.items()
    } == {k: (v["keep"], v["dup_of"]) for k, v in rebuilt.items()}
    # incoming band rows cover every incoming id, one row per band
    bc = inc_buckets.groupBy("id").count().collect()
    assert {r["id"]: r["count"] for r in bc} == {10: 4, 11: 4, 12: 4}


def test_scaled_vector_is_caught(spark):
    """SRP buckets are sign-based, so a positively-scaled copy of an
    admitted vector lands in the SAME bucket in EVERY band (projection
    signs are scale-invariant) and its cosine is exactly 1.0 — the
    scaled-duplicate case can never slip past the banding, regardless of
    (n_bands, n_planes)."""
    ex = spark.createDataFrame([(1, V1)], SCHEMA)
    scaled = [3.7 * x for x in V1]
    inc = spark.createDataFrame([(10, scaled)], SCHEMA)
    got = _verdicts(
        incremental_cosine_dedup(ex, inc, threshold=0.95, dim=DIM)
    )
    assert got[10]["keep"] == 0 and got[10]["dup_of"] == 1
    assert got[10]["cos_sim"] == 1.0
    # and the band rows agree bucket-for-bucket
    norm = srp_band_buckets(
        spark.createDataFrame([(1, V1)], SCHEMA).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        ),
        dim=DIM,
    )
    sc = srp_band_buckets(
        spark.createDataFrame([(1, scaled)], SCHEMA).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        ),
        dim=DIM,
    )
    b1 = {r["band"]: r["bucket"] for r in norm.collect()}
    b2 = {r["band"]: r["bucket"] for r in sc.collect()}
    assert b1 == b2 and len(b1) == 4


def _drop_batch(spark, tmp_path, src, i, rows):
    stage = tmp_path / f"stage_{i}"
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(stage))
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.rename(stage / part[0], src / f"{i:02d}.parquet")
    os.utime(
        src / f"{i:02d}.parquet",
        (1_700_000_000 + i * 10, 1_700_000_000 + i * 10),
    )


def test_incremental_ann_stream_with_persisted_index(spark, tmp_path):
    """Streaming ingest with index_dir: batch-2 near-dups of batch-1
    vectors are rejected via the PERSISTED index (batch-1 vectors are
    never re-hashed), within-batch dups keep the smallest id, and the
    index holds exactly the admitted ids' band rows."""
    from gmall_flink_yb_spark.streaming.pipelines import (
        read_file_stream,
        start_incremental_ann_stream,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    _drop_batch(spark, tmp_path, src, 0, [(1, V1), (2, V2)])
    _drop_batch(
        spark, tmp_path, src, 1, [(3, V1_DUP), (4, V3), (5, V3_DUP)]
    )
    stream = read_file_stream(
        spark, str(src), SCHEMA, max_files_per_trigger=1, glob="*.parquet"
    )
    q = start_incremental_ann_stream(
        spark,
        stream,
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        threshold=0.95,
        index_dir=str(tmp_path / "index"),
        dim=DIM,
    )
    q.awaitTermination(180)
    admitted = sorted(
        r["vec_id"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    )
    assert admitted == [1, 2, 4]
    idx = spark.read.parquet(str(tmp_path / "index"))
    per_id = {
        r["id"]: r["count"]
        for r in idx.groupBy("id").count().collect()
    }
    assert per_id == {1: 4, 2: 4, 4: 4}  # 4 band rows per ADMITTED vector
    # replay idempotence: a fresh query on the same checkpoint rewrites
    # nothing (no new files -> no new batches)
    q2 = start_incremental_ann_stream(
        spark,
        read_file_stream(
            spark, str(src), SCHEMA, max_files_per_trigger=1,
            glob="*.parquet",
        ),
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        threshold=0.95,
        index_dir=str(tmp_path / "index"),
        dim=DIM,
    )
    q2.awaitTermination(120)
    assert sorted(
        r["vec_id"]
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    ) == [1, 2, 4]

    # the operational corpus<->index invariant holds after the replay...
    from gmall_flink_yb_spark.streaming.pipelines import (
        audit_ingest_consistency,
    )

    audit = audit_ingest_consistency(
        spark,
        str(tmp_path / "corpus"),
        str(tmp_path / "index"),
        corpus_id_col="vec_id",
        index_id_col="id",
    )
    assert audit.count() == 0
    # ...and the auditor actually detects a split partition pair: drop one
    # corpus row's files (simulating a crash between the two writes)
    import shutil

    batch_dirs = [
        d
        for d in os.listdir(tmp_path / "corpus")
        if d.startswith("ingest_batch=")
    ]
    shutil.rmtree(tmp_path / "corpus" / sorted(batch_dirs)[0])
    broken = audit_ingest_consistency(
        spark,
        str(tmp_path / "corpus"),
        str(tmp_path / "index"),
        corpus_id_col="vec_id",
        index_id_col="id",
    ).collect()
    assert broken and all(
        (not r["in_corpus"]) and r["in_index"] for r in broken
    )


def test_auto_n_planes_rule_across_decades(spark):
    """VERDICT r7 #4: the derived P satisfies n_planes >= log2(n) at
    every scale (three+ decades), carries the documented +3 margin, and
    floors at 8 so small corpora keep the historical default exactly."""
    import math

    from gmall_flink_yb_spark.functions.similarity import auto_n_planes

    for n in (10_000, 1_000_000, 100_000_000, 10_000_000_000):
        p = auto_n_planes(n)
        assert p >= math.log2(n)          # the measured rule
        assert p == math.ceil(math.log2(n)) + 3  # the documented margin
    # the measured pass point: 2M joined rows -> P=24 (not 16)
    assert auto_n_planes(2_000_000) == 24
    # small corpora keep the historical default
    for n in (0, 1, 2, 32):
        assert auto_n_planes(n) == 8


def test_auto_n_planes_default_matches_explicit_on_small_corpus(spark):
    """n_planes='auto' (the new default) resolves to 8 below 33 rows, so
    the default-call verdicts are bit-identical to explicit P=8."""
    ex = spark.createDataFrame([(1, V1), (2, V2)], SCHEMA)
    inc = spark.createDataFrame(
        [(10, V1_DUP), (11, V3), (12, V3_DUP)], SCHEMA
    )
    auto = _verdicts(
        incremental_cosine_dedup(ex, inc, threshold=0.95, dim=DIM)
    )
    pinned = _verdicts(
        incremental_cosine_dedup(
            ex, inc, threshold=0.95, n_planes=8, dim=DIM
        )
    )
    assert {k: (v["keep"], v["dup_of"]) for k, v in auto.items()} == {
        k: (v["keep"], v["dup_of"]) for k, v in pinned.items()
    }


def test_auto_n_planes_file_backed_launches_no_job(spark, tmp_path):
    """VERDICT r8 #4: resolving n_planes='auto' over a file-backed frame
    must read parquet footer metadata, not run a count() — asserted by
    action-count patch (the hot_keys test pattern) — and must derive the
    SAME P as the exact count across four decades of corpus size (footer
    row counts are exact for scan+projection plans)."""
    import math

    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from gmall_flink_yb_spark.functions.similarity import (
        _file_backed_rows,
        _resolve_n_planes,
        auto_n_planes,
    )

    # four decades of file-backed counts: footer estimate == exact count
    # (files written small so the test stays cheap; P follows log2(n))
    for n in (10, 100, 1_000, 10_000):
        path = str(tmp_path / f"emb_{n}")
        spark.range(n).selectExpr(
            "id AS vec_id", "array(cast(id as double)) AS embedding"
        ).write.mode("overwrite").parquet(path)
        frame = spark.read.parquet(path).select("vec_id", "embedding")
        assert _file_backed_rows(frame) == n
        assert _resolve_n_planes("auto", frame) == auto_n_planes(n)

    # the no-job assertion: count is never called on a file-backed frame
    frame = spark.read.parquet(str(tmp_path / "emb_10000"))
    actions = []
    orig_count = CDF.count

    def counting_count(self):
        actions.append("count")
        return orig_count(self)

    try:
        CDF.count = counting_count
        p = _resolve_n_planes("auto", frame)
        assert actions == [], "auto-P ran a plan-build count on a file-backed frame"
        # non-file frames still fall back to the exact count
        local = spark.range(50).selectExpr("id AS vec_id")
        assert _resolve_n_planes("auto", local) == auto_n_planes(50)
        assert actions == ["count"]
    finally:
        CDF.count = orig_count
    assert p == auto_n_planes(10_000) == math.ceil(math.log2(10_000)) + 3


def test_file_backed_rows_guards_row_multiplying_plans(spark, tmp_path):
    """Join/Generate plans can multiply rows past the leaf-file total, so
    the footer estimator must refuse them (None -> exact-count fallback);
    row-shrinking transforms (filter) keep the safe upper bound."""
    from pyspark.sql import functions as F

    from gmall_flink_yb_spark.functions.similarity import _file_backed_rows

    path = str(tmp_path / "docs")
    spark.range(100).selectExpr(
        "id", "array(id, id+1, id+2) AS arr"
    ).write.mode("overwrite").parquet(path)
    base = spark.read.parquet(path)

    assert _file_backed_rows(base.join(base.selectExpr("id AS id2"),
                                       F.col("id") == F.col("id2"))) is None
    assert _file_backed_rows(
        base.select(F.explode("arr").alias("x"))
    ) is None
    # filter only shrinks: footer total stays a (safe) upper bound
    assert _file_backed_rows(base.filter("id < 10")) == 100


def test_stored_index_estimate_counts_vectors_not_band_rows(
    spark, tmp_path, monkeypatch
):
    """The indexed form's plan gate sizes a STORED band index in vectors:
    a 4-band index of N vectors holds 4N footer rows, and the gate's index
    estimate must be N."""
    from gmall_flink_yb_spark.functions import similarity

    n = 24
    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) + 0.1 for j in range(DIM)])
         for i in range(n)],
        SCHEMA,
    )
    srp_band_buckets(
        vecs.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        ),
        n_bands=4, n_planes=8, dim=DIM,
    ).write.parquet(str(tmp_path / "index"))
    vecs.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 1000
    ).write.parquet(str(tmp_path / "incoming"))
    index = spark.read.parquet(str(tmp_path / "index"))
    assert index.count() == 4 * n

    real = similarity._vec_rows_estimate
    estimates = []

    def spy(df, *args, **kwargs):
        estimates.append(real(df, *args, **kwargs))
        return estimates[-1]

    monkeypatch.setattr(similarity, "_vec_rows_estimate", spy)
    verdicts, _ = incremental_cosine_dedup_indexed(
        index, spark.read.parquet(str(tmp_path / "incoming")),
        threshold=0.95, n_bands=4, n_planes=8, dim=DIM,
    )
    release_cache(verdicts)
    assert estimates == [3, n]  # incoming, then the index


def test_srp_band_buckets_auto_warns_and_stamps_resolved_p(spark):
    """ADVICE r8: a DIRECT srp_band_buckets(n_planes='auto') call — the
    rows that may feed a persisted index — warns about the on-disk P
    contract and stamps the resolved width as _srp_n_planes; explicit
    ints stay silent (and stamp too, for index writers to record)."""
    import warnings as _w

    from gmall_flink_yb_spark.functions.similarity import (
        auto_n_planes,
        srp_band_buckets,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, vec array<double>"
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = srp_band_buckets(vecs, n_bands=2, n_planes="auto", dim=2)
    assert any("persisted" in str(c.message).lower() for c in caught)
    assert out._srp_n_planes == auto_n_planes(2)

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        pinned = srp_band_buckets(vecs, n_bands=2, n_planes=8, dim=2)
    assert not caught
    assert pinned._srp_n_planes == 8


def test_recommended_n_bands_matches_geometry():
    """The floor-remedy helper (VERDICT r8 #5): B = ceil(ln(1-R)/ln(1-p^P))
    with p = 1 - theta/pi. Checked against the analytic recall it must
    restore, and against the measured reference points (BASELINE.md r9:
    the bench_ann_recall measurements sit on this curve within ~2 pts)."""
    import math

    from gmall_flink_yb_spark.functions.similarity import recommended_n_bands

    def recall(P, B, cos):
        p = 1 - math.acos(cos) / math.pi
        return 1 - (1 - p**P) ** B

    for P in (8, 12, 16, 21, 24):
        for cos_level in (0.95, 0.99):
            for target in (0.9, 0.95):
                B = recommended_n_bands(P, cos_level, target)
                assert recall(P, B, cos_level) >= target
                if B > 1:  # minimal: one band fewer must miss the target
                    assert recall(P, B - 1, cos_level) < target
    # the production anchor: at the 100x-measured derived P=21, holding
    # 0.9 recall at cos 0.95 costs 21 bands — linear index growth vs the
    # quadratic random-pair floor lowering P would re-open
    assert recommended_n_bands(21, 0.95, 0.9) == 21
    # near-identical pairs stay cheap: 0.95 recall at cos 0.99 under P=21
    assert recommended_n_bands(21, 0.99, 0.95) == 7


def test_auto_n_bands_resolves_and_stamps(spark):
    """n_bands="auto" (opt-in) derives B from the RESOLVED P via
    recommended_n_bands, stamps it as _srp_n_bands, and emits exactly B
    distinct bands; the default stays 4 (no silent default flip — the
    ADVICE r8 lesson); an auto-derived B > 32 warns (linear index-storage
    cost — ivf_topk's probe knob is the cheaper lever at loose cosine)."""
    import warnings as _w

    from gmall_flink_yb_spark.functions.similarity import recommended_n_bands

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "id long, vec array<double>",
    )
    want = recommended_n_bands(8, 0.95, 0.9)
    out = srp_band_buckets(vecs, n_bands="auto", n_planes=8, dim=2)
    assert out._srp_n_bands == want
    got_bands = sorted(
        r["band"] for r in out.select("band").distinct().collect()
    )
    assert got_bands == list(range(want))

    # the default is untouched: B=4 unless the caller opts in
    assert srp_band_buckets(vecs, n_planes=8, dim=2)._srp_n_bands == 4

    # a loose cos_level drives B past 32 -> warn, still resolves
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        big = srp_band_buckets(
            vecs, n_bands="auto", n_planes=24, dim=2, cos_level=0.9
        )
    assert big._srp_n_bands == recommended_n_bands(24, 0.9, 0.9) > 32
    assert any("ivf_topk" in str(c.message) for c in caught)


def test_incremental_cosine_dedup_auto_bands_matches_explicit(spark):
    """n_bands="auto" on the in-plan dedup wrapper = explicit B resolved
    at the same (threshold, band_recall) point: identical verdicts, and
    near-dups at the threshold are still caught (precision is exact
    either way; auto only moves the candidate-recall floor)."""
    from gmall_flink_yb_spark.functions.similarity import (
        auto_n_planes,
        recommended_n_bands,
    )

    ex = spark.createDataFrame([(1, V1), (2, V2)], SCHEMA)
    inc = spark.createDataFrame(
        [(10, V1_DUP), (11, V3), (12, V3_DUP)], SCHEMA
    )
    p = auto_n_planes(5)  # both sides' total count, as the wrapper derives
    b = recommended_n_bands(p, 0.95, 0.9)
    auto = _verdicts(
        incremental_cosine_dedup(ex, inc, threshold=0.95, dim=DIM,
                                 n_bands="auto")
    )
    explicit = _verdicts(
        incremental_cosine_dedup(ex, inc, threshold=0.95, dim=DIM,
                                 n_bands=b)
    )
    assert {k: (v["keep"], v["dup_of"]) for k, v in auto.items()} == {
        k: (v["keep"], v["dup_of"]) for k, v in explicit.items()
    }
    assert auto[10]["keep"] == 0 and auto[10]["dup_of"] == 1
    assert auto[12]["keep"] == 0 and auto[12]["dup_of"] == 11


def test_registered_auto_bands_query_mirrors_derived_geometry():
    """The gated ann_auto_bands query and its DuckDB oracle must agree on
    the DERIVED band count through the same pure function — a drift here
    (operator formula vs oracle constant) would shift candidate sets and
    fail the driver's value hash, so pin it structurally too."""
    from gmall_flink_yb_spark.functions.similarity import (
        _resolve_n_bands,
        recommended_n_bands,
    )
    from gmall_flink_yb_spark.queries import (
        _ANN_AB_BANDS,
        _ANN_AB_PLANES,
        _ANN_AB_RECALL,
        _ANN_INC_THRESHOLD,
        SQL_ANN_AUTO_BANDS,
    )

    assert _ANN_AB_BANDS == recommended_n_bands(
        _ANN_AB_PLANES, _ANN_INC_THRESHOLD, _ANN_AB_RECALL
    )
    assert _ANN_AB_BANDS > 4  # the point: auto must BEAT the default here
    assert (
        _resolve_n_bands(
            "auto", _ANN_AB_PLANES, _ANN_INC_THRESHOLD, _ANN_AB_RECALL
        )
        == _ANN_AB_BANDS
    )
    # the oracle carries exactly B band branches per side (bx and bi)
    assert SQL_ANN_AUTO_BANDS.count("AS band") == 2 * _ANN_AB_BANDS


def test_srp_plan_size_constant_in_geometry(spark):
    """VERDICT r9 #1: the SRP hyperplanes ship as ONE broadcast data row
    (_srp_planes_frame), not as inline plan literals — so the plan string
    is constant-size in (B, P, dim). The literal era grew O(B*P*dim):
    10^5-10^6 double literals per query at production shape (dim 768+,
    P 24-30, B ~20), a parse/compile blowup independent of data volume."""
    vecs = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [-0.2] * 8)], "id long, vec array<double>"
    )
    small = srp_band_buckets(vecs, n_bands=2, n_planes=4, dim=8)
    # 96x the plane payload of `small` (16*24*512 vs 2*4*8 doubles)
    big = srp_band_buckets(vecs, n_bands=16, n_planes=24, dim=512)
    p_small = small._jdf.queryExecution().optimizedPlan().toString()
    p_big = big._jdf.queryExecution().optimizedPlan().toString()
    # plan text differs only in a couple of numeric tokens (band count,
    # shift array width) — nothing anywhere near the 780k-char nested
    # literal the old form would have inlined for `big`
    assert len(p_big) < len(p_small) + 2_000
    assert "0.001" not in p_big  # no plane coefficient leaked as literal


def test_build_srp_index_returns_geometry_as_value(spark):
    """ADVICE r9: the _srp_n_planes/_srp_n_bands stamps are Python-object
    attributes that silently vanish on any further transformation
    (.filter/.select returns a new object) — an index writer that
    post-processes the frame loses the on-disk-contract values. The
    explicit builder returns them AS A VALUE, so writers can persist the
    geometry next to the rows no matter what they do to the frame."""
    from gmall_flink_yb_spark.functions.similarity import (
        auto_n_planes,
        build_srp_index,
        recommended_n_bands,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "id long, vec array<double>",
    )
    rows, geo = build_srp_index(
        vecs, n_bands="auto", n_planes="auto", dim=2
    )
    assert geo == {
        "n_planes": auto_n_planes(3),
        "n_bands": recommended_n_bands(auto_n_planes(3), 0.95, 0.9),
        "dim": 2,
    }
    # geometry survives transformations that would strip the stamps
    filtered = rows.filter(F.col("band") == 0)
    assert not hasattr(filtered, "_srp_n_planes")  # the hazard, live
    assert geo["n_planes"] > 0  # ...and the value-form antidote
    # rows are exactly srp_band_buckets output under the same geometry
    explicit = srp_band_buckets(
        vecs, n_bands=geo["n_bands"], n_planes=geo["n_planes"], dim=2
    )
    assert sorted(map(tuple, rows.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_semantic_dedup_broadcast_codebook_plan_is_constant_size(spark):
    """semantic_dedup assigns clusters against ONE Arrow-built broadcast
    codebook row at any k (the r10 SRP-planes lesson applied to
    SemDeDup-scale codebooks): every vector gets a verdict, and no
    per-coordinate literal of the codebook leaks into the plan."""
    from gmall_flink_yb_spark.functions.cacheutil import release_cache
    from gmall_flink_yb_spark.functions.similarity import semantic_dedup

    rows = [
        (i, [float((i * 7 + k) % 13) - 6.0 for k in range(16)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, n_clusters=4, threshold=0.9)
    got = sorted(map(tuple, out.collect()))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    release_cache(out)
    assert [r[0] for r in got] == list(range(40))
    assert plan.count("6.0") < 10


def test_memoized_planes_frame_reuses_exchange(spark):
    """VERDICT r10 #6: the per-(session, geometry) memoization of
    _srp_planes_frame claims the two identical broadcast subtrees (one
    per hashed side of an incremental plan) let Spark reuse the
    exchange. Verify what the planner ACTUALLY does: exchange reuse is
    an AQE RUNTIME decision here, so run the query and read the FINAL
    adaptive plan — it must broadcast the planes relation once and
    ReusedExchange the other occurrences."""
    from gmall_flink_yb_spark.functions.similarity import _PLANES_FRAMES

    _PLANES_FRAMES.clear()
    ex = spark.createDataFrame([(1, V1), (2, V2)], SCHEMA)
    inc = spark.createDataFrame([(10, V1_DUP), (11, V3)], SCHEMA)
    v = incremental_cosine_dedup(
        ex, inc, threshold=0.95, dim=DIM, n_bands=4, n_planes=8
    )
    v.collect()  # materialize: reuse appears only in the final AQE plan
    plan = v._jdf.queryExecution().executedPlan().toString()
    release_cache(v)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange [_srp_" in plan


def test_planes_frame_cache_lru_and_stopped_session_purge(spark):
    """VERDICT r10 #7: the planes-frame cache is LRU (a hit refreshes
    recency, so a burst of new geometries evicts the least-recently-USED
    entry, not the oldest-created hot one) and purges entries whose
    session has been stopped on every call (the r10 FIFO kept them until
    displacement)."""
    from gmall_flink_yb_spark.functions import similarity as sim

    sim._PLANES_FRAMES.clear()
    try:
        f = sim._srp_planes_frame(spark, 2, 4, 8)
        assert sim._srp_planes_frame(spark, 2, 4, 8) is f  # memoized
        # distinct sessions get distinct entries (a frame is bound to
        # the session that created it)
        sibling = spark.newSession()
        assert sim._srp_planes_frame(sibling, 2, 4, 8) is not f

        sim._PLANES_FRAMES.clear()
        f = sim._srp_planes_frame(spark, 2, 4, 8)
        # fill the cache to its bound with other geometries...
        for dim in range(100, 100 + sim._PLANES_FRAMES_MAX - 1):
            sim._srp_planes_frame(spark, 2, 4, dim)
        # ...touch f (now most-recent), then overflow by one: the evictee
        # must be the least-recently-used (dim=100), NOT the hot f
        assert sim._srp_planes_frame(spark, 2, 4, 8) is f
        sim._srp_planes_frame(spark, 2, 4, 999)
        assert (spark, 2, 4, 8) in sim._PLANES_FRAMES
        assert (spark, 2, 4, 100) not in sim._PLANES_FRAMES

        # a stopped session's entries drop on the NEXT call of any
        # geometry, not at LRU displacement
        class _Ctx:
            _jsc = None

        class _Stopped:
            sparkContext = _Ctx()

        dead = _Stopped()
        sim._PLANES_FRAMES[(dead, 2, 4, 8)] = f
        sim._srp_planes_frame(spark, 2, 4, 8)
        assert all(k[0] is not dead for k in sim._PLANES_FRAMES)
    finally:
        sim._PLANES_FRAMES.clear()
