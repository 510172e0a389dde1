"""Similarity search over an embedding column (array<float>).

LLM-data-pipeline surface (no reference counterpart; BASELINE.json north star).

- brute_force_topk      : exact cosine top-k per query — the correctness
                          baseline, executed as distributed blocked matrix
                          multiply (Arrow -> numpy GEMM inside
                          ``applyInPandas``), then a global per-query top-k.
- cosine_near_dup_pairs : all pairs above a cosine threshold (embedding-based
                          near-dup detection) — same blocked-GEMM engine over
                          block pairs (ba <= bb), so each unordered pair is
                          scored exactly once.
- lsh_bucket_topk       : the 100 TB approximate path — sign-random-projection
                          buckets (deterministic hyperplanes), candidates only
                          within matching buckets.

Exact all-pairs cosine is inherently O(n*m) dot products; the scalable way to
run it on Spark is NOT per-pair column expressions (interpreted higher-order
functions, one lambda eval per element — measured ~20x slower) but blocking:
hash-partition rows into NB blocks, replicate each row to its NB block-pairs
via a broadcast join (no shuffle for the replication itself), then one shuffle
on (ba, bb) feeds each block pair to a vectorized numpy GEMM. Shuffle volume
is NB x input (choose NB so a block fits executor memory: ~5-20k rows);
every score stays executor-side — no collect, no driver loop.
"""

from __future__ import annotations

import threading
import warnings
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from gmall_flink_yb_spark.functions.cacheutil import owns_cache


def _norm(vec: Column) -> Column:
    return F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (sequential double
    fold — deterministic, matches DuckDB's list_cosine_similarity on
    DOUBLE[])."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _blocked(df: DataFrame, id_col: str, vec_col: str, n_blocks: int) -> DataFrame:
    """(id, vec, blk): rows hash-assigned to one of n_blocks blocks."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    ).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )


def _round_half_up(x: np.ndarray, digits: int) -> np.ndarray:
    """Match Spark/DuckDB ROUND (half away from zero), not numpy's
    half-to-even."""
    p = 10.0 ** digits
    return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (q_id, n_id, rnk, cos_sim) — rank 1..k by (cosine desc, n_id asc),
    self-matches excluded, cos_sim rounded to 6 dp for cross-engine hashing.

    Execution: the corpus is hash-split into n_blocks; queries are replicated
    to every block (queries are the small side — the mirror of a broadcast
    join); each (corpus-block x all-queries) group runs one numpy GEMM and
    emits only its LOCAL top-k per query, so the final global top-k window
    sees n_blocks*k candidates per query instead of the whole corpus.
    """
    spark = embeddings.sparkSession
    c = _blocked(embeddings, id_col, vec_col, n_blocks).withColumn(
        "side", F.lit(1)
    )
    blocks = spark.range(n_blocks).select(F.col("id").cast("int").alias("blk"))
    q = (
        queries.select(
            F.col(id_col).cast("long").alias("id"),
            _as_double(F.col(vec_col)).alias("vec"),
        )
        .crossJoin(F.broadcast(blocks))
        .withColumn("side", F.lit(0))
    )
    both = c.select("blk", "side", "id", "vec").unionByName(
        q.select("blk", "side", "id", "vec")
    )
    scored = both.groupBy("blk").applyInPandas(
        _make_local_topk(k), "q_id long, n_id long, _cos double"
    )
    return _global_topk(scored, k)


def _make_local_topk(k: int):
    """Per-group scorer: side 0 = queries, side 1 = corpus; emits each
    query's local top-k by (cosine desc, n_id asc), self-matches excluded."""

    def local_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["side"] == 0]
        cs = pdf[pdf["side"] == 1]
        if len(qs) == 0 or len(cs) == 0:
            return pd.DataFrame({"q_id": [], "n_id": [], "_cos": []}).astype(
                {"q_id": "int64", "n_id": "int64", "_cos": "float64"}
            )
        A = np.stack(qs["vec"].to_numpy())
        B = np.stack(cs["vec"].to_numpy())
        S = (A @ B.T) / np.outer(
            np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
        )
        q_ids = qs["id"].to_numpy()
        n_ids = cs["id"].to_numpy()
        out_q, out_n, out_s = [], [], []
        for i, qid in enumerate(q_ids):
            s = S[i].copy()
            s[n_ids == qid] = -np.inf  # exclude self-match
            order = np.lexsort((n_ids, -s))[:k]
            keep = order[np.isfinite(s[order])]
            out_q.extend([qid] * len(keep))
            out_n.extend(n_ids[keep])
            out_s.extend(s[keep])
        return pd.DataFrame(
            {"q_id": out_q, "n_id": out_n, "_cos": out_s}
        ).astype({"q_id": "int64", "n_id": "int64", "_cos": "float64"})

    return local_topk


def _global_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.col("_cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            "n_id",
            "rnk",
            F.round(F.col("_cos"), 6).alias("cos_sim"),
        )
    )


def _auto_block_count(
    n_rows: int, target_block_rows: int, parallelism: int
) -> int:
    """The ``n_blocks="auto"`` derivation of :func:`cosine_near_dup_pairs`,
    pure so the floor is testable at any parallelism (VERDICT r11 #8):

    - memory bound: ``ceil(n / target_block_rows)`` keeps every task's
      score matrix ~``target_block_rows^2`` doubles;
    - parallelism floor (r11): smallest ``k`` with ``k(k+1)/2 >=
      parallelism`` so the block-pair groups can occupy the box even
      when one block would fit in memory, bounded by ``ceil(n / 128)``
      so a tiny corpus is never fragmented into empty-ish groups;
    - clamp [1, 256]: the cap bounds shuffle replication — past
      ~256*target rows exact all-pairs is the wrong tool anyway.
    """
    import math as _math

    mem_blocks = _math.ceil(n_rows / target_block_rows)
    par_blocks = _math.ceil((_math.sqrt(8 * parallelism + 1) - 1) / 2)
    floor = min(par_blocks, max(1, _math.ceil(n_rows / 128)))
    return max(1, min(256, max(mem_blocks, floor)))


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | str = 8,
    target_block_rows: int = 2048,
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine >= threshold — embedding-space
    near-duplicate detection.

    Execution: blocked GEMM over block pairs (ba <= bb). Each row joins the
    broadcast block-pair table twice (as left member, as right member), one
    shuffle on (ba, bb) groups the two member sets, and numpy scores the
    block pair in one matrix multiply. Diagonal blocks score their
    upper-triangular half so every unordered pair is emitted exactly once.
    Work is inherently O(n^2/2) dot products — choose n_blocks so a block
    fits executor memory; only pairs >= threshold leave the executor.

    ``n_blocks="auto"`` (r7): size blocks from the corpus instead of a
    fixed constant — memory bound ``ceil(n / target_block_rows)``,
    PARALLELISM floor (r11), clamp [1, 256]. A fixed 8 is wrong at both
    ends: at 5k vectors it scatters trivial GEMMs over 36 shuffled
    python groups (fan-out dominates), at 500k it builds 62k-row blocks
    whose 4B-entry score matrices blow task memory. The memory bound
    keeps every task's score matrix ~``target_block_rows^2`` doubles
    (32 MB at the default) at any corpus size; the 256-block cap bounds
    the shuffle replication factor — past ~256*target rows the exact
    all-pairs form is the wrong tool (its O(n^2) work, not its plan, is
    the wall) and the LSH/SemDeDup variants take over.

    The parallelism floor (the r11 embedding_near_dup adjudication,
    BASELINE.md): memory-only sizing derives ONE block for any corpus
    under target_block_rows — the whole pair stage then runs as a
    single python group with every other core idle (measured 1.85 s vs
    1.15-1.35 s at 4-16 blocks on the 2000-vector sf0.1 corpus).
    Smaller blocks are always memory-SAFE, and replication (shuffle
    volume = n_blocks x n rows) is trivial exactly when the floor
    binds (small n), so auto also floors n_blocks at the smallest k
    whose k(k+1)/2 block pairs cover the session's default parallelism
    — bounded by ceil(n/128) so a tiny corpus is never fragmented into
    empty-ish groups. At scale the memory bound dominates and the floor
    is inert. Results are identical for ANY n_blocks (every unordered
    pair scored exactly once), so the oracle hash is unaffected.

    The count that drives auto materializes the SAME persisted frame the
    pair stage reads, so no extra lineage execution — just one cheap
    cached count at plan time.
    """
    spark = embeddings.sparkSession
    # persisted: the block-pair replication reads the input twice (left/right
    # member joins); without this the upstream subtree (which may include
    # Python feature-extraction stages) executes twice
    base = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if isinstance(n_blocks, str):
        if n_blocks != "auto":
            raise ValueError(
                f"n_blocks must be an int or 'auto', got {n_blocks!r}"
            )
        n_rows = base.count()  # materializes the persist the pair stage
        # reuses; plan-time scalar, not a collect of data
        n_blocks = _auto_block_count(
            n_rows,
            target_block_rows,
            spark.sparkContext.defaultParallelism,
        )
    e = base.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    bp = spark.createDataFrame(
        [(a, b) for a in range(n_blocks) for b in range(a, n_blocks)],
        "ba int, bb int",
    )
    lhs = e.join(F.broadcast(bp), e["blk"] == bp["ba"]).select(
        "ba", "bb", F.lit(0).alias("side"), "id", "vec"
    )
    # diagonal pairs (ba == bb) reuse the lhs rows as both sides in gemm —
    # shipping a side=1 copy for them would double-shuffle 1/n_blocks of
    # the corpus for nothing
    off_diag = bp.filter(F.col("ba") != F.col("bb"))
    rhs = e.join(F.broadcast(off_diag), e["blk"] == off_diag["bb"]).select(
        "ba", "bb", F.lit(1).alias("side"), "id", "vec"
    )
    both = lhs.unionByName(rhs)
    thr = float(threshold)

    def gemm(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
        )
        L = pdf[pdf["side"] == 0]
        R = L if ba == bb else pdf[pdf["side"] == 1]
        if len(L) == 0 or len(R) == 0:
            return empty
        A = np.stack(L["vec"].to_numpy())
        B = np.stack(R["vec"].to_numpy())
        S = (A @ B.T) / np.outer(
            np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
        )
        if ba == bb:
            ii, jj = np.triu_indices(len(L), k=1)
        else:
            ii, jj = np.meshgrid(
                np.arange(len(L)), np.arange(len(R)), indexing="ij"
            )
            ii, jj = ii.ravel(), jj.ravel()
        cs = _round_half_up(S[ii, jj], 6)
        mask = cs >= thr
        ia = L["id"].to_numpy()[ii[mask]]
        ib = R["id"].to_numpy()[jj[mask]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cos_sim": cs[mask],
            }
        )

    return owns_cache(
        both.groupBy("ba", "bb").applyInPandas(
            gemm, "id_a long, id_b long, cos_sim double"
        ),
        base,  # caller releases via cacheutil.release_cache
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    by clustering the embedding space and searching for near-duplicates ONLY
    within each cluster, so the quadratic pair search is bounded by cluster
    size instead of corpus size.

    Deterministic variant for cross-engine verification: the codebook is the
    ``n_clusters`` lowest-id vectors (fixed, reproducible — no RNG, no
    trained k-means state), and assignment is nearest-centroid by cosine
    with ties broken toward the smallest centroid id.

    Returns one row per input vector: (vec_id, cluster_id, is_dup) where
    is_dup = 1 iff a smaller-id vector in the SAME cluster has
    round(cosine, 6) >= threshold — i.e. the vector would be dropped and the
    smallest-id member of its duplicate group kept.

    Scale design (100 TB):
    - Assignment is NARROW: the codebook is a model parameter (n_clusters
      rows); each row computes its nearest centroid in place — zero
      shuffles, bit-identical to the oracle's sequential-fold cosine. The
      codebook ships as ONE Arrow-built broadcast data row and the argmax
      folds over it with higher-order functions at ANY k (r13): a plan is
      O(1) in k*dim this way, where the former small-k literal fold cost
      ~1.3 s of driver py4j construction per call at k=8, dim=64 — and a
      SemDeDup-scale codebook (k = 10^4..10^5) would grow the plan with a
      PARAMETER instead of the data (the r10 SRP-planes lesson).
    - The pair search shuffles each row on (cluster_id, block-pair), then
      one GEMM per group scores its pairs (same engine as
      ``cosine_near_dup_pairs``). A cluster above ``max_cluster_rows`` is
      re-sharded into ceil(size/cap) hash sub-blocks and scored over ALL
      sub-block pairs — so a pathologically popular cluster (the one
      unbounded memory dimension in the naive per-cluster GEMM) costs
      replication factor n_sub per row instead of an executor OOM, and no
      single task ever materializes more than ~2*cap vectors. Results are
      identical for any cap (every within-cluster pair is still scored
      exactly once) — asserted against the unblocked DuckDB oracle.
    """
    e = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    )
    cent_rows = e.orderBy("id").limit(n_clusters).collect()
    if not cent_rows:
        raise ValueError("semantic_dedup: embeddings input is empty")
    # codebook as ONE broadcast data row at ANY k (r13): the small-k
    # k*dim-literal folded branch cost ~1.3 s of py4j round-trips PER
    # CALL just to construct (the kmeans_clusters profile's twin —
    # driver plan-build, not execution, was the wall) while this plan is
    # O(1) in k*dim. The two paths were pytest-asserted identical since
    # r10 (struct ordering == greatest ordering, same doubles in the
    # same order), so the fold routes here unconditionally now.
    # array_max over structs uses struct ordering = the same
    # (cosine desc, -cid desc -> smallest cid) rule as greatest.
    cents = _one_row_arrow_frame(
        embeddings.sparkSession,
        {
            "_cent_ids": [int(r["id"]) for r in cent_rows],
            "_cent_vecs": [
                list(map(float, r["vec"])) for r in cent_rows
            ],
        },
        "_cent_ids array<long>, "
        "_cent_vecs array<array<double>>",
    )
    best = F.array_max(
        F.transform(
            F.col("_cent_vecs"),
            lambda v, i: F.struct(
                cosine(F.col("vec"), v).alias("c"),
                (
                    -F.element_at(F.col("_cent_ids"), i + 1)
                ).cast("long").alias("nid"),
            ),
        )
    )
    assigned_src = (
        e.crossJoin(F.broadcast(cents))
        .withColumn("cluster_id", -best["nid"])
        .drop("_cent_ids", "_cent_vecs")
    )
    assigned = assigned_src.persist(StorageLevel.MEMORY_AND_DISK)
    thr = float(threshold)
    if max_cluster_rows < 2:
        raise ValueError(
            f"max_cluster_rows must be >= 2, got {max_cluster_rows}"
        )
    # re-shard oversized clusters: n_sub hash blocks per cluster, every
    # (ba <= bb) block pair scored once. n_clusters-row size table ->
    # broadcast; a row lands in n_sub groups (as LEFT of (blk, j>=blk),
    # as RIGHT of (i<blk, blk)), so task memory is bounded by ~2*cap rows
    # regardless of cluster popularity.
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("_csize")
    )
    sub = (
        assigned.join(F.broadcast(sizes), "cluster_id")
        .withColumn(
            "_nsub",
            F.ceil(F.col("_csize") / F.lit(float(max_cluster_rows))).cast(
                "int"
            ),
        )
        .withColumn(
            "_blk", F.pmod(F.xxhash64(F.col("id")), F.col("_nsub")).cast("int")
        )
    )
    lefts = sub.withColumn(
        "_p", F.explode(F.sequence(F.col("_blk"), F.col("_nsub") - 1))
    ).select(
        "cluster_id",
        F.col("_blk").alias("ba"),
        F.col("_p").alias("bb"),
        F.lit(0).alias("side"),
        "id",
        "vec",
    )
    rights = (
        sub.filter(F.col("_blk") > 0)
        .withColumn(
            "_p", F.explode(F.sequence(F.lit(0), F.col("_blk") - 1))
        )
        .select(
            "cluster_id",
            F.col("_p").alias("ba"),
            F.col("_blk").alias("bb"),
            F.lit(1).alias("side"),
            "id",
            "vec",
        )
    )
    both = lefts.unionByName(rights)

    def dups_in_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        _, ba, bb = key
        empty = pd.DataFrame({"id": []}).astype({"id": "int64"})
        L = pdf[pdf["side"] == 0]
        R = L if ba == bb else pdf[pdf["side"] == 1]
        if len(L) == 0 or len(R) == 0 or len(L) + len(R) < 2:
            return empty
        A = np.stack(L["vec"].to_numpy())
        B = A if ba == bb else np.stack(R["vec"].to_numpy())
        S = (A @ B.T) / np.outer(
            np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
        )
        if ba == bb:
            ii, jj = np.triu_indices(len(L), k=1)
        else:
            ii, jj = np.meshgrid(
                np.arange(len(L)), np.arange(len(R)), indexing="ij"
            )
            ii, jj = ii.ravel(), jj.ravel()
        mask = _round_half_up(S[ii, jj], 6) >= thr
        ia = L["id"].to_numpy()[ii[mask]]
        ib = R["id"].to_numpy()[jj[mask]]
        # the LARGER id of a qualifying pair is the dropped duplicate
        return pd.DataFrame({"id": np.unique(np.maximum(ia, ib))}).astype(
            {"id": "int64"}
        )

    dup_ids = (
        both.groupBy("cluster_id", "ba", "bb")
        .applyInPandas(dups_in_block, "id long")
        .dropDuplicates(["id"])
    )
    return owns_cache(
        assigned.join(
            dup_ids.withColumn("is_dup", F.lit(1)), "id", "left"
        )
        .select(
            F.col("id").alias(id_col),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.coalesce(F.col("is_dup"), F.lit(0)).cast("int").alias("is_dup"),
        ),
        assigned,  # caller releases via cacheutil.release_cache
    )


def _srp_plane(p: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1], derived
    from md5 (seed-free, identical on every run/executor)."""
    import hashlib

    out = []
    for j in range(dim):
        h = hashlib.md5(f"srp:{p}:{j}".encode()).digest()
        v = int.from_bytes(h[:8], "big") % 2001 - 1000
        out.append(v / 1000.0)
    return out


def _one_row_arrow_frame(spark, columns: dict, ddl: str) -> DataFrame:
    """One-row DataFrame carrying ``columns`` (each value becomes the
    single row's cell for that column), built via Arrow — no py4j
    per-element conversion, so a 10^5-element codebook or plane family
    crosses in ~0.1 s and doubles cross BIT-EXACTLY. Falls back to the
    plain-list ``createDataFrame`` (same values, py4j-speed) on pyspark
    builds whose ``createDataFrame`` lacks ``pa.Table`` support (ADVICE
    r10: semantic_dedup's codebook path crashed where the planes path
    degraded gracefully — both now share this helper)."""
    import pyarrow as pa

    try:
        return spark.createDataFrame(pa.table({k: [v] for k, v in columns.items()}))
    except Exception:  # pragma: no cover — Arrow-table path absent
        return spark.createDataFrame([tuple(columns.values())], ddl)


def _srp_planes_frame(
    spark, n_bands: int, n_planes: int, dim: int
) -> DataFrame:
    """One-row frame carrying the whole SRP plane family as
    ``_srp_planes: array<array<array<double>>>`` (indexed
    [band][plane][dim], global plane index ``band * n_planes + j``).

    The planes used to ship as inline plan LITERALS — a constant-size
    expression TREE (the r4 higher-order-function fix) but an
    O(B*P*dim) literal PAYLOAD that Catalyst re-parses and re-analyzes
    on every plan: at production shape (dim 768-4096, derived P~24-30,
    auto B~20) that is 10^5-10^6 double literals per query, a
    plan-size/compile blowup that grows with a PARAMETER instead of the
    data (VERDICT r9 #1; ann_auto_bands spent ~5 s of its 6.6 s there).
    Shipping them as one broadcast DATA row instead keeps the plan
    constant-size in (B, P, dim): measured 23.7 s -> 2.1 s on a
    100-vector corpus at B=20 x P=24 x dim=768, identical buckets.

    The row is built via Arrow (no py4j per-element conversion —
    ~0.07 s for 370k doubles); doubles cross Arrow bit-exactly, so
    persisted index values and the DuckDB oracle (whose SQL mirrors the
    same md5-derived planes as {v!r} literals) stay bit-identical.

    Memoized per (session, B, P, dim): the incremental operators hash
    BOTH sides of one plan with the same geometry — returning the SAME
    DataFrame object skips the repeated Arrow-create and keeps the two
    broadcast subtrees identical leaf relations (exchange reuse can
    then apply where Spark's planner matches them; two fresh
    createDataFrame calls are distinct leaves and never can;
    tests/test_ann_incremental.py asserts what the planner actually
    does with the shared leaf). The cache is tiny (planes rows are
    KBs-MBs), LRU-bounded, and purges STOPPED sessions' entries on
    every call (VERDICT r10 #7: the r10 FIFO kept a stopped session's
    frames until displacement, and a 17th distinct geometry evicted
    the oldest HOT entry). Cache mutations hold ``_PLANES_LOCK``
    (ADVICE r11: concurrent purges raced to a KeyError and concurrent
    LRU updates could corrupt the ordering when streams share the
    module); the Arrow build itself runs outside the lock — a racing
    duplicate build just overwrites with an equivalent frame."""
    with _PLANES_LOCK:
        _purge_dead_planes_frames()
        key = (spark, n_bands, n_planes, dim)
        cached = _PLANES_FRAMES.get(key)
        if cached is not None:
            _PLANES_FRAMES.move_to_end(key)  # LRU: refresh on hit
            return cached
    planes = [
        [_srp_plane(b * n_planes + j, dim) for j in range(n_planes)]
        for b in range(n_bands)
    ]
    out = _one_row_arrow_frame(
        spark,
        {"_srp_planes": planes},
        "_srp_planes array<array<array<double>>>",
    )
    with _PLANES_LOCK:
        if len(_PLANES_FRAMES) >= _PLANES_FRAMES_MAX:
            _PLANES_FRAMES.popitem(last=False)  # LRU: drop least-recent
        _PLANES_FRAMES[key] = out
    return out


def _session_alive(spark) -> bool:
    """True while ``spark``'s underlying context is usable. After
    ``SparkSession.stop()`` the SparkContext's ``_jsc`` is None (pyspark
    sets it on stop), which is the cheapest driver-side liveness signal
    that needs no JVM round-trip."""
    try:
        return spark.sparkContext._jsc is not None
    except Exception:
        return False


def _purge_dead_planes_frames() -> None:
    """Drop cached planes frames whose session has been stopped — their
    DataFrames are unusable and the frame's strong reference to its
    session would otherwise pin both until LRU displacement. Callers
    hold ``_PLANES_LOCK``; ``pop(..., None)`` keeps the loop safe even
    if a future caller forgets (ADVICE r11)."""
    dead = [k for k in _PLANES_FRAMES if not _session_alive(k[0])]
    for k in dead:
        _PLANES_FRAMES.pop(k, None)


# LRU of (session, n_bands, n_planes, dim) -> one-row planes frame; see
# _srp_planes_frame's memoization note. An OrderedDict (not a
# WeakKeyDictionary on the session): the cached DataFrame holds a strong
# reference to its session, so weak keying would never collect —
# explicit stopped-session purging is the form that actually releases.
_PLANES_FRAMES: OrderedDict = OrderedDict()
_PLANES_FRAMES_MAX = 16
# serializes cache reads/writes/purges across driver threads (ADVICE
# r11); foreachBatch callbacks of concurrent streams share this module
_PLANES_LOCK = threading.Lock()


def _srp_bucket_from(vec: Column, band_planes: Column, n_planes: int) -> Column:
    """Bucket id from one band's planes COLUMN (an array<array<double>>
    element of ``_srp_planes_frame``): bit j set iff the fold-order dot
    of ``vec`` with plane j is >= 0.

    Arithmetic is unchanged from the literal-plane era — same
    left-to-right fold per plane via transform/zip_with/aggregate, and
    sum(bit_j * 2^j) over disjoint bits equals the old shiftleft/OR —
    so DuckDB oracle SQL and persisted index values are bit-identical
    (equivalence pytest-asserted against the SQL mirror's geometry)."""
    shifts = F.expr(
        "array(" + ",".join(str(1 << j) for j in range(n_planes)) + ")"
    )
    bits = F.transform(
        band_planes,
        lambda p: F.when(_dot(vec, p) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(
        F.zip_with(bits, shifts, lambda b, s: b * s.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def auto_n_planes(n_rows: int, margin: int = 3, floor: int = 8) -> int:
    """SRP band width P derived from the corpus size:
    ``max(floor, ceil(log2(n_rows)) + margin)`` (VERDICT r7 #4).

    The sizing rule (``srp_band_buckets`` docstring, measured in
    BASELINE.md): RANDOM near-orthogonal pairs collide in a P-plane band
    with probability ~2^-P, so candidate volume has a floor of
    B*n^2/2^P pairs even with zero true similarity — P >= log2(n) makes
    that floor ~B*n (linear). The +3 margin divides the random floor a
    further 8x and matches the measured pass point: at 1M vectors per
    side (2M joined rows, log2 = 21) P=24 passes where P=16 dies on the
    predicted ~1.2e8-pair vector-carrying shuffle. The floor of 8
    preserves the small-corpus default exactly (any n <= 32 derives
    P=8), where recall — not the random floor — is the binding concern.
    """
    import math

    return max(floor, math.ceil(math.log2(max(n_rows, 2))) + margin)


def _file_backed_rows(df: DataFrame) -> int | None:
    """Row count for a parquet-file-backed frame from footer metadata —
    driver-side, NO Spark job (VERDICT r8 #4: the exact ``count()`` this
    replaces is a full scan executed before the real query starts; at
    100 TB that is the query run twice).

    Parquet footers carry exact per-file row counts, so for a plan that
    is scan + row-preserving transforms the estimate IS the exact count.
    Returns ``None`` — sending the caller to the exact ``count()``
    fallback — when the frame is not local-parquet-backed or its plan
    can MULTIPLY rows (Join/Generate/Expand nodes), because leaf counts
    then bound nothing. Row-SHRINKING nodes (Filter/Sample/Aggregate)
    are fine: the footer total over-estimates, and over-estimating n
    only raises P — the safe error direction for the 2^-P random-
    collision floor (``auto_n_planes``); ``ceil(log2(n))`` absorbs the
    error unless the filter drops decades of data, in which case the
    caller should pass an int.

    Footer reads are capped (stride-sample + extrapolate past the cap;
    files in one dataset are written at a common target size, and P
    tolerates 2x count error by construction). Implementation lives in
    ``tuning.file_backed_rows``."""
    from gmall_flink_yb_spark.tuning import file_backed_rows

    return file_backed_rows(df)


def recommended_n_bands(
    n_planes: int, cos_level: float = 0.95, target_recall: float = 0.9
) -> int:
    """Band count that restores ``target_recall`` for pairs at
    ``cos_level`` under ``n_planes``-plane bands — the documented remedy
    when the derived P rises with corpus size and banded recall sags
    (VERDICT r8 #5): RAISE BANDS, never lower P (lowering P re-opens the
    B*n^2/2^P random-pair floor the derived banding exists to close,
    quadratic cost; an extra band costs one more linear index copy).

    Geometry: a pair at angle theta collides in one P-plane band with
    probability p^P where p = 1 - theta/pi, so banded recall is
    ``1 - (1 - p^P)^B`` and B = ceil(ln(1-R) / ln(1-p^P)). Reference
    points (measured against planted near-dups in
    tools/bench_ann_recall.py; BASELINE.md round-9): at P=8 / cos 0.95,
    B=4 already gives ~0.89; at P=16 the same recall needs B~16; at P=24,
    B~29 — SRP-LSH's real cost curve at scale, paid linearly in index
    size instead of quadratically in candidate pairs."""
    import math

    p = 1.0 - math.acos(min(max(cos_level, -1.0), 1.0)) / math.pi
    per_band = p ** n_planes
    if per_band >= 1.0:
        return 1
    if per_band <= 0.0:
        raise ValueError("cos_level too low for any band to collide")
    return max(
        1,
        math.ceil(
            math.log(1.0 - target_recall) / math.log(1.0 - per_band)
        ),
    )


def _resolve_n_bands(
    n_bands: int | str,
    n_planes: int,
    cos_level: float,
    target_recall: float,
) -> int:
    """``"auto"`` -> :func:`recommended_n_bands` under the RESOLVED plane
    count — the operator-path form of the r9 recall remedy (BASELINE.md
    round-9: when the corpus-derived P rises and banded recall at the
    caller's cosine level sags, raise bands, never lower P). Ints pass
    through untouched, so the long-standing default B=4 is unchanged for
    every existing caller — auto-banding is an explicit opt-in (the
    ADVICE r8 lesson from flipping n_planes' default: silent default
    changes are persisted-index hazards).

    Warns when the derived B exceeds 32: band rows carry the vector, so
    index storage and the band shuffle grow linearly in B — a B that
    large usually means the caller wants high recall at a LOOSE cosine
    level, where a candidate-generation scheme with a flatter curve
    (``ivf_topk``'s probe knob) is the cheaper tool."""
    if n_bands != "auto":
        return int(n_bands)
    b = recommended_n_bands(n_planes, cos_level, target_recall)
    if b > 32:
        warnings.warn(
            f"n_bands='auto' derived {b} bands (P={n_planes}, "
            f"cos_level={cos_level}, target_recall={target_recall}) — "
            "index storage and band shuffle scale linearly in B; at "
            "loose cosine levels ivf_topk's probe knob is usually the "
            "cheaper recall lever.",
            stacklevel=3,
        )
    return b


def _resolve_n_planes(n_planes: int | str, *frames: DataFrame) -> int:
    """``"auto"`` -> :func:`auto_n_planes` over the frames' total row
    count. File-backed frames are counted from parquet footer metadata
    (:func:`_file_backed_rows` — driver-side, zero Spark jobs); only
    frames the estimator cannot bound (non-file sources, row-multiplying
    plans) pay an exact plan-build ``count()`` (the pre-r9 behavior,
    VERDICT r8 #4 — callers passing such derived frames should persist
    them first or pass an int). Ints pass through untouched (the
    explicit override)."""
    if n_planes != "auto":
        return int(n_planes)
    total = 0
    for f in frames:
        est = _file_backed_rows(f)
        total += est if est is not None else f.count()
    return auto_n_planes(total)


def srp_band_buckets(
    vecs: DataFrame,
    n_bands: int | str = 4,
    n_planes: int | str = "auto",
    dim: int = 64,
    cos_level: float = 0.95,
    target_recall: float = 0.9,
) -> DataFrame:
    """(id, vec, band, bucket) — one row per SRP band of a normalized
    (id, vec) frame; vectors sharing any (band, bucket) are near-dup
    candidates.

    A single P-plane SRP bucket misses near-identical pairs with
    probability 1-(1-theta/pi)^P (~30% at cos 0.99, P=8); B independent
    bands drive the miss rate to (miss_one)^B (~1% at B=4) while keeping
    candidates bucket-local — the recall/cost banding tradeoff as
    MinHash-LSH, tuned by (n_bands, n_planes). Sizing note for large
    corpora: RANDOM (near-orthogonal) pairs collide in a P-plane band
    with probability ~2^-P, so candidate volume has a floor of
    B * n^2 / 2^P pairs even with zero true similarity — keep
    ``n_planes >= log2(n_rows) + margin`` (e.g. 24-32 planes at 10^7-10^9
    rows, bucket stays one long) so the random floor is ~B*n and
    candidates track true-similar density instead of n^2. The vector rides along on
    every band row (xB storage) so candidate verification is join-local —
    no second join against the corpus to fetch vectors; at 100 TB that
    trade buys verify-time shuffle-freedom for B-fold index storage,
    mirroring the sig-in-index layout of the MinHash band index
    (dedup.band_buckets).

    ``n_planes="auto"`` (the default — VERDICT r7 #4) derives P from the
    corpus count via :func:`auto_n_planes`, so the rule above is enforced
    by code at every scale instead of by the caller remembering it; pass
    an int to pin (REQUIRED when building rows for a persisted index —
    the index's P is part of its on-disk contract, see
    ``incremental_cosine_dedup_indexed``). Because this function's output
    IS the index row format, a direct "auto" call warns (ADVICE r8: index
    rows persisted under an auto-derived P never bucket-match vectors
    hashed later under a different auto-derived P — zero matches, no
    error) and the resolved width is stamped on the result as
    ``_srp_n_planes`` so index writers can record it next to the data.
    The in-plan wrappers (``incremental_cosine_dedup``,
    ``lsh_bucket_topk``) resolve P themselves and pass ints, so they
    never trigger the warning.

    ``n_bands="auto"`` (opt-in; the default stays 4) derives the band
    count from the RESOLVED P via :func:`recommended_n_bands` so recall
    at ``cos_level`` holds ``target_recall`` even as the corpus-derived
    P rises with n — the BASELINE.md round-9 remedy, enforced in the
    operator instead of by the caller re-reading the bench notes.
    ``cos_level``/``target_recall`` only matter under auto-banding. Like
    P, the band count is part of a persisted index's on-disk contract
    (the candidate join requires band equality; bands past min(B) never
    match) — the resolved count is stamped as ``_srp_n_bands`` and the
    same pin-an-int rule applies to index writers."""
    if n_planes == "auto":
        warnings.warn(
            "srp_band_buckets(n_planes='auto'): the derived plane count "
            "depends on the corpus size at call time. If these rows feed "
            "a PERSISTED index, pin an explicit int (and store it with "
            "the index) — vectors hashed later under a different derived "
            "P will silently never bucket-match. The resolved width is "
            "on the result as _srp_n_planes.",
            stacklevel=2,
        )
    n_planes = _resolve_n_planes(n_planes, vecs)
    n_bands = _resolve_n_bands(n_bands, n_planes, cos_level, target_recall)
    # planes ride in as ONE broadcast data row (BroadcastNestedLoopJoin
    # against a 1-row side — legal under the no-CartesianProduct plan
    # audit) and bands unroll via sequence/transform, so the plan is
    # constant-size in (B, P, dim) — see _srp_planes_frame (VERDICT r9 #1)
    planes = _srp_planes_frame(vecs.sparkSession, n_bands, n_planes, dim)
    out = (
        vecs.select("id", "vec")
        .crossJoin(F.broadcast(planes))
        .select(
            "id",
            "vec",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bands - 1)),
                    lambda b: F.struct(
                        b.cast("int").alias("band"),
                        _srp_bucket_from(
                            F.col("vec"),
                            F.element_at(F.col("_srp_planes"), b + 1),
                            n_planes,
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        )
        .select(
            "id", "vec", F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )
    out._srp_n_planes = n_planes  # index writers: persist this with the rows
    out._srp_n_bands = n_bands  # same on-disk-contract rule as P
    # NOTE (ADVICE r9): these stamps are Python-object attributes — any
    # further transformation (.filter/.select) returns a NEW object and
    # silently drops them. Read them before transforming, or use
    # build_srp_index, which returns the resolved geometry as a value.
    return out


def build_srp_index(
    vecs: DataFrame,
    n_bands: int | str = 4,
    n_planes: int | str = "auto",
    dim: int = 64,
    cos_level: float = 0.95,
    target_recall: float = 0.9,
) -> tuple[DataFrame, dict]:
    """Index-writer entry point: ``srp_band_buckets`` rows plus the
    RESOLVED geometry as an explicit value —
    ``(rows, {"n_planes": P, "n_bands": B, "dim": dim})``.

    ADVICE r9: the ``_srp_n_planes``/``_srp_n_bands`` stamps on the
    rows frame are Python-object attributes that vanish on any further
    transformation, so a writer that post-processes the frame loses the
    on-disk-contract values with no error. The tuple form cannot be
    lost. Persist the dict next to the index rows: vectors hashed later
    must use the SAME (P, B, dim) or buckets silently never match (see
    ``incremental_cosine_dedup_indexed``). The auto-P warning that a
    bare ``srp_band_buckets(n_planes="auto")`` call emits is suppressed
    here — returning the geometry as a value IS the remedy that warning
    asks for."""
    with warnings.catch_warnings():
        warnings.filterwarnings(
            "ignore", message=r"srp_band_buckets\(n_planes='auto'\).*"
        )
        rows = srp_band_buckets(
            vecs, n_bands, n_planes, dim, cos_level, target_recall
        )
    return rows, {
        "n_planes": rows._srp_n_planes,
        "n_bands": rows._srp_n_bands,
        "dim": dim,
    }


def _vec_rows_estimate(
    df: DataFrame, dim: int, rows_per_vec: int = 1
) -> int | None:
    """Order-of-magnitude vector count for the pair-dedup plan gate:
    parquet footer rows / ``rows_per_vec`` when the plan is
    row-preserving (a stored band index holds one row per band), else
    backing FILE BYTES / (dim * 4) — an on-disk estimate of one
    compressed vector row. Driver-side metadata only, never a job;
    ``None`` when the frame has no file sources (the caller then takes
    the bounded-worst-case plan). The gate's regimes differ by orders of
    magnitude, so byte-estimate slop (compression, derived frames
    re-reading one shared file) cannot flip a non-borderline choice."""
    from gmall_flink_yb_spark.tuning import file_backed_rows, input_file_bytes

    rows = file_backed_rows(df)
    if rows is not None:
        return rows // rows_per_vec
    size = input_file_bytes(df)
    if size is None:
        return None
    return max(1, int(size // max(dim * 4, 64)))


def incremental_cosine_dedup_indexed(
    index_buckets: DataFrame,
    incoming: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    broadcast_incoming: bool = False,
    attach_vectors: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Embedding-level incremental near-dup admission against a
    PRECOMPUTED SRP band index — the vector-space analog of
    ``dedup.incremental_lsh_dedup_indexed``, sharing its contracts:

    ``attach_vectors`` (r12): optional (id, vec) frame covering the
    INDEX side's ids, used to re-attach match vectors to the deduped
    candidate pairs. When the caller holds the raw vector table (the
    in-plan wrapper does), passing it avoids the fallback — a
    dropDuplicates over the per-BAND index rows, i.e. an exchange of
    n_bands x the vector bytes. The fallback stays for callers that
    only hold the banded index (the streaming admission path).

    - ``index_buckets`` is exactly ``srp_band_buckets`` output
      (id, vec, band, bucket) for every already-admitted vector — at
      production scale a checkpointed table appended per ingest, so
      admitted vectors are never re-hashed.
    - verdict per incoming vector: duplicate if its exact cosine with any
      indexed vector, or any SMALLER-id incoming vector, reaches
      ``threshold`` (greedy-by-id within the batch). Returns
      (verdicts(id, keep, dup_of, cos_sim), incoming_buckets); release
      the persisted subtree via ``cacheutil.release_cache`` after both
      are materialized.
    - ``broadcast_incoming=True`` is for the streaming ingest path ONLY
      (micro-batch-sized incoming by contract): the batch's band rows
      broadcast so the index never moves. Batch callers with a
      possibly-corpus-sized incoming side MUST leave it False and let
      AQE decide from runtime sizes (session.py's broadcast policy).

    Candidate verification is the EXACT cosine (rounded to 6 dp, the
    repo-wide float convention) — banding only bounds which pairs get
    scored, so precision is exact and recall is the banded-SRP bound
    documented on ``srp_band_buckets``.

    ``n_planes`` here is an INT by design (no "auto"): the persisted
    index was hashed with a fixed P, incoming vectors must hash with the
    same P or buckets never match — P is part of the index's on-disk
    contract, like the band count. Auto-sizing belongs where both sides
    hash inside one plan (``incremental_cosine_dedup``,
    ``lsh_bucket_topk``, ``srp_band_buckets``).
    """
    vi = incoming.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bi = srp_band_buckets(vi, n_bands, n_planes, dim).withColumn(
        "inc", F.lit(True)
    )
    bx = index_buckets.select("id", "vec", "band", "bucket").withColumn(
        "inc", F.lit(False)
    )
    right = bx.unionByName(bi)
    left = F.broadcast(bi.alias("a")) if broadcast_incoming else bi.alias("a")
    occurrences = left.join(
        right.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (~F.col("b.inc") | (F.col("b.id") < F.col("a.id"))),
    )
    # Two pair-dedup plans, gated DRIVER-SIDE on the band geometry
    # (VERDICT r12 #7). The candidate join emits one row per
    # (pair x colliding band) OCCURRENCE; what should ride through the
    # dropDuplicates exchange depends on how many occurrences the
    # geometry produces:
    #
    # - COLLISION-FLOOR regimes (2^P << n: random pairs band-collide
    #   constantly) explode occurrences far past the corpus size — the
    #   r11 payload form measured a 649 MB exchange from a 0.4 MB input
    #   at sf0.1 under 13 auto bands. There, dedup BARE (id, m_id) pairs
    #   (16 B/occurrence) and re-attach vectors once per DISTINCT pair
    #   with two joins (guide §8 "decide with small rows, move big rows
    #   once"); at scale those joins move the corpus vectors ONCE. The
    #   r12 10x A/B: the P=8 floor stage 12.0 -> 8.5 s.
    # - LOW-COLLISION regimes (2^P >~ n: occurrences ~ true pairs) make
    #   the payload exchange small, and the re-attach joins' two extra
    #   shuffles/broadcasts are pure overhead — measured ~1.0-1.3 s per
    #   stage at 10x (r12's recorded worst-case trade). There the
    #   occurrence rows carry both vectors straight through the dedup.
    #
    # The gate estimates the random floor B * n_inc * n_all / 2^P from
    # parquet footer BYTES (driver-side, no job; ~dim*4 B/row on disk —
    # the regimes differ by orders of magnitude, so 2-4x slop cannot
    # flip a non-borderline choice) and takes the payload form only when
    # the floor stays under ~2x the vector rows the re-attach joins
    # would move. Unknown sizes (non-file frames, e.g. streaming
    # micro-batches) default to the attach form — its overhead is
    # bounded, the payload form's worst case is not. Scoring before the
    # dedup is wrong in EITHER regime: the cosine is an interpreted
    # sequential double fold (DuckDB bit-parity), and paying it per
    # occurrence measured slower than the shuffle it saved. Both forms
    # score once per distinct pair — results are identical.
    n_inc_est = _vec_rows_estimate(incoming, dim)
    # footer rows of a stored index are band rows; the in-plan wrapper's
    # index is a derived frame, estimated from its raw vector files
    n_idx_est = _vec_rows_estimate(index_buckets, dim, rows_per_vec=n_bands)
    use_attach = True
    if n_inc_est is not None and n_idx_est is not None:
        n_all = n_idx_est + n_inc_est
        occ_floor = n_bands * n_inc_est * n_all / float(2**n_planes)
        use_attach = occ_floor > 2.0 * (n_all + n_inc_est)
    if not use_attach:
        cand = (
            occurrences.select(
                F.col("a.id").alias("id"),
                F.col("b.id").alias("m_id"),
                F.col("a.vec").alias("vec_a"),
                F.col("b.vec").alias("vec_b"),
            )
            .dropDuplicates(["id", "m_id"])
        )
    else:
        cand = (
            occurrences
            .select(F.col("a.id").alias("id"), F.col("b.id").alias("m_id"))
            .dropDuplicates(["id", "m_id"])
            .join(vi.select("id", F.col("vec").alias("vec_a")), "id")
        )
        if attach_vectors is not None:
            # caller-held raw vectors: ids are unique by the operator's
            # contract, so no dedup exchange is needed; incoming ids
            # (also valid m_ids for the in-batch greedy order) come
            # from vi
            m_side = attach_vectors.select(
                F.col("id").cast("long").alias("m_id"),
                _as_double(F.col("vec")).alias("vec_b"),
            ).unionByName(
                vi.select(
                    F.col("id").alias("m_id"), F.col("vec").alias("vec_b")
                )
            )
        else:
            # one vec per m_id from the index∪incoming band rows. ids
            # are unique across the two sides by the operator's
            # contract, but a bare dropDuplicates would pick an
            # ARBITRARY side's row if a caller ever violated it (ADVICE
            # r12) — min_by on the inc flag prefers the INDEX side
            # deterministically (band rows of one id within a side all
            # carry the identical vec, so the remaining tie is
            # value-free), making a contract violation degrade
            # predictably instead of nondeterministically.
            m_side = right.groupBy(F.col("id").alias("m_id")).agg(
                F.min_by("vec", F.col("inc").cast("int")).alias("vec_b")
            )
        cand = cand.join(m_side, "m_id")
    cos = F.round(
        _dot(F.col("vec_a"), F.col("vec_b"))
        / (_norm(F.col("vec_a")) * _norm(F.col("vec_b"))),
        6,
    )
    matches = cand.select("id", "m_id", cos.alias("cos")).filter(
        F.col("cos") >= threshold
    )
    w = Window.partitionBy("id").orderBy(
        F.col("cos").desc(), F.col("m_id").asc()
    )
    best = (
        matches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "m_id", "cos")
    )
    verdicts = owns_cache(
        vi.select("id")
        .join(best, "id", "left")
        .select(
            "id",
            F.col("m_id").isNull().cast("int").alias("keep"),
            F.col("m_id").alias("dup_of"),
            F.col("cos").alias("cos_sim"),
        ),
        vi,  # caller releases via cacheutil.release_cache
    )
    return verdicts, bi.drop("inc")


def incremental_cosine_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int | str = 4,
    n_planes: int | str = "auto",
    dim: int = 64,
    broadcast_incoming: bool = False,
    band_recall: float = 0.9,
) -> DataFrame:
    """Wrapper over ``incremental_cosine_dedup_indexed`` that REBUILDS the
    SRP band index from the raw corpus (same plan shape; callers holding
    the persisted index — the streaming ingest — use the indexed form so
    per-batch cost tracks batch size, never corpus size).

    ``n_planes="auto"`` sizes P from BOTH sides' total count (the join's
    random-collision floor is set by the joined corpus size) and is safe
    here precisely because this form hashes both sides inside one plan —
    the INDEXED form pins P to the persisted index's width instead.

    ``n_bands="auto"`` (opt-in; default stays 4) derives B from the
    resolved P so banded recall for pairs AT the dedup ``threshold``
    holds ``band_recall`` as the corpus-derived P rises — the threshold
    is exactly the cosine level where recall matters for this operator,
    so it doubles as auto-banding's cos_level (see
    :func:`recommended_n_bands` and BASELINE.md round-9). Precision is
    unaffected either way (exact-cosine verification)."""
    n_planes = _resolve_n_planes(n_planes, existing, incoming)
    n_bands = _resolve_n_bands(n_bands, n_planes, threshold, band_recall)
    ve = existing.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    )
    bx = srp_band_buckets(ve, n_bands, n_planes, dim)
    verdicts, _bi = incremental_cosine_dedup_indexed(
        bx,
        incoming,
        id_col,
        vec_col,
        threshold=threshold,
        n_bands=n_bands,
        n_planes=n_planes,
        dim=dim,
        broadcast_incoming=broadcast_incoming,
        # this wrapper holds the raw existing-side vectors — re-attach
        # from them instead of deduping the per-band index rows (r12)
        attach_vectors=ve,
    )
    return verdicts


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path beside
    SRP-LSH, with a tunable recall/cost knob (n_probe).

    1. Coarse quantizer: n_centroids corpus vectors chosen deterministically
       (smallest xxhash64(id) — a uniform sample, no RNG state). The centroid
       matrix is a MODEL PARAMETER (n_centroids x dim floats), collected to
       the driver and shipped in the task closure — same pattern as the SRP
       hyperplane literals; the corpus itself never leaves the executors.
    2. Assignment: every corpus vector lands in its nearest-centroid cell
       (one numpy GEMM per Arrow batch inside mapInPandas).
    3. Probing: every query is replicated to its n_probe nearest cells, and
       each cell scores its queries against only its own members
       (applyInPandas GEMM + local top-k), then a global top-k window merges.

    Scored candidates per query ~= n_probe/n_centroids of the corpus.
    n_probe = n_centroids degrades gracefully to exact brute force (the
    recall test asserts exactly this). At 100 TB, cells are the partition
    unit: the shuffle moves each corpus row once and each query n_probe
    times — queries are the small side.
    """
    e = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    )
    cent_rows = (
        e.orderBy(F.xxhash64(F.col("id").cast("string"))).limit(n_centroids)
    ).collect()
    C = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in cent_rows])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["vec"].to_numpy())
            norms = np.linalg.norm(A, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            cell = np.argmax((A / norms) @ Cn.T, axis=1)
            out = pdf[["id", "vec"]].copy()
            out["cell"] = cell.astype("int32")
            yield out

    def probe(batches):
        p = min(n_probe, len(Cn))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["vec"].to_numpy())
            norms = np.linalg.norm(A, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            S = (A / norms) @ Cn.T
            cells = np.argsort(-S, axis=1)[:, :p]
            out = pdf[["id", "vec"]].iloc[
                np.repeat(np.arange(len(pdf)), p)
            ].copy()
            out["cell"] = cells.ravel().astype("int32")
            yield out

    cell_schema = "id long, vec array<double>, cell int"
    corpus_cells = e.mapInPandas(assign, cell_schema).withColumn(
        "side", F.lit(1)
    )
    q = queries.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    )
    query_probes = q.mapInPandas(probe, cell_schema).withColumn(
        "side", F.lit(0)
    )
    both = corpus_cells.unionByName(query_probes).withColumnRenamed(
        "cell", "blk"
    )
    scored = (
        both.groupBy("blk")
        .applyInPandas(_make_local_topk(k), "q_id long, n_id long, _cos double")
        # a (query, neighbor) pair can surface from several probed cells? No:
        # each corpus row lives in exactly one cell, so pairs are unique.
    )
    return _global_topk(scored, k)


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int | str = "auto",
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's SRP bucket.

    Scale path: both sides shuffle once on bucket_id; within-bucket scoring is
    the same exact cosine. Recall < 1.0 by design (approximate) — rows-only
    correctness check, benched for speed. ``n_planes="auto"`` sizes P
    from the CORPUS side's count (:func:`auto_n_planes`); queries hash
    with the same resolved P inside this one plan.
    """
    n_planes = _resolve_n_planes(n_planes, embeddings)
    # single-band plane family (band 0 = global planes 0..P-1, the same
    # family the literal-era _srp_bucket used) shipped as broadcast data,
    # not plan literals — see _srp_planes_frame (VERDICT r9 #1)
    planes = _srp_planes_frame(embeddings.sparkSession, 1, n_planes, dim)
    band0 = F.element_at(F.col("_srp_planes"), 1)
    c = (
        embeddings.select(
            F.col(id_col).alias("n_id"), _as_double(F.col(vec_col)).alias("n_vec")
        )
        .crossJoin(F.broadcast(planes))
        .withColumn("bucket", _srp_bucket_from(F.col("n_vec"), band0, n_planes))
        .drop("_srp_planes")
        .withColumn("n_norm", _norm(F.col("n_vec")))
    )
    q = (
        queries.select(
            F.col(id_col).alias("q_id"), _as_double(F.col(vec_col)).alias("q_vec")
        )
        .crossJoin(F.broadcast(planes))
        .withColumn("bucket", _srp_bucket_from(F.col("q_vec"), band0, n_planes))
        .drop("_srp_planes")
        .withColumn("q_norm", _norm(F.col("q_vec")))
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            (
                _dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_norm") * F.col("n_norm"))
            ).alias("_cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "rnk", F.round("_cos", 6).alias("cos_sim"))
    )


def label_centroid_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    centroid_dp: int = 12,
) -> DataFrame:
    """Per-label outlier mining: build each label's centroid, score every
    member by cosine against its OWN centroid, and keep the ``k`` least
    similar per label — the standard label-noise / mislabeled-example
    sweep over an embedded dataset.

    Determinism contract (the oracle hashes values): per-dimension sums run
    in DECIMAL (exact, order-invariant — a distributed double sum is
    partition-order dependent), the mean divides two exact numbers in
    double, and the centroid coordinate rounds to ``centroid_dp`` before
    any cosine — the same trajectory-rounding convention as the k-means
    loop (clustering.py), so Spark and DuckDB fold identical doubles.

    Scale shape (100 TB): the centroid build is one posexplode + groupBy
    (label, dim) with map-side partial aggregation — dims x labels output
    rows; centroids regroup to label-sized arrays and broadcast back into
    the scoring pass, which is a narrow per-row fold; the only other
    shuffle is the per-label top-k window over label-partitioned data.
    """
    e = df.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
        F.col(label_col).alias("lbl"),
    )
    per_dim = (
        e.select("lbl", F.posexplode("vec").alias("pos", "x"))
        .groupBy("lbl", "pos")
        .agg(
            F.sum(F.col("x").cast(DecimalType(28, 12))).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "lbl",
            "pos",
            F.round(
                F.col("s").cast("double") / F.col("n"), centroid_dp
            ).alias("c"),
        )
    )
    centroids = per_dim.groupBy("lbl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )
    scored = e.join(F.broadcast(centroids), "lbl").select(
        "lbl", "id", cosine(F.col("vec"), F.col("cv")).alias("_cos")
    )
    w = Window.partitionBy("lbl").orderBy(F.col("_cos").asc(), F.col("id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("lbl").alias("label"),
            F.col("id").alias("vec_id"),
            "rnk",
            F.round("_cos", 6).alias("centroid_cos"),
        )
    )
