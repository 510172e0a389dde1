"""Deduplication operators for the LLM-data-pipeline surface.

Four tiers, all distributed (no driver-side loops, no collect):
- exact_dedup         : md5-fingerprint groupBy — one shuffle on the hash.
- ngram_jaccard_pairs : word-set Jaccard via inverted-index self-join —
                        shuffle on token, then on pair; fully SQL-expressible
                        so it is oracle-checked.
- minhash_lsh_pairs   : MinHash signatures (xxhash64 family) + LSH banding —
                        the 100 TB-scale path: candidate generation touches
                        only docs sharing a band bucket, never all pairs.
- simhash_pairs       : 64-bit SimHash + same-bucket candidate pairing by
                        16-bit chunks (hamming <= 3 guaranteed recall via
                        4-chunk pigeonhole).

MinHash/SimHash hash with Spark's xxhash64 by default (fastest JVM path);
passing ``portable=True`` switches to a 60-bit md5-derived hash
(``conv(substr(md5(x),1,15),16,10)``) that is bit-identical in DuckDB
(``('0x'||substr(md5(x),1,15))::BIGINT``), making both operators fully
oracle-checkable. The portable hash costs one md5 per (shingle, family
member) instead of two xxhash64 per shingle — use it for verification, the
default for production throughput.
"""

from __future__ import annotations

import uuid

from pyspark import StorageLevel
from gmall_flink_yb_spark.functions.cacheutil import (
    RDDCacheHandle,
    carry_cache,
    owns_cache,
    release_cache,
)
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_yb_spark.functions.text import doc_fingerprint
from gmall_flink_yb_spark.operators.keywords import tokenize


def _truncate_lineage(
    df: DataFrame, eager: bool = True
) -> tuple[DataFrame, "RDDCacheHandle | None"]:
    """Materialize ``df`` and truncate its lineage, durably when possible.

    ``eager=False`` (localCheckpoint path only) marks the plan for
    checkpointing without launching the materializing job: the CALLER's
    next action over the returned frame computes, persists, and truncates
    in ONE job instead of two (guide §1.2's "don't compute things twice"
    applied to driver round-trips — measured one saved job per loop round
    in the CC family). Only safe when that next action (a) runs before
    any previous round's blocks are freed and (b) touches every
    partition (an agg/broadcast does; a take(1) would leave the fill-in
    to ``doCheckpoint``'s backfill job, losing the saving). The reliable-
    checkpoint path stays eager: ``checkpoint(eager=False)`` would write
    files only when consumed, but the persist-then-write dance below
    needs the blocks materialized to avoid a double compute.

    Returns ``(truncated_df, handle)`` where ``handle`` releases the
    localCheckpoint blocks backing the result (None on the reliable-
    checkpoint path, whose files live on the checkpoint dir, not the block
    manager). The id is read off the checkpointed plan's own LogicalRDD —
    NOT a context-wide pinned-RDD diff — so concurrent queries persisting
    frames on the shared context can never be tagged onto (and later
    force-unpersisted by) this loop's release path (ADVICE r5, medium).
    Freeing the handle makes the frame NON-RECOMPUTABLE (the lineage was
    truncated), so it must only fire after every consumer is done.

    ``localCheckpoint`` stores blocks on executors only — an executor loss
    mid-loop kills an iterative job on a real cluster. When the context has
    a checkpoint dir configured (``sc.setCheckpointDir`` — HDFS/S3 on a
    cluster), use a reliable ``checkpoint`` instead so the loop survives
    executor loss at 100 TB; single-JVM local mode keeps the cheaper
    executor-local form.

    The reliable path persists first: ``checkpoint(eager=True)`` on an
    uncached frame computes the plan twice (once for the eager action,
    again when the checkpoint files are written); caching makes the write
    pass read blocks instead. Reliable checkpoint files accumulate one
    snapshot per round — long loops on a cluster should launch with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a context
    conf, so it cannot be flipped here mid-run) so out-of-scope rounds are
    garbage-collected.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        out = cached.checkpoint(eager=True)
        cached.unpersist()
        return out, None
    out = df.localCheckpoint(eager=eager)
    handle = None
    try:
        # the checkpointed plan is a LogicalRDD wrapping exactly the RDD
        # whose blocks localCheckpoint pinned
        rid = out._jdf.queryExecution().analyzed().rdd().id()
        handle = RDDCacheHandle(sc, int(rid))
    except Exception:
        pass  # plan-shape drift across Spark versions: leak-on-release
        # beats force-unpersisting a wrong id
    return out, handle


def _enter_loop_session(src: DataFrame, tag: str) -> tuple[SparkSession, DataFrame, str]:
    """Move ``src`` into a FRESH session (shared SparkContext, shared cache
    and checkpoint state, independent runtime conf) and disable AQE there.

    Iterative loops run many tiny, explicitly-partitioned stages; AQE's
    per-stage re-planning round-trip is pure latency for them (measured 3x
    wall-clock at sf0.1). Flipping ``spark.sql.adaptive.enabled`` on the
    CALLER's session would affect every concurrent query on a shared
    session — scoping the toggle to a private session keeps the loop fast
    without touching anyone else's plans. Returns (loop_session,
    src-rebound-into-it, global-temp-view-name to drop on exit).
    """
    from gmall_flink_yb_spark.sources.readers import _ensure_read_confs

    caller = src.sparkSession
    loop = caller.newSession()
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    # if the cache were ever evicted, a re-scan from the loop session must
    # read parquet with the same timestamp confs as the caller
    _ensure_read_confs(loop)
    name = f"_loop_{tag}_{uuid.uuid4().hex}"
    src.createOrReplaceGlobalTempView(name)
    return loop, loop.table(f"global_temp.{name}"), name


def _exit_loop_session(result: DataFrame, caller: SparkSession) -> DataFrame:
    """Re-bind the loop session's result DataFrame to the caller's session
    (analysis is eager, so the view can be dropped immediately)."""
    name = f"_loop_out_{uuid.uuid4().hex}"
    result.createOrReplaceGlobalTempView(name)
    rebound = caller.table(f"global_temp.{name}")
    caller.catalog.dropGlobalTempView(name)
    return rebound


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-text fingerprint.

    Returns (fingerprint, keep_id, dup_count). One hash shuffle on the
    16-byte fingerprint — at 100 TB this is the cheapest possible exact dedup
    (shuffles hashes, not documents).
    """
    return (
        df.select(
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).cast("long").alias("doc_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Word n-gram (shingle) Jaccard near-dup pairs via inverted index.

    shingles -> (shingle, doc) inverted index -> self-join on shingle ->
    per-pair intersection count -> |A∪B| = |A|+|B|-∩ -> filter jaccard >=
    threshold. Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard
    rounded to 6 dp.

    Shingles (not single words) keep the inverted index sparse: a shared
    n-gram is rare unless documents genuinely overlap, so the shuffle carries
    ~(true near-dup pairs), not (every pair sharing a stopword). Residual hot
    shingles (boilerplate) are the skew risk at 100 TB — df-cut them or
    switch to minhash_lsh_pairs. This exact variant is the correctness
    oracle.
    """
    # persisted: read 3x (sizes + both join sides); at production scale this
    # inverted index would be checkpointed to a table. Narrow form: the
    # consumers re-key by token, so the doc_id-window formulation's
    # exchange+sort would be dead weight (see shingle_rows_narrow).
    toks = shingle_rows_narrow(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        inter.join(sa, F.col("id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sa.set_size") + F.col("sb.set_size") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return owns_cache(out, toks)


def _jaccard_prefix_candidates(toks: DataFrame, threshold: float) -> DataFrame:
    """Candidate (id_a, id_b, size_a, size_b) pairs whose PREFIXES intersect
    AND survive the PPJoin positional filter — the skew-bounded core of
    ``jaccard_prefix_pairs``, factored out so the hot-shingle property (a
    boilerplate shingle shared by every doc ranks last and never generates
    candidates) is directly testable.

    Positional filter (Xiao et al., PPJoin 2008, generalized to the
    set-aggregate form): under the canonical order, every common token NOT
    matched inside both prefixes must rank after the LAST prefix match (a
    lower-ranked common token would sit inside both prefixes and be a
    match itself). So with cnt prefix matches whose max ranks are (la, lb),
    overlap(A,B) <= cnt + min(|A| - la, |B| - lb); J >= t needs overlap >=
    ceil(t/(1+t) * (|A|+|B|)). Pairs failing the bound are pruned BEFORE
    the expensive full-set verification join — recall-lossless, so the
    DuckDB oracle (plain exact Jaccard) still matches. This keeps the
    candidate count tracking the true-pair count instead of corpus
    structure (the >10x slope at 100x in round 3's stress run).

    All prunes derive from ``t_eff = threshold - 5e-7`` rather than the
    raw threshold: the verification filter accepts ``round(J, 6) >=
    threshold``, i.e. true J as low as threshold - 5e-7, and the FP
    evaluation of ceil(t/(1+t)*(|A|+|B|)) can land one above the exact
    bound at integer boundaries. The epsilon (half the rounding quantum,
    orders of magnitude above double error at any realistic |A|+|B|)
    makes every prune strictly weaker than the rounded verify filter —
    the recall-lossless guarantee survives rounding ties."""
    # global df via hash aggregate + join, NOT a count-over-window: the
    # window formulation full-sorts every shingle row by token, while the
    # aggregate does map-side partial counting and only shuffles unique
    # tokens (measured ~2x faster on the prefix build at sf0.1)
    dfs = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "token")
    # same partition+order spec => rnk and set_size share one sort/WindowExec
    w_doc_all = w_doc.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        toks.join(dfs, "token")
        .withColumn("set_size", F.count(F.lit(1)).over(w_doc_all))
        .withColumn("rnk", F.row_number().over(w_doc))
    )
    t_eff = threshold - 5e-7  # see docstring: prune strictly weaker than
    # the round(J,6) >= threshold verification filter
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(t_eff) * F.col("set_size"))
        + F.lit(1)
    )
    prefix = ranked.filter(F.col("rnk") <= prefix_len).select(
        "doc_id", "token", "set_size", "rnk"
    )
    # overlap requirement: J >= t  <=>  inter >= t/(1+t) * (|A|+|B|)
    alpha = F.ceil(
        F.lit(t_eff)
        / F.lit(1.0 + t_eff)
        * (F.col("size_a") + F.col("size_b"))
    )
    # Candidate generation via groupBy(token) + in-group pair expansion,
    # NOT a prefix-vs-prefix self-join (r12 optimization). The self-join
    # form planned the ENTIRE ranked-prefix subtree (toks ⋈ df + the
    # ranking window) twice — AQE never reused the exchanges across the
    # join's two sides (0 ReusedExchange in the executed plan,
    # plans/r12/dedup_jaccard_prefix_before.txt), so candidate generation
    # paid 2x the prefix-build cost at any scale. Grouping each token's
    # prefix postings into one sorted array and expanding (i < j) pairs
    # with a codegen'd explode visits the same (token, pair) set exactly
    # once per shared prefix token — the downstream (pair) aggregate and
    # positional filter are unchanged, so the output is provably
    # identical (test_jaccard_prefix_equals_exact; oracle unchanged).
    # Skew bound is the join's own: a token with d prefix postings makes
    # d(d-1)/2 pair rows either way, colocated on the token's partition
    # in both forms, and the PPJoin prefix property keeps d small (hot
    # boilerplate ranks last and never enters a prefix —
    # test_hot_shingle_generates_no_prefix_candidates).
    # array_sort on (doc_id, set_size, rnk) structs orders by doc_id
    # (unique within a token group), so j > i gives id_a < id_b for free.
    grouped = (
        prefix.groupBy("token")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "set_size", "rnk"))
            ).alias("_ms")
        )
        .filter(F.size("_ms") >= 2)
    )
    # Two-stage explode (r13, ADVICE r12 — same shape as winnow): the
    # r12 form flattened the whole d(d-1)/2 pair array of a token group
    # into ONE row before exploding; the PPJoin prefix property keeps d
    # small in practice, but a pathological token with a large prefix
    # posting list still built its full pair array in a single row.
    # posexplode to (i, a) rows, then explode each row's tail slice
    # _ms[i+2..] and row-filter the J>=t size-ratio prune
    # (min(|A|,|B|) >= t*max(|A|,|B|)) — the same pair multiset reaches
    # the same aggregate (results identical; the prune moved from
    # inside the array expansion to a streamed codegen'd row filter),
    # but per-row state is O(d) instead of O(d^2). Both Generates are
    # narrow — exchange count is unchanged.
    return (
        grouped.select("_ms", F.posexplode("_ms").alias("_i", "_a"))
        .select(
            "_a",
            F.explode(
                F.slice(F.col("_ms"), F.col("_i") + F.lit(2), F.size("_ms"))
            ).alias("_b"),
        )
        .filter(
            (F.col("_a.set_size") >= F.lit(t_eff) * F.col("_b.set_size"))
            & (F.col("_b.set_size") >= F.lit(t_eff) * F.col("_a.set_size"))
        )
        .select(
            F.col("_a.doc_id").alias("id_a"),
            F.col("_b.doc_id").alias("id_b"),
            F.col("_a.set_size").alias("size_a"),
            F.col("_b.set_size").alias("size_b"),
            F.col("_a.rnk").alias("_ra"),
            F.col("_b.rnk").alias("_rb"),
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(
            F.count(F.lit(1)).alias("_pref_inter"),
            F.max(F.col("_ra")).alias("_la"),
            F.max(F.col("_rb")).alias("_lb"),
        )
        .filter(
            F.col("_pref_inter")
            + F.least(
                F.col("size_a") - F.col("_la"),
                F.col("size_b") - F.col("_lb"),
            )
            >= alpha
        )
        .select("id_a", "id_b", "size_a", "size_b")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
    verify_array_cap: int = 250_000,
) -> DataFrame:
    """Prefix-filtered exact Jaccard pairs (SSJoin/PPJoin prefix filter).

    Same output as ``ngram_jaccard_pairs`` — (id_a, id_b, jaccard) with
    jaccard >= threshold — but the inverted-index self-join runs only over
    each doc's PREFIX: its ``|A| - ceil(t*|A|) + 1`` globally-rarest
    shingles under the canonical order (document frequency asc, shingle).
    Any pair with J >= t overlaps in at least ``ceil(t*max(|A|,|B|))``
    shingles, so their prefixes must intersect (Chaudhuri et al., SSJoin
    2006; Xiao et al., PPJoin 2008) — recall stays exact while hot
    boilerplate shingles (high df, ranked last) drop out of candidate
    generation entirely. A size-ratio filter (``t*|B| <= |A|`` both ways)
    prunes further before the pair shuffle. Candidates are then verified
    with an exact intersection count over the FULL shingle sets.

    This is the 100 TB answer to ngram_jaccard_pairs' hot-shingle skew:
    the candidate join's fan-out is bounded by the rare tail of the df
    distribution instead of the head. Cost: one extra shuffle to attach
    global df (window over token). Verified equal to the exact variant by
    test and by the driver's DuckDB oracle (same SQL as dedup_jaccard).
    """
    # tier-1 mega-doc gate probe (see below), launched on a DRIVER THREAD
    # before the candidate plan is built (r13, VERDICT #9): the probe is
    # a ~0.2 s blocking 1-task job per call and the candidate tree costs
    # a comparable stretch of py4j construction — overlapping them takes
    # the probe off the operator's critical path (guide §2.6 "overlap
    # independent jobs"); the join() below keeps the gate decision
    # exactly where it was.
    import threading

    probe_out: dict = {}

    def _probe_max_len() -> None:
        try:
            probe_out["max_len"] = df.select(
                F.max(F.length(F.col(text_col).cast("string"))).alias("_ml")
            ).first()["_ml"]
        except BaseException as e:  # re-raised on the main thread
            probe_out["error"] = e

    probe_t = threading.Thread(target=_probe_max_len, daemon=True)
    probe_t.start()
    # joined on every exit, so a raise while building the plan never
    # orphans the probe thread
    try:
        # narrow form: candidates group by token, verification by
        # doc_id — neither consumes a doc_id pre-partitioning (see
        # shingle_rows_narrow)
        toks = shingle_rows_narrow(df, id_col, text_col, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        cand = _jaccard_prefix_candidates(toks, threshold)
    finally:
        probe_t.join()
    # verification via materialized shingle SETS + array_intersect, not a
    # row-level join: the row form expanded every candidate to |A| rows,
    # joined, and re-aggregated (two shuffles of candidate x shingle
    # rows); this form aggregates each doc's distinct shingles once into
    # an array (bounded by doc length) and scores each candidate pair in
    # one codegen'd intersect — measured 20-35% faster at a 150k-doc
    # corpus with identical output (counts are exact either way).
    #
    # Mega-document bound (VERDICT r04 #3): one pathological doc with tens
    # of millions of shingles would otherwise make a single unbounded
    # array row. Docs over ``verify_array_cap`` distinct shingles are
    # excluded from array materialization BEFORE collect_list (so the
    # giant array never exists) and their candidate pairs are verified by
    # the row-level join fallback instead — exact either way.
    #
    # Cost structure (VERDICT r05 #2): the cap machinery is NOT free — the
    # r5 always-on form (extra per-doc count + join before collect_list +
    # the union with the row-join branch) cost +53% at sf0.1 even though
    # no doc came near the cap. The over-cap plan is therefore GATED at
    # plan time, in two tiers so the normal case never touches the
    # shingle subtree before the main job:
    #   1. necessary condition on the RAW frame: a doc with more than
    #      ``cap`` DISTINCT shingles has more than ``cap`` tokens, and
    #      every token costs >= 1 char + 1 separator, so its text is at
    #      least ``2*cap - 1`` chars. One codegen'd max(length(text))
    #      over the input (no explode, no window — at sf0.1 ~50 ms, and
    #      at any scale a single narrow column agg) clears every normal
    #      corpus. The r5 gate ran the exact probe below unconditionally,
    #      which shingles + aggregates the whole corpus as a separate
    #      blocking job: measured ~+1.1 s at sf0.1 — most of the
    #      regression the gate was meant to remove.
    #   2. only if tier 1 fires: the exact per-doc shingle count
    #      (``sizes``, one row per doc) answers "does any doc actually
    #      exceed the cap?" with a take(1).
    # In the no-mega-doc case the verification plan is byte-identical to
    # the uncapped r4 form (docsets straight off ``toks``, no cap filter,
    # no union, no extra jobs).
    if "error" in probe_out:
        raise probe_out["error"]
    max_len = probe_out["max_len"]
    sizes = None
    has_big = False
    if max_len is not None and max_len >= 2 * verify_array_cap - 1:
        sizes = (
            toks.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_sz"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        has_big = bool(
            sizes.filter(F.col("_sz") > verify_array_cap).take(1)
        )

    def _array_verify(c: DataFrame, dsets: DataFrame) -> DataFrame:
        return (
            c.join(
                dsets.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("_toks").alias("_ta"),
                ),
                "id_a",
            )
            .join(
                dsets.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("_toks").alias("_tb"),
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                "size_a",
                "size_b",
                F.size(F.array_intersect("_ta", "_tb")).alias("inter"),
            )
        )

    if not has_big:
        docsets = toks.groupBy("doc_id").agg(
            F.collect_list("token").alias("_toks")
        )
        inter = _array_verify(cand, docsets)
    else:
        small_ids = sizes.filter(
            F.col("_sz") <= verify_array_cap
        ).select("doc_id")
        docsets = (
            toks.join(small_ids, "doc_id")
            .groupBy("doc_id")
            .agg(F.collect_list("token").alias("_toks"))
        )
        cap_ok = (F.col("size_a") <= verify_array_cap) & (
            F.col("size_b") <= verify_array_cap
        )
        # row-join fallback for pairs touching an over-cap doc: expand the
        # candidate to its a-side shingle rows, inner-join the b-side rows
        # on (id_b, token), count matches — never materializes a whole doc
        # in one row, at the cost of the two extra shuffles the array form
        # avoids.
        inter_big = (
            cand.filter(~cap_ok)
            .join(
                toks.select(F.col("doc_id").alias("id_a"), "token"), "id_a"
            )
            .join(
                toks.select(F.col("doc_id").alias("id_b"), "token"),
                ["id_b", "token"],
            )
            .groupBy("id_a", "id_b", "size_a", "size_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        inter = _array_verify(cand.filter(cap_ok), docsets).unionByName(
            inter_big
        )
    return owns_cache(
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold),
        # caller releases via cacheutil.release_cache; sizes only exists
        # when the tier-1 length gate fired
        *([toks, sizes] if sizes is not None else [toks]),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingle_rows_narrow(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Distinct (doc_id, token) word n-gram shingle rows with ZERO
    exchanges — the r12 formulation for consumers that re-key the rows
    anyway (the Jaccard inverted-index family groups by token next, so
    ``shingle_rows``'s doc_id exchange + sort + three window passes were
    pure overhead for them; measured −0.5-2.0 s per query at sf0.1 and
    one fewer corpus-wide shuffle at any scale).

    Same output contract as ``shingle_rows`` (equality pytest-asserted,
    including truncated-shingle and empty-doc edge cases): overlapping
    n-grams come from one ``regexp_extract_all`` lookahead pass over the
    re-joined token stream (``(?=(tok tok tok))tok ``— the classic
    overlapping-match capture), per-doc distinct via ``array_distinct``
    BEFORE the explode, so no global dropDuplicates aggregate is needed.

    NOT used by the signature builders (MinHash/SimHash): their per-doc
    aggregates consumed ``shingle_rows``'s doc_id partitioning for free,
    and both the partial-agg and explicit-repartition rewrites measured
    0.5-0.9 s SLOWER at sf0.1 (wide 64-column partial rows respectively
    a second pass over the hashed rows) — see OPTIMIZATION_r12.md.
    """
    from gmall_flink_yb_spark import tuning as _tuning

    df = _tuning.spread_file_scan(df)  # tokenize+regexp is the heavy
    # map side; a starved single-split scan would serialize it
    toks = F.filter(tokenize(F.col(text_col)), lambda t: F.length(t) > 0)
    norm = F.array_join(toks, " ")
    tok = "[^ ]+"
    pat = f"(?=({' '.join([tok] * n)})){tok}(?: |$)"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    # docs shorter than n tokens yield their single truncated shingle
    # (the whole normalized token stream); zero-token docs yield no rows
    final = F.when(
        (F.size(grams) == 0) & (F.length(norm) > 0), F.array(norm)
    ).otherwise(grams)
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"), final.alias("_g")
    ).select("doc_id", F.explode(F.array_distinct("_g")).alias("token"))


def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct (doc_id, token) word n-gram shingle rows — the scale path.

    posexplode the token array, then assemble each shingle from the n-1
    following tokens with window ``lead`` — every step is codegen'd (a
    higher-order-function array formulation evaluates interpreted, measured
    ~15x slower on the same data); the only exchanges are the per-doc sort
    for ``lead`` and the distinct. Docs shorter than n tokens yield their
    single truncated shingle (``concat_ws`` skips null leads); docs with no
    tokens yield no rows.

    No spread_file_scan here (unlike shingle_rows_narrow): the signature
    consumers measured flat-to-slower with it at sf0.1 — this form's own
    doc_id exchange already spreads the rows one stage later, so the
    extra round-robin exchange buys only the explode's parallelism and
    costs a full pass of the rows.
    """
    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.posexplode(tokenize(F.col(text_col))).alias("pos", "w"),
        )
        .filter(F.length("w") > 0)
    )
    leads = [F.col("w")] + [F.lead("w", i).over(w) for i in range(1, n)]
    return (
        toks.select(
            "doc_id",
            F.concat_ws(" ", *leads).alias("token"),
            (F.row_number().over(w) - 1).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("cnt"),
        )
        .filter(F.col("rn") <= F.greatest(F.col("cnt") - n, F.lit(0)))
        .select("doc_id", "token")
        .dropDuplicates(["doc_id", "token"])
    )


def _md5_long(col: Column) -> Column:
    """60-bit non-negative hash from md5, bit-identical in DuckDB as
    ('0x'||substr(md5(x),1,15))::BIGINT (parity-tested)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _mix(i: int) -> Column:
    """Hash-family member i derived from two base hashes: h1 XOR rotl(h2, i).

    One string hash pass instead of ``num_hashes`` (Carter-Wegman-style
    2-universal derivation) — pure long bit ops, fully codegen'd.

    Built as ONE parsed SQL expression (r13): the Column-API form cost
    ~20 py4j socket round-trips per member and the ``num_hashes``-member
    listcomps dominated the MinHash family's PLAN-CONSTRUCTION wall
    (profiled: 2.8 s of dedup_incremental's 3.4 s build was py4j I/O).
    The parsed tree is the same Catalyst expression node for node, so
    results and plans are unchanged.
    """
    return F.expr(_mix_sql(i))


def _mix_sql(i: int) -> str:
    if i == 0:
        return "(h1 ^ h2)"
    return f"(h1 ^ (shiftleft(h2, {i}) | shiftrightunsigned(h2, {64 - i})))"


def _portable_mix(i: int) -> Column:
    """Portable family member i: h1 XOR rotl60(h2, i), on 60-bit md5 longs.

    Same one-pass Carter-Wegman shape as ``_mix`` but with the rotation
    expressed as overflow-safe arithmetic ((h2 % 2^(60-i)) * 2^i + h2 div
    2^(60-i) stays < 2^60 < 2^63), so DuckDB — whose BIGINT ops error on
    overflow instead of wrapping — reproduces every member bit-for-bit:
    xor(h1, (h2 % L) * S + h2 // L). One parsed SQL expression per
    member — see ``_mix`` for the py4j-construction rationale.
    """
    return F.expr(_portable_mix_sql(i))


def _portable_mix_sql(i: int) -> str:
    if i == 0:
        return "(h1 ^ h2)"
    lo = 1 << (60 - i)
    hi = 1 << i
    return f"(h1 ^ (((h2 % {lo}) * {hi}) + (h2 div {lo})))"


def recommended_minhash_bands(
    num_hashes: int,
    jaccard_level: float = 0.5,
    target_recall: float = 0.9,
) -> int:
    """Smallest divisor b of ``num_hashes`` whose banded recall for pairs
    at ``jaccard_level`` reaches ``target_recall`` — the MinHash twin of
    ``similarity.recommended_n_bands`` (BASELINE.md round-9's raise-bands
    remedy, applied to the Jaccard family).

    Geometry: a pair at Jaccard s agrees on one signature slot with
    probability s, so it collides in an r-slot band with probability s^r
    (r = num_hashes / b) and banded recall is 1 - (1 - s^r)^b. Recall is
    strictly increasing in b (shorter rows AND more bands) — and so is
    candidate volume — so the smallest qualifying divisor meets the
    recall floor at minimal band-join cost. Raises ValueError when even
    b = num_hashes (r = 1, recall 1-(1-s)^n) misses the target: no
    banding of this signature can hold that recall — raise num_hashes.

    What the banding curve does NOT govern (measured, BASELINE.md
    rounds 10-11): the dedup verdict also requires the SIGNATURE
    ESTIMATE ``est_jaccard >= threshold``, and for pairs whose true J
    sits near the threshold that check is a near-coin-flip at any
    signature width (P(Binomial(n, J)/n >= 0.5) -> 0.5 as J -> 0.5+).
    Doubling hashes buys exactly what the Binomial math says — measured
    J 0.5-0.65 recall 0.83 at 32 hashes -> 0.87 at 64 (analytic 0.82 ->
    0.86; even 256 hashes caps at ~0.92 for that band) — while the
    J >= 0.6 region moves 0.91 -> 0.96 and J 0.65-0.8 closes to ~1.0.
    Plan recall targets at a Jaccard MARGIN above the dedup threshold
    (e.g. J >= threshold + 0.1); no geometry holds 0.9+ recall for
    pairs at the threshold itself.
    """
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    s = min(max(jaccard_level, 0.0), 1.0)
    # divisors enumerated in pairs (d, n/d) up to sqrt(n) — O(sqrt n),
    # not a full range scan (ADVICE r9; cosmetic at n <= 1024)
    divisors: set[int] = set()
    d = 1
    while d * d <= num_hashes:
        if num_hashes % d == 0:
            divisors.update((d, num_hashes // d))
        d += 1
    for b in sorted(divisors):
        r = num_hashes // b
        if 1.0 - (1.0 - s**r) ** b >= target_recall:
            return b
    raise ValueError(
        f"no divisor of num_hashes={num_hashes} holds recall "
        f"{target_recall} at jaccard {jaccard_level}; raise num_hashes"
    )


def _resolve_minhash_bands(
    bands: int | str,
    num_hashes: int,
    jaccard_level: float,
    target_recall: float,
) -> int:
    """``"auto"`` -> :func:`recommended_minhash_bands`; ints pass through
    (the default stays 8 everywhere — auto-banding is an explicit opt-in,
    and the INDEXED incremental form stays int-only because the persisted
    band index's (bands, rows_per_band) split is part of its on-disk
    contract, exactly like SRP's plane count)."""
    if bands != "auto":
        return int(bands)
    return recommended_minhash_bands(num_hashes, jaccard_level, target_recall)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per doc: for family member i, min_s mix_i(hash(s)).

    Returns (doc_id, sig: array<long>[num_hashes], n_shingles).

    Shape chosen for scale: shingles are EXPLODED to rows, each shingle is
    string-hashed exactly twice (xxhash64 with two seeds), and the per-member
    minima run as ``num_hashes`` codegen'd MIN aggregates with map-side
    partial aggregation — the shuffle carries one row of ``num_hashes`` longs
    per doc per map partition, never the shingles themselves. (The obvious
    alternative — per-row array lambdas — evaluates interpreted, not
    codegen'd, and re-hashes every shingle ``num_hashes`` times: measured 8x
    slower at sf0.1.) Docs with zero shingles are dropped, as before.
    """
    shingles = shingle_rows(df, id_col, text_col, shingle_n)
    if portable:
        # same one-pass structure as the production path: ONE md5 digest
        # per shingle sliced into two 60-bit base hashes (hex [1,15] and
        # [16,30] of the 32-char digest) + num_hashes arithmetic mixes
        # (was num_hashes md5 calls, then two — Catalyst's subexpression
        # elimination evaluates the shared digest once per row).
        # Bit-identical in DuckDB => the whole operator is oracle-checkable.
        hashed = shingles.select(
            "doc_id",
            _md5_long(F.col("token")).alias("h1"),
            F.conv(F.substring(F.md5(F.col("token")), 16, 15), 16, 10)
            .cast("long")
            .alias("h2"),
        )
        # one parsed expression per member (see _mix: py4j construction
        # cost dominated this family's plan-build wall)
        aggs = [
            F.expr(f"min({_portable_mix_sql(i)})").alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    else:
        hashed = shingles.select(
            "doc_id",
            F.xxhash64("token").alias("h1"),
            F.xxhash64("token", F.lit(1)).alias("h2"),
        )
        aggs = [
            F.expr(f"min({_mix_sql(i)})").alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    sig = F.expr(
        "array(" + ",".join(f"_m{i}" for i in range(num_hashes)) + ")"
    )
    return (
        hashed.groupBy("doc_id")
        .agg(*aggs, F.count(F.lit(1)).alias("n_shingles"))
        .select("doc_id", sig.alias("sig"), "n_shingles")
    )


def band_buckets(
    sigs: DataFrame, bands: int, rows_per_band: int, portable: bool = False
) -> DataFrame:
    """(doc_id, sig, band, bucket) — one row per signature band, bucket =
    hash of the band's signature slots. Docs sharing any (band, bucket) are
    LSH candidates. portable=md5 (DuckDB-reproducible via
    md5(string_agg(sig, ',' ORDER BY i))); default xxhash64 (cheaper).

    The whole banded explode is ONE parsed SQL expression (r13): the
    per-band Column-API construction cost ~0.3-0.6 s of py4j round-trips
    per call (see ``_mix``); the parsed tree is node-for-node the same
    plan."""

    def _bucket_sql(b: int) -> str:
        slots = ", ".join(
            f"cast(element_at(sig, {b * rows_per_band + r + 1}) as string)"
            for r in range(rows_per_band)
        )
        cw = f"concat_ws(',', {slots})"
        return f"md5({cw})" if portable else f"cast(xxhash64({cw}) as string)"

    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', {_bucket_sql(b)})"
        for b in range(bands)
    )
    return sigs.select(
        "doc_id",
        "sig",
        F.expr(f"explode(array({structs}))").alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int | str = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
    band_recall: float = 0.9,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs with estimated Jaccard.

    Band the signature (bands x rows_per_band), bucket-join docs sharing any
    band, then estimate Jaccard as the fraction of agreeing hash slots.
    Returns (id_a, id_b, est_jaccard). At 100 TB the band join only shuffles
    (band_id, band_hash, doc_id) tuples and candidate pairs are ~linear in
    true-dup count instead of O(n^2).

    ``bands="auto"`` (opt-in; the default stays 8) picks the smallest
    divisor of ``num_hashes`` holding ``band_recall`` candidate recall for
    pairs AT the ``threshold`` — the operator's own cutoff is exactly the
    Jaccard level recall must hold at (:func:`recommended_minhash_bands`;
    the Jaccard twin of the SRP family's derived banding).
    """
    bands = _resolve_minhash_bands(bands, num_hashes, threshold, band_recall)
    rows_per_band = num_hashes // bands
    # persisted: the band join reads the signatures on BOTH sides — without
    # this the whole shingle+hash subtree executes twice. At production scale
    # signatures would be checkpointed to a table and reused across runs.
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, portable=portable
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bands_df = band_buckets(sigs, bands, rows_per_band, portable)

    a = bands_df.alias("a")
    b = bands_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return owns_cache(
        cand.select(
            "id_a",
            "id_b",
            F.round(agree.cast("double") / F.lit(num_hashes), 6).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold),
        sigs,  # caller releases via cacheutil.release_cache
    )


def incremental_lsh_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int | str = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
    broadcast_incoming: bool = False,
    band_recall: float = 0.9,
) -> DataFrame:
    """Incremental MinHash+LSH dedup: audit a NEW batch against an
    already-curated corpus plus itself — the operator a production pipeline
    actually runs (full-corpus re-dedup on every ingest does quadratic
    work over time; this touches only incoming x (corpus ∪ incoming)).

    Verdict per incoming doc: duplicate if its estimated Jaccard with any
    existing doc, or any SMALLER-id incoming doc, reaches ``threshold``
    (greedy-by-id within the batch — the min-id doc of a dup group is the
    kept representative; matches against it decide the rest without a
    transitive-closure pass). Returns (doc_id, keep, dup_of, est_jaccard):
    ``dup_of`` = best match by (est desc, id asc), NULL when kept.

    Scale design (100 TB): the existing side's signatures/band buckets are
    a precomputable index — this wrapper REBUILDS it from the raw corpus
    (same plan shape); callers that already hold the index (the streaming
    ingest persists and appends it per batch) use
    ``incremental_lsh_dedup_indexed`` directly, so per-batch cost tracks
    batch size, never corpus size. The band join is incoming-vs-all only —
    existing x existing pairs are never formed, which is the entire point
    of incrementality. Doc ids must be globally unique across both frames
    and incoming ids greater than existing ones for the greedy order to
    mean "earlier wins".
    """
    # "auto" holds band_recall at the dedup threshold (safe here because
    # both sides band inside one plan; the INDEXED form stays int-only —
    # the persisted index's banding is an on-disk contract)
    bands = _resolve_minhash_bands(bands, num_hashes, threshold, band_recall)
    rows_per_band = num_hashes // bands
    sx = minhash_signatures(
        existing, id_col, text_col, num_hashes, shingle_n, portable=portable
    )
    bx = band_buckets(sx, bands, rows_per_band, portable)
    verdicts, _bi = incremental_lsh_dedup_indexed(
        bx,
        incoming,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        portable=portable,
        broadcast_incoming=broadcast_incoming,
    )
    return verdicts


def incremental_lsh_dedup_indexed(
    index_buckets: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
    broadcast_incoming: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Core of ``incremental_lsh_dedup`` against a PRECOMPUTED corpus
    index: ``index_buckets`` is the (doc_id, sig, band, bucket) band-bucket
    table of every already-admitted doc (exactly ``band_buckets`` output —
    at production scale a checkpointed table appended per ingest, so
    admitted documents' text is never re-shingled).

    Returns (verdicts, incoming_buckets): the per-incoming-doc
    (doc_id, keep, dup_of, est_jaccard) frame, and the incoming batch's
    own band-bucket rows so the caller can append the KEPT docs' rows to
    the index. incoming_buckets shares the persisted signature subtree
    tagged on verdicts (release via ``cacheutil.release_cache`` after
    both are materialized).
    """
    rows_per_band = num_hashes // bands
    si = minhash_signatures(
        incoming, id_col, text_col, num_hashes, shingle_n, portable=portable
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bx = index_buckets.select("doc_id", "sig", "band", "bucket").withColumn(
        "inc", F.lit(False)
    )
    bi = band_buckets(si, bands, rows_per_band, portable).withColumn(
        "inc", F.lit(True)
    )
    right = bx.unionByName(bi)
    # broadcast_incoming=True is for the streaming ingest path ONLY, where
    # the incoming side is micro-batch-sized by contract: its band buckets
    # broadcast so the corpus-side index never moves — at 100 TB the index
    # stays in place and each ingest ships only the batch. Batch callers
    # whose "incoming" side may be corpus-sized (e.g. a backfill split)
    # MUST leave this False and let AQE pick the join strategy from
    # runtime sizes — an unconditional hint here bypasses every size
    # check and is a guaranteed BroadcastExchange OOM at scale.
    left = F.broadcast(bi.alias("a")) if broadcast_incoming else bi.alias("a")
    cand = (
        left
        .join(
            right.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (
                ~F.col("b.inc")
                | (F.col("b.doc_id") < F.col("a.doc_id"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("m_id"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_id", "m_id"])
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    est = F.round(agree.cast("double") / F.lit(num_hashes), 6)
    matches = cand.select("doc_id", "m_id", est.alias("est")).filter(
        F.col("est") >= threshold
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("est").desc(), F.col("m_id").asc()
    )
    best = (
        matches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "m_id", "est")
    )
    ids = incoming.select(F.col(id_col).cast("long").alias("doc_id"))
    verdicts = owns_cache(
        ids.join(best, "doc_id", "left").select(
            "doc_id",
            F.col("m_id").isNull().cast("int").alias("keep"),
            F.col("m_id").alias("dup_of"),
            F.col("est").alias("est_jaccard"),
        ),
        si,  # caller releases via cacheutil.release_cache
    )
    return verdicts, bi.drop("inc")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text_col: Column) -> Column:
    """64-bit SimHash over word tokens: sum(+/-1 per bit over token hashes),
    bit set iff sum > 0. Pure column expressions via bitwise ops on
    xxhash64(token)."""
    toks = F.filter(F.array_distinct(tokenize(text_col)), lambda t: F.length(t) > 0)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    total = F.size(hashes)
    acc = None
    for i in range(64):
        # bit i of the simhash is set iff a majority of token hashes set it
        set_cnt = F.size(
            F.filter(hashes, lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1)
        )
        bit = F.when(set_cnt * 2 > total, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        shifted = F.shiftleft(bit, i)  # distinct powers of two: OR == sum
        acc = shifted if acc is None else acc.bitwiseOR(shifted)
    return acc


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, portable: bool = False
) -> DataFrame:
    """(doc_id, sh): 64-bit SimHash per doc, bit-identical to ``simhash64``.

    Scale shape (same rationale as minhash_signatures): tokens exploded to
    rows, hashed once in a codegen'd projection, then 64 codegen'd SUM
    aggregates (one per bit) with map-side partial aggregation — the shuffle
    carries 64 longs per doc per map partition. Docs with zero tokens are
    dropped (the column variant yields sh=0 for them; an empty doc is not a
    meaningful near-dup candidate).
    """
    # portable: 60-bit md5-derived hash (bits 60-63 constant zero — the
    # hamming metric just lives in a 60-bit space; pigeonhole blocking below
    # stays recall-exact). Default: xxhash64, full 64 bits.
    h = _md5_long(F.col("t")) if portable else F.xxhash64("t")
    nbits = 60 if portable else 64
    hashed = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("t"),
        )
        .filter(F.length("t") > 0)
        .select("doc_id", h.alias("h"))
    )
    # parsed-SQL construction (r13): 64 per-bit agg Columns + the 64-term
    # bit fold cost ~1 s of py4j round-trips per call (see _mix); the
    # parsed trees are the same Catalyst expressions node for node
    aggs = [
        F.expr(
            f"sum(cast((shiftrightunsigned(h, {i}) & 1) as bigint))"
        ).alias(f"_b{i}")
        for i in range(nbits)
    ]
    agg = hashed.groupBy("doc_id").agg(*aggs, F.count(F.lit(1)).alias("_n"))
    acc_sql = " | ".join(
        f"shiftleft(case when (_b{i} * 2) > _n then cast(1 as bigint)"
        f" else cast(0 as bigint) end, {i})"
        for i in range(nbits)
    )
    return agg.select("doc_id", F.expr(f"({acc_sql})").alias("sh"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair list — turns near-dup
    PAIRS into duplicate CLUSTERS (the step a curation pipeline actually
    needs: keep one doc per component, not per pair).

    Iterative min-label propagation: every node starts labeled with itself;
    each round every node adopts the minimum label in its closed
    neighborhood; stop when no label changes. Rounds = graph diameter,
    which for near-dup graphs is tiny (dup clusters are cliques or short
    chains). Each round is exactly TWO shuffles — one partition-aligned
    join (edge contributions) and one groupBy (min over the closed
    neighborhood, with each node's own label carried through the same
    aggregate so no join-back is needed) — and ONE action: the convergence
    counter is a sum(_changed) aggregate over the same persisted frame
    that carries the next round's labels, so the action both materializes
    every partition of the cache (keeping recompute lineage O(1) deep) and
    answers "converged?" — no separate probe job, no collect of data. For
    graphs with large diameter at 100 TB scale use
    ``connected_components_star`` (O(log n) rounds); near-dup graphs never
    need it.

    The loop runs in a PRIVATE session (``_enter_loop_session``) with AQE
    off: adaptive planning adds one re-optimization round-trip per shuffle
    stage, pure latency for an iterative loop of tiny stages (measured 3x
    wall-clock at sf0.1: ~2.1s/round with AQE vs ~0.6s without). The
    loop's partitioning is already sized explicitly to the subgraph
    (below), which is the part AQE would otherwise fix; concurrent queries
    on the caller's session are untouched. Per-round lineage truncation is
    a durable ``checkpoint`` when the context has a checkpoint dir (so an
    executor loss mid-loop doesn't kill the job on a real cluster), else
    ``localCheckpoint`` — see ``_truncate_lineage``.

    Raises RuntimeError if max_iterations is exhausted before convergence
    (silently returning half-propagated labels would corrupt clusters).

    Returns (node, component) where component is the minimum node id
    reachable from `node`. Only nodes that appear in `pairs` are returned
    (isolated docs are their own trivial component — callers left-join).

    Cache contract (ADVICE r5): the result is BACKED by the final round's
    truncated-lineage checkpoint blocks, tagged for
    ``cacheutil.release_cache``. Releasing frees those blocks and the
    frame cannot be recomputed afterwards — call release only once every
    consumer has materialized what it needs.
    """
    # persist pairs FIRST: the symmetrize-union reads it twice, and without
    # this the entire upstream pair-generation pipeline executes twice
    # (measured 12s of a 19s run at sf0.1)
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    caller = pairs.sparkSession
    loop, lpairs, in_view = _enter_loop_session(pairs, "cc")
    edges = None
    edges_by_dst = None
    # each round's localCheckpoint handle is tracked EXPLICITLY off its
    # own plan (ADVICE r5, medium: a context-wide pinned-RDD diff would
    # tag — and later force-unpersist — frames persisted concurrently by
    # other queries on the shared context). The previous round's blocks
    # are freed as soon as the next round is materialized, so loop block
    # memory is O(1) rounds, and only the FINAL round's handle survives,
    # tagged on the result for cacheutil.release_cache. NOTE: the result
    # is backed by those truncated-lineage blocks, so release_cache makes
    # it permanently unusable — release only after consumers are done.
    cur_handle = None
    try:
        edges = (
            lpairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .union(
                lpairs.select(
                    F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                )
            )
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_edges = edges.count()
        if n_edges == 0:
            # legitimate zero-duplicates corpus: no nodes, nothing to
            # propagate (without this, sum(_changed) over zero rows is
            # NULL and the loop would spin to max_iterations then raise)
            return _exit_loop_session(
                loop.createDataFrame([], "node long, component long"), caller
            )
        # Size the loop's partitioning to the SUBGRAPH, not the corpus: the
        # near-dup graph is orders of magnitude smaller than the input
        # (pairs survived a similarity threshold), so the session-wide
        # shuffle parallelism would spend each round on empty-task
        # overhead. ~1M edges per partition; at 1B edges this is still
        # 1000-way parallel. Both frames hash on the join key, so each
        # round's join adds no exchange.
        n_parts = max(1, min(n_edges // 1_000_000 + 1, 4096))
        edges_by_dst = edges.repartition(n_parts, "dst").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .repartition(n_parts, "node")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        converged = False
        for _ in range(max_iterations):
            # neighbor contributions (own=null) unioned with each node's
            # self-contribution (own=label): one groupBy yields both the new
            # min label and the old label, so no join-back is needed.
            contrib = edges_by_dst.join(
                labels, edges_by_dst["dst"] == labels["node"]
            ).select("src", "label", F.lit(None).cast("long").alias("own"))
            selfc = labels.select(
                F.col("node").alias("src"), "label", F.col("label").alias("own")
            )
            new_labels = (
                contrib.union(selfc)
                .repartition(n_parts, "src")
                .groupBy("src")
                .agg(F.min("label").alias("label"), F.min("own").alias("own"))
                .select(
                    F.col("src").alias("node"),
                    "label",
                    (F.col("label") < F.col("own")).alias("_changed"),
                )
            # eager truncation both materializes every partition AND cuts
            # the logical plan: with a plain persist the analyzer re-walks
            # an O(rounds)-deep lineage every iteration (persist
            # short-circuits execution, not re-analysis), which grows
            # per-round planning cost and eventually OOMs the driver on
            # long loops. One job per round either way; durable when a
            # checkpoint dir is set.
            )
            # lazy: the convergence agg below touches every partition, so
            # it materializes + truncates this round in the SAME job —
            # one driver round-trip per round instead of two
            new_labels, new_handle = _truncate_lineage(new_labels, eager=False)
            changed = (
                new_labels.agg(
                    F.sum(F.col("_changed").cast("long")).alias("c")
                ).collect()[0]["c"]
                or 0
            )
            old, old_handle = labels, cur_handle
            labels = new_labels.drop("_changed")
            cur_handle = new_handle
            old.unpersist()  # round-0 persist; no-op on checkpointed rounds
            if old_handle is not None:
                old_handle.unpersist()  # previous round's checkpoint blocks
            if changed == 0:
                converged = True
                break
    except BaseException:
        if cur_handle is not None:
            cur_handle.unpersist()
        raise
    finally:
        if edges_by_dst is not None:
            edges_by_dst.unpersist()
        if edges is not None:
            edges.unpersist()
        pairs.unpersist()
        # the label loop consumed `pairs` eagerly (edges are persisted and
        # lineage-truncated above), so any caches a builder tagged on it
        # (e.g. jaccard_prefix_pairs' shingle frame) are dead weight now —
        # release here instead of relying on callers to carry the tag
        # through their own derivations (ADVICE r4)
        release_cache(pairs)
        caller.catalog.dropGlobalTempView(in_view)
    if not converged:
        if cur_handle is not None:
            cur_handle.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (rounds needed = graph diameter)"
        )
    return owns_cache(
        _exit_loop_session(
            labels.select("node", F.col("label").alias("component")), caller
        ),
        *( [cur_handle] if cur_handle is not None else [] ),
    )


def select_canonical(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Canonical-document selection: given near-dup CLUSTERS, keep exactly
    one doc per cluster — the highest-``score_col`` member (ties to the
    smallest id). This is the last step of the dedup pipeline the min-id
    convention skips: curation keeps the BEST representative (longest text,
    highest quality score), not an arbitrary one.

    ``components`` is (node, component) from ``connected_components`` /
    ``connected_components_star``; docs absent from it are their own
    singleton cluster and always kept. Returns every input doc as
    (id_col, component, keep) with keep ∈ {0,1}.

    Scale: one broadcast-or-shuffle join (components is the small near-dup
    subgraph) plus one window shuffle on component — the window partitions
    are cluster-sized (tiny), so no skew risk.
    """
    comp = components.select(
        F.col("node"), F.col("component").alias("_comp")
    )
    joined = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(score_col).alias("_score"),
    ).join(comp, F.col("_id") == F.col("node"), "left")
    component = F.coalesce(F.col("_comp"), F.col("_id"))
    w = Window.partitionBy(component).orderBy(
        F.desc("_score"), F.col("_id")
    )
    return carry_cache(
        joined.select(
            F.col("_id").alias(id_col),
            component.cast("long").alias("component"),
            (F.row_number().over(w) == 1).cast("int").alias("keep"),
        ),
        components,  # keep the CC result's checkpoint blocks releasable
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the HIGH-DIAMETER scale path.

    ``connected_components`` (min-label propagation) needs diameter rounds:
    perfect for near-dup graphs (cliques, short chains), quadratic-time for
    a 10k-long chain. The star rewrites contract ANY graph in O(log n)
    rounds by re-wiring edges instead of flooding labels:
    - large-star: every node's larger neighbors re-attach to the minimum of
      its closed neighborhood;
    - small-star: every node's smaller-or-equal neighbors (and the node)
      re-attach to the smallest of them.
    Both preserve connectivity; a fixed point is a forest of stars whose
    centers are the component minima, so components read straight off the
    final edge list. Each round is two groupBy-join phases over the CURRENT
    edge set (which only shrinks toward star form — never grows beyond 2x
    input), and convergence is a (count, hash-xor) signature equality — one
    tiny aggregate per round, no driver-side data.

    Same contract as ``connected_components``: returns (node, component)
    for every node appearing in ``pairs``; raises RuntimeError if not
    converged within ``max_iterations`` (for star rounds that means
    ~2^max_iterations nodes — never in practice).
    """
    caller = pairs.sparkSession
    _, lpairs, in_view = _enter_loop_session(pairs, "ccs")
    # everything after the view registration lives inside try: an analysis
    # error on a bad id column must still drop the loop-session temp view
    # and any persists (the min-label variant has the same structure).
    # Checkpoint handles are tracked per round off each round's own plan
    # (see connected_components — no context-wide pinned-RDD diff).
    e = nodes = None
    prev_sig = None
    converged = False
    cur_handle = None
    try:
        h0 = F.greatest(F.col(id_a), F.col(id_b))
        l0 = F.least(F.col(id_a), F.col(id_b))
        e = (
            lpairs.select(h0.alias("h"), l0.alias("l"))
            .filter(F.col("h") != F.col("l"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nodes = (
            e.select(F.col("h").alias("node"))
            .union(e.select(F.col("l").alias("node")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cur = e
        for _ in range(max_iterations):
            # -- large-star: (u,v) both directions; m(u) = min(N(u) ∪ {u});
            #    emit (v, m(u)) for v > u  (v > u >= m(u), so h=v, l=m)
            sym = cur.select(
                F.col("h").alias("u"), F.col("l").alias("v")
            ).union(cur.select(F.col("l").alias("u"), F.col("h").alias("v")))
            mins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m"))
            )
            # duplicates between here and new_e's distinct are harmless
            # (min is dup-insensitive), so no intermediate distinct
            ls = (
                sym.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("h"), F.col("m").alias("l"))
            )
            # -- small-star on edges already pointing larger -> smaller:
            #    m(h) = min of h's smaller neighbors; emit (l, m) l != m,
            #    plus (h, m)
            mins2 = ls.groupBy("h").agg(F.min("l").alias("mn"))
            j = ls.join(mins2, "h")
            # lineage truncation: an iterative DataFrame loop's logical
            # plan otherwise grows every round and re-analysis cost
            # dominates (the cache only short-circuits execution, not
            # planning). Durable checkpoint when the context has a
            # checkpoint dir (cluster), executor-local otherwise; lineage
            # stays O(1) per round in either mode.
            new_e, new_handle = _truncate_lineage(
                j.where(F.col("l") != F.col("mn"))
                .select(F.col("l").alias("h"), F.col("mn").alias("l"))
                .union(j.select("h", F.col("mn").alias("l")))
                .distinct(),
                # lazy: the signature agg below materializes it in one job
                eager=False,
            )
            sig_row = new_e.agg(
                F.count(F.lit(1)).alias("n"),
                # xor-fold: order-independent and overflow-free under ANSI
                F.expr("bit_xor(xxhash64(h, l))").alias("s"),
            ).collect()[0]
            sig = (sig_row["n"], sig_row["s"])
            if cur is not e:
                cur.unpersist()
            if cur_handle is not None:
                cur_handle.unpersist()  # previous round's checkpoint blocks
            cur = new_e
            cur_handle = new_handle
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig
        if not converged:
            raise RuntimeError(
                f"connected_components_star did not converge in "
                f"{max_iterations} rounds"
            )
        # fixed point is a star forest: (h, l) == (node, component-min);
        # centers have no outgoing edge and are their own component
        comp = nodes.join(
            cur.select(F.col("h").alias("node"), F.col("l").alias("c")),
            "node",
            "left",
        ).select(
            "node", F.coalesce(F.col("c"), F.col("node")).alias("component")
        )
        # materialize before unpersisting the lineage we built it from
        comp = comp.persist(StorageLevel.MEMORY_AND_DISK)
        comp.count()
        if cur is not e:
            cur.unpersist()
        # keep the final round's checkpoint blocks alive and tagged: the
        # rebound caller-session frame re-analyzes the plan through a temp
        # view, and its execution may recompute comp's join from cur's
        # LogicalRDD instead of hitting comp's persist — freeing the
        # blocks here broke exactly that collect. release_cache frees
        # both (and makes the result non-recomputable — same
        # release-after-consumption contract as connected_components).
        final_handle = cur_handle
        cur_handle = None  # success: don't free in the except path
        return owns_cache(
            _exit_loop_session(comp, caller),
            comp,
            *([final_handle] if final_handle is not None else []),
        )
    except BaseException:
        if cur_handle is not None:
            cur_handle.unpersist()
        raise
    finally:
        if nodes is not None:
            nodes.unpersist()
        if e is not None:
            e.unpersist()
        # pairs fully consumed by the hooking loop: release builder-tagged
        # caches here, same contract as connected_components (ADVICE r4)
        release_cache(pairs)
        caller.catalog.dropGlobalTempView(in_view)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming.

    Pigeonhole blocking: split the 64-bit hash into 4 x 16-bit chunks; any
    pair at hamming <= 3 agrees on at least one chunk, so candidates are
    generated by joining on (chunk_idx, chunk_value) — never all pairs.
    Returns (id_a, id_b, hamming).
    """
    # persisted: the chunk join reads the hashes on both sides (see
    # minhash_lsh_pairs for the scale rationale)
    hashed = simhash_table(df, id_col, text_col, portable=portable).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    chunks = hashed.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright("sh", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "sh", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    # hamming filter BEFORE the pair-dedup: a qualifying pair can surface from
    # up to 4 chunks, but the dedup shuffle then only carries survivors
    return owns_cache(
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"]),
        hashed,  # caller releases via cacheutil.release_cache
    )
