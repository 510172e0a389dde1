"""merge_wide (PaymentWide-style null-coalescing merge) and skew
handling: salted aggregations must equal their unsalted answers, and
skewed joins are split by AQE at run time."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from gmall_flink_yb_spark.operators.merge_wide import merge_wide
from gmall_flink_yb_spark.operators.skew import salted_agg


def test_merge_wide_null_coalescing(spark):
    left = spark.createDataFrame(
        [Row(order_id=1, user_name=None, amount=10.0),
         Row(order_id=2, user_name="bea", amount=None)],
    )
    right = spark.createDataFrame(
        [Row(order_id=1, user_name="ann", pay_type="card"),
         Row(order_id=2, user_name="IGNORED", pay_type="cash"),
         Row(order_id=3, user_name="cal", pay_type="wire")],
    )
    got = {r["order_id"]: r for r in merge_wide(left, right, ["order_id"]).collect()}
    assert got[1]["user_name"] == "ann"      # left null -> patched from right
    assert got[2]["user_name"] == "bea"      # left wins when present
    assert got[1]["amount"] == 10.0          # left-only column passes through
    assert got[2]["pay_type"] == "cash"      # right-only column passes through
    assert got[3]["user_name"] == "cal"      # full-outer keeps right-only keys
    assert got[3]["amount"] is None


def test_enrich_dims_shuffle_hash_fallback(spark, sf_dir):
    """J2 size fallback (SURVEY §4.2): strategy='shuffle_hash' plans a
    ShuffledHashJoin instead of broadcasting — the path for dims too big
    for executor memory."""
    from gmall_flink_yb_spark.operators.order_wide import enrich_dims
    from gmall_flink_yb_spark.plans.inspect import join_strategies
    from gmall_flink_yb_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    df = enrich_dims(
        orders, [(cust, "o_custkey", "c_custkey", ["c_name"])],
        strategy="shuffle_hash",
    )
    assert "ShuffledHashJoin" in join_strategies(df)
    bcast = enrich_dims(
        orders, [(cust, "o_custkey", "c_custkey", ["c_name"])],
        strategy="broadcast",
    )
    assert set(join_strategies(bcast)) == {"BroadcastHashJoin"}
    assert df.count() == bcast.count()


def test_pluggable_segmenter_udf(spark):
    """Keyword analysis with a custom segmentation UDF (the IK-analyzer
    slot): a toy bigram segmenter for spaceless text."""
    from gmall_flink_yb_spark.operators.keywords import (
        keyword_counts,
        make_segmenter_udf,
    )

    def bigrams(s: str) -> list[str]:
        return [s[i : i + 2] for i in range(0, len(s) - 1)]

    df = spark.createDataFrame([("abcd",), ("bcde",)], ["text"])
    seg = make_segmenter_udf(bigrams)
    got = {
        r["token"]: r["token_count"]
        for r in keyword_counts(df, "text", tokenizer=seg).collect()
    }
    assert got == {"ab": 1, "bc": 2, "cd": 2, "de": 1}


def test_fmm_segmenter_semantics():
    """The bundled forward-maximum-matching segmenter: longest dictionary
    word wins at every position (手机壳 beats its prefix 手机), characters
    outside the dictionary fall back to single-char tokens, and the greedy
    scan never backtracks. These are exactly the semantics the
    keyword_top100_zh DuckDB oracle replays as a recursive CTE."""
    from gmall_flink_yb_spark.operators.keywords import fmm_segment

    words = frozenset({"手机", "手机壳", "苹果", "电脑"})
    seg = lambda s: fmm_segment(s, words, 3)  # noqa: E731
    assert seg("手机壳") == ["手机壳"]            # longest match, not 手机+壳
    assert seg("手机苹果") == ["手机", "苹果"]
    assert seg("买手机壳了") == ["买", "手机壳", "了"]  # single-char fallback
    assert seg("手机手机壳") == ["手机", "手机壳"]  # greedy, no backtrack
    assert seg("") == []


def test_fmm_segmenter_udf_in_keyword_counts(spark):
    """The shipped FMM segmenter through the pluggable slot end-to-end:
    Arrow-batched, recovers word tokens from unsegmented text."""
    from gmall_flink_yb_spark.operators.keywords import (
        keyword_counts,
        make_fmm_segmenter_udf,
    )

    df = spark.createDataFrame(
        [("手机壳苹果",), ("苹果电脑",), (None,)], ["text"]
    )
    got = {
        r["token"]: r["token_count"]
        for r in keyword_counts(
            df, "text", tokenizer=make_fmm_segmenter_udf()
        ).collect()
    }
    assert got == {"手机壳": 1, "苹果": 2, "电脑": 1}


def test_salted_agg_matches_plain_agg(spark, sf_dir):
    from gmall_flink_yb_spark.sources.readers import read_table

    li = read_table(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: (r["n"], float(r["qty"]))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["n"], float(r["qty"]))
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {"n": F.count(F.lit(1)), "qty": F.sum("l_quantity")},
            buckets=8,
        ).collect()
    }
    assert salted == plain


def _hot_key_events(spark, n=40_000, hot_share=0.5):
    """Synthetic skewed log: one device ('hot') owns hot_share of all rows,
    the rest spread over 200 mids; two event days."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    n_hot = int(n * hot_share)
    rows = spark.range(n).select(
        F.when(F.col("id") < n_hot, F.lit("hot"))
        .otherwise(F.concat(F.lit("m"), (F.col("id") % 200).cast("string")))
        .alias("mid"),
        (
            F.lit(base)
            + F.make_interval(
                secs=((F.col("id") * 5) % (2 * 86400)).cast("double")
            )
        ).alias("ts"),
        F.lit("1").alias("is_new"),
        (F.col("id") % 7 == 0).alias("is_entry"),
        F.col("id").alias("event_id"),
    )
    return rows


def test_uv_bounce_correct_under_hot_key(spark):
    """One mid = 50% of events (the bot-device scenario, SURVEY §4.2): the
    keyed operators must stay correct — UV counts the hot device once per
    day like any other, bounce processes its giant per-key window — and
    complete without a straggler dominating (generous wall-clock smoke
    bound; the load-bearing spread assertions are below)."""
    import time

    from gmall_flink_yb_spark.operators.bounce import detect_bounce_batch
    from gmall_flink_yb_spark.operators.visitor import unique_visitors_batch

    ev = _hot_key_events(spark).persist()
    try:
        t0 = time.time()
        uv = {
            str(r["_uv_date"]): r["uv"]
            for r in unique_visitors_batch(ev, key_col="mid", ts_col="ts")
            .groupBy("_uv_date")
            .agg(F.count(F.lit(1)).alias("uv"))
            .collect()
        }
        detect_bounce_batch(
            ev, key_col="mid", ts_col="ts", is_entry=F.col("is_entry"),
            window_seconds=10, order_cols=["event_id"],
        ).count()
        elapsed = time.time() - t0
    finally:
        ev.unpersist()
    # 200 cold mids + hot appear on both days; ids < 20k (hot) hit day 1
    # only via modulo spread — assert exact per-day distinct counts
    assert uv == {"2024-01-01": 201, "2024-01-02": 201}
    assert elapsed < 120, f"hot-key pipeline took {elapsed:.0f}s"


def test_salted_agg_spreads_hot_key(spark):
    """The documented threshold mechanism: a key with 50% row share melts
    one reducer (share >> 1/shuffle_partitions); salting with b buckets
    must cut the max per-group row count to ~hot/b."""
    n, buckets = 40_000, 16
    ev = _hot_key_events(spark, n=n)
    salted_sizes = (
        ev.withColumn("_salt", (F.rand(seed=42) * buckets).cast("int"))
        .groupBy("mid", "_salt")
        .count()
    )
    hot_max = (
        salted_sizes.filter(F.col("mid") == "hot")
        .agg(F.max("count").alias("m"))
        .collect()[0]["m"]
    )
    hot_total = n // 2
    # unsalted: one group of hot_total rows; salted: ~hot_total/buckets,
    # allow 2x for rand() imbalance
    assert hot_max <= 2 * hot_total / buckets, hot_max
    # and the salted aggregate still returns the exact answer
    from gmall_flink_yb_spark.operators.skew import salted_agg

    got = {
        r["mid"]: r["n"]
        for r in salted_agg(
            ev, ["mid"], {"n": F.count(F.lit(1))}, buckets=buckets
        ).collect()
    }
    assert got["hot"] == hot_total
    assert sum(got.values()) == n


def test_hot_shingle_generates_no_prefix_candidates(spark):
    """PPJoin prefix filter under a 100%-df boilerplate shingle: every doc
    shares the same 12-token header, so a naive inverted-index self-join
    fans out to all ~n^2/2 pairs through those shingles; the prefix filter
    must rank them LAST (df desc) and generate ZERO candidates when the
    docs' unique bodies don't overlap. This is the documented skew answer
    for jaccard at scale (functions/dedup.py::jaccard_prefix_pairs)."""
    from gmall_flink_yb_spark.functions.dedup import (
        _jaccard_prefix_candidates,
        jaccard_prefix_pairs,
        shingle_rows,
    )

    n_docs = 80
    boiler = "terms of service apply to all content on this site always"
    docs = spark.createDataFrame(
        [
            (
                i,
                boiler
                + " "
                + " ".join(f"u{i}w{j}" for j in range(30)),
            )
            for i in range(n_docs)
        ],
        "doc_id long, text string",
    )
    toks = shingle_rows(docs, "doc_id", "text", 3)
    # the hot shingles really are in every doc
    hot_df = (
        toks.groupBy("token").count().agg(F.max("count").alias("m")).collect()
    )[0]["m"]
    assert hot_df == n_docs
    # naive candidate fan-out through ANY shared shingle: all pairs
    a, b = toks.alias("a"), toks.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert naive == n_docs * (n_docs - 1) // 2
    # prefix filter: boilerplate ranks last, prefixes are disjoint
    assert _jaccard_prefix_candidates(toks, 0.5).count() == 0
    # and the full operator returns no pairs (ground truth: J ~= 0.25 < t)
    assert jaccard_prefix_pairs(docs, "doc_id", "text", 0.5).count() == 0


def test_uv_agg_strategy_matches_window(spark):
    """The skew-immune min_by-aggregate uv form must pick the same first
    rows as the row_number window form (deterministic: order includes the
    unique event_id)."""
    from gmall_flink_yb_spark.operators.visitor import unique_visitors_batch

    ev = _hot_key_events(spark, n=10_000, hot_share=0.5)
    kw = dict(key_col="mid", ts_col="ts", order_cols=["event_id"])
    agg_rows = sorted(
        (r["mid"], str(r["_uv_date"]), r["event_id"])
        for r in unique_visitors_batch(ev, strategy="agg", **kw).collect()
    )
    win_rows = sorted(
        (r["mid"], str(r["_uv_date"]), r["event_id"])
        for r in unique_visitors_batch(ev, strategy="window", **kw).collect()
    )
    assert agg_rows == win_rows and len(agg_rows) > 0


def test_salt_expr_deterministic(spark):
    """salt_on (ADVICE r6): xxhash64-derived salts are a pure function of
    the row, so two evaluations of the same plan assign identical salts
    (retry-stability)."""
    from gmall_flink_yb_spark.operators.skew import salt_expr

    facts = _hot_key_events(spark, n=5_000, hot_share=0.4)
    two = facts.select(
        "event_id",
        salt_expr(8, ["event_id"]).alias("s1"),
        salt_expr(8, ["event_id"]).alias("s2"),
    )
    assert two.filter("s1 <> s2").count() == 0


def test_aqe_splits_skewed_joins_at_run_time(spark):
    """Join skew is left to AQE: with a 40%-hot fact key, an inner join,
    a left join and an interval_join each run as
    ``SortMergeJoin(skew=true)`` (the hot partition split by map-output
    blocks), and each answer equals the same join with the skew split
    off. Small advisory/threshold sizes stand in for cluster-sized data;
    the run-time broadcast is off so every arm shuffles."""
    import datetime

    from gmall_flink_yb_spark.operators.order_wide import interval_join

    s = spark.newSession()
    s.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "16"
    )
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
    s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k"
    )
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    n, base = 20_000, datetime.datetime(2024, 1, 1)

    def mid(c):
        return F.when(c == 0, F.lit("hot")).otherwise(
            F.concat(F.lit("m"), c.cast("string"))
        )

    # ids below 40% of n all carry the hot key; four map tasks give AQE
    # map-output blocks to split the hot partition by
    facts = s.range(0, n, numPartitions=4).select(
        mid(F.when(F.col("id") < int(n * 0.4), 0).otherwise(F.col("id") % 200))
        .alias("mid"),
        F.col("id").alias("event_id"),
        (F.lit(base) + F.make_interval(secs=(F.col("id") % 60).cast("double")))
        .alias("ts"),
    )
    build = s.range(0, 200, 2, numPartitions=2).select(
        mid(F.col("id")).alias("dev_mid"),
        F.concat(F.lit("dev"), F.col("id").cast("string")).alias("label"),
        F.lit(base).alias("dev_ts"),
    )
    joins = {
        "inner": lambda: facts.join(
            build, facts["mid"] == build["dev_mid"], "inner"
        ),
        "left": lambda: facts.join(
            build, facts["mid"] == build["dev_mid"], "left"
        ),
        "interval": lambda: interval_join(
            facts, build, "mid", "dev_mid", "ts", "dev_ts",
            lower_seconds=-30.0, upper_seconds=0.0,
        ),
    }

    def run(make):
        df = make().select("event_id", "label")
        rows = sorted(tuple(r) for r in df.collect())
        return rows, df._jdf.queryExecution().executedPlan().toString()

    for how, make in joins.items():
        s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        got, plan = run(make)
        assert "SortMergeJoin(skew=true)" in plan, (how, plan)
        s.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        want, plain_plan = run(make)
        assert "skew=true" not in plain_plan, how
        assert got == want and len(got) > int(n * 0.4) // 2, how


def test_hot_keys_detector(spark):
    """hot_keys: returns exactly the pathological devices (the upstream
    bounce/CEP mitigation — salting can't help order-dependent windows)."""
    from gmall_flink_yb_spark.operators.skew import hot_keys

    ev = _hot_key_events(spark, n=20_000, hot_share=0.4)
    ks = hot_keys(ev, "mid", share_threshold=0.1)
    assert ks == ["hot"]
    assert hot_keys(ev, "mid", share_threshold=0.9) == []


def test_hot_cold_split_large_list_uses_join_not_literals(spark):
    """ADVICE r7: above ISIN_LITERAL_MAX hot values the hot/cold split
    switches from inlined isin literals to a broadcast semi/anti join —
    same rows either way (forced small-threshold comparison), NULL keys
    cold on both forms, and the large form's plan carries a join instead
    of the literal list."""
    import gmall_flink_yb_spark.operators.skew as skew_mod
    from gmall_flink_yb_spark.operators.skew import hot_cold_split

    df = spark.range(5_000).select(
        F.when(F.col("id") % 997 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("m"), (F.col("id") % 400).cast("string")))
        .alias("mid"),
        F.col("id").alias("event_id"),
    )
    hot_vals = [f"m{i}" for i in range(150)]  # > ISIN_LITERAL_MAX
    hot_j, cold_j = hot_cold_split(df, "mid", hot_vals)
    plan = hot_j._jdf.queryExecution().executedPlan().toString()
    assert "m149" not in plan  # no literal list in the join form
    assert "_hot_v" not in hot_j.columns and "_hot_v" not in cold_j.columns

    # force the isin form on the same list for a semantics comparison
    orig = skew_mod.ISIN_LITERAL_MAX
    try:
        skew_mod.ISIN_LITERAL_MAX = 10_000
        hot_i, cold_i = hot_cold_split(df, "mid", hot_vals)
    finally:
        skew_mod.ISIN_LITERAL_MAX = orig
    key = lambda frame: sorted(  # noqa: E731
        (r["mid"] or "", r["event_id"]) for r in frame.collect()
    )
    assert key(hot_j) == key(hot_i)
    assert key(cold_j) == key(cold_i)
    # NULL keys route cold under both forms
    assert hot_j.filter(F.col("mid").isNull()).count() == 0
    assert cold_j.filter(F.col("mid").isNull()).count() > 0
    # and the split is a partition: nothing lost
    assert hot_j.count() + cold_j.count() == df.count()


def test_hot_keys_single_action(spark, monkeypatch):
    """VERDICT r7 #5: hot_keys runs its aggregate ONCE — a single collect
    with the total broadcast back, not a first() for the total plus a
    collect() for the rows (two jobs recomputing the same groupBy)."""
    # patch the concrete class (pyspark.sql.DataFrame is a facade in
    # Spark 4; instances are classic.dataframe.DataFrame)
    from pyspark.sql.classic.dataframe import DataFrame
    from gmall_flink_yb_spark.operators.skew import hot_keys

    actions = []
    orig_collect = DataFrame.collect
    orig_first = DataFrame.first

    def counting_collect(self):
        actions.append("collect")
        return orig_collect(self)

    def counting_first(self):
        actions.append("first")
        return orig_first(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrame, "first", counting_first)
    ev = _hot_key_events(spark, n=20_000, hot_share=0.4)
    assert hot_keys(ev, "mid", share_threshold=0.1) == ["hot"]
    assert actions == ["collect"]
    # empty frame: NULL total keeps no rows, still one action, result []
    actions.clear()
    empty = ev.filter(F.lit(False))
    assert hot_keys(empty, "mid", share_threshold=0.1) == []
    assert actions == ["collect"]
