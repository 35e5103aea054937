"""Behavior + plan invariants for the r11-staged batch (typed
Spark-vs-DuckDB value checks live in test_staged_r7's parametrization;
these pin the SHAPES — BPE's greedy merge semantics, the matview's
O(batch) appends / replay guard / crash-safe compaction — and the plan
properties the 100 TB story depends on."""

import glob
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from activecampaign_api_data_pipeline_spark import staged_r11
from activecampaign_api_data_pipeline_spark.operators.bpe import (
    bpe_apply,
    bpe_train,
    bpe_word_table,
)
from activecampaign_api_data_pipeline_spark.operators.matview import (
    append_matview,
    applied_batches_full,
    build_matview,
    compact_matview,
    read_matview,
)

SF = "/root/testdata/sf0.001"


def _plan(spark, name, sf=SF):
    df = getattr(staged_r11, name)(spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


# ---- BPE trainer kernel ----

def test_bpe_greedy_overlap_and_merge_order(spark):
    # 'aaab' x3, 'ab' x2: round 1 counts (a,a)=6, (a,b)=5 -> merge aa
    # (greedy left-to-right: 'aaab' -> [aa, a, b], NOT [a, aa, b]);
    # round 2 counts (aa,a)=3, (a,b)=5 -> merge ab -> 'aaab'=[aa, ab]
    words = spark.createDataFrame(
        [("aaab", 3), ("ab", 2)], "word string, cnt long"
    )
    merges, state = bpe_train(words, 2)
    assert [(m["lhs"], m["rhs"], m["n"]) for m in merges] == [
        ("a", "a", 6),
        ("a", "b", 5),
    ]
    toks = {
        r["word"]: r["tokens"]
        for r in bpe_apply(words, merges).collect()
    }
    assert toks["aaab"] == ["aa", "ab"]
    assert toks["ab"] == ["ab"]


def test_bpe_tiebreak_is_lexicographic(spark):
    # equal counts: ('ba':1, 'ac':1) pairs (b,a)=1 and (a,c)=1 -> the
    # lexicographically smallest (lhs, rhs) wins, deterministic in both
    # engines
    words = spark.createDataFrame(
        [("ba", 1), ("ac", 1)], "word string, cnt long"
    )
    merges, _ = bpe_train(words, 1)
    assert (merges[0]["lhs"], merges[0]["rhs"]) == ("a", "c")


def test_bpe_multichar_symbols_merge_cleanly(spark):
    # after merging (l,l), the pair (ll, o) must be countable and
    # mergeable — multi-char symbols ride the same spaced representation
    words = spark.createDataFrame([("llllo", 4)], "word string, cnt long")
    merges, _ = bpe_train(words, 2)
    assert (merges[0]["lhs"], merges[0]["rhs"]) == ("l", "l")
    m2 = (merges[1]["lhs"], merges[1]["rhs"])
    assert m2 == ("ll", "ll")  # (ll,ll)=4 beats (ll,o)=4 lexicographically
    toks = bpe_apply(words, merges).collect()[0]["tokens"]
    assert toks == ["llll", "o"]


def test_bpe_no_cross_word_or_cross_symbol_false_merge(spark):
    # pattern ' a  b ' must not match inside 'xa b' tokens: word 'xab'
    # merged on (a,b) keeps its x intact and separate
    words = spark.createDataFrame(
        [("ab", 5), ("xab", 1)], "word string, cnt long"
    )
    merges, _ = bpe_train(words, 1)
    assert (merges[0]["lhs"], merges[0]["rhs"]) == ("a", "b")
    toks = {
        r["word"]: r["tokens"] for r in bpe_apply(words, merges).collect()
    }
    assert toks["xab"] == ["x", "ab"]


def test_bpe_train_plan_no_python_no_cartesian(spark):
    # each round's pair aggregate is pure JVM; the final merges frame is
    # driver-assembled (K rows), so census the AGGREGATE plan itself
    words = bpe_word_table(
        staged_r11.load_table(spark, SF, "documents").select("text")
    )
    from activecampaign_api_data_pipeline_spark.operators.bpe import (
        _pair_counts,
        _spaced,
    )

    state = words.withColumn("s", _spaced("word"))
    p = _pair_counts(state)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "partial_sum" in p or "HashAggregate" in p  # map-side combine


def test_bpe_tokenize_weighted_vocab_conserves_tokens(spark):
    # total weighted token count after K merges == total char count
    # minus one char per merge occurrence; cheaper invariant: the
    # weighted vocab total equals the total symbol count of the final
    # state — no token invented or dropped by the apply path
    words = bpe_word_table(
        staged_r11.load_table(spark, SF, "documents").select("text")
    )
    merges, state = bpe_train(words, 2)
    applied = bpe_apply(words, merges)
    total_apply = applied.select(
        F.sum(F.size("tokens") * F.col("cnt"))
    ).first()[0]
    total_state = state.select(
        F.sum((F.size(F.split(F.trim("s"), "  "))) * F.col("cnt"))
    ).first()[0]
    assert total_apply == total_state > 0


# ---- matview store ----

def _facts(spark):
    return spark.createDataFrame(
        [(1, 10, 100), (1, 11, 50), (2, 12, 30)],
        "k long, oid long, cents long",
    )


def test_matview_replay_guard_and_values(spark):
    root = tempfile.mkdtemp(prefix="mv_t_")
    try:
        f = _facts(spark)
        build_matview(f.where("oid = 10"), root, ["k"], "cents", batch_key="b0")
        assert append_matview(f.where("oid > 10"), root, "b1")
        assert not append_matview(f.where("oid > 10"), root, "b1")  # replay
        got = {r["k"]: (r["n_rows"], r["sum_m"], r["min_m"], r["max_m"])
               for r in read_matview(spark, root).collect()}
        assert got == {1: (2, 150, 50, 100), 2: (1, 30, 30, 30)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_matview_append_is_o_batch(spark):
    # an append writes ONLY the batch's partial rows: partials row count
    # grows by (distinct keys in batch), not by history size
    root = tempfile.mkdtemp(prefix="mv_ob_")
    try:
        f = _facts(spark)
        build_matview(f, root, ["k"], "cents", batch_key="b0")
        n0 = spark.read.parquet(f"{root}/partials").count()
        append_matview(f.where("k = 1"), root, "b1")
        n1 = spark.read.parquet(f"{root}/partials").count()
        assert n0 == 2 and n1 == 3  # one new partial row (key 1 only)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_matview_compact_preserves_read_and_guard(spark):
    root = tempfile.mkdtemp(prefix="mv_c_")
    try:
        f = _facts(spark)
        build_matview(f.where("oid = 10"), root, ["k"], "cents", batch_key="b0")
        append_matview(f.where("oid = 11"), root, "b1")
        before = sorted(map(tuple, read_matview(spark, root).collect()))
        compact_matview(spark, root)
        after = sorted(map(tuple, read_matview(spark, root).collect()))
        assert before == after  # merge associativity: bit-identical read
        # partials folded to one row per key
        assert spark.read.parquet(f"{root}/partials").count() == 1
        # the guard survives the fold through the params ledger
        assert {"b0", "b1"} <= applied_batches_full(spark, root)
        assert not append_matview(f.where("oid = 11"), root, "b1")
        # and a genuinely new batch still lands
        assert append_matview(f.where("oid = 12"), root, "b2")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_matview_compact_recovers_mid_swap_crash(spark):
    # crash between rename(live->old) and rename(staging->live): the
    # re-run must restore the folded copy, never delete both survivors
    root = tempfile.mkdtemp(prefix="mv_r_")
    try:
        f = _facts(spark)
        build_matview(f, root, ["k"], "cents", batch_key="b0")
        append_matview(f.where("k = 2"), root, "b1")
        want = sorted(map(tuple, read_matview(spark, root).collect()))
        live = f"{root}/partials"
        # simulate: a completed staging fold + live renamed aside
        compacted = spark.read.parquet(live).groupBy("k").agg(
            F.sum("n_rows").alias("n_rows"), F.sum("sum_m").alias("sum_m"),
            F.min("min_m").alias("min_m"), F.max("max_m").alias("max_m"),
        ).withColumn("_batch", F.lit("__compacted__"))
        compacted.write.parquet(f"{live}__compacting")
        os.rename(live, f"{live}__old")
        compact_matview(spark, root)
        got = sorted(map(tuple, read_matview(spark, root).collect()))
        assert got == want
        assert not glob.glob(f"{live}__*")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_matview_slicing_invariant(spark):
    # 1-slice and 3-slice micro-batchings must produce the identical
    # view (merge associativity is what makes the streaming twin safe
    # under any trigger boundary)
    from activecampaign_api_data_pipeline_spark.streaming.incremental import (
        stream_into_matview,
    )

    facts = staged_r11._order_facts(spark, SF)

    def run(n_slices):
        root = tempfile.mkdtemp(prefix="mv_s_")
        try:
            sd, view, ckpt = (os.path.join(root, d) for d in ("in", "v", "c"))
            os.makedirs(sd)
            for i in range(n_slices):
                sl = facts.where(F.col("o_orderkey") % n_slices == i)
                tmp = os.path.join(root, f"s{i}")
                sl.coalesce(1).write.parquet(tmp)
                part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
                dst = os.path.join(sd, f"{i:03d}.parquet")
                shutil.move(part, dst)
                os.utime(dst, (1_700_000_000 + i * 60,) * 2)
            stream = (
                spark.readStream.schema(
                    "o_custkey long, o_orderkey long, cents long"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(sd)
            )
            q = stream_into_matview(
                stream, view, ckpt, key_cols=["o_custkey"], measure="cents"
            )
            assert q.awaitTermination(300)
            return sorted(map(tuple, read_matview(spark, view).collect()))
        finally:
            shutil.rmtree(root, ignore_errors=True)

    assert run(1) == run(3)


def test_matview_queries_plan_clean(spark):
    for name in ("k_matview_roundtrip", "t_stream_matview"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p
        assert "EvalPython" not in p


# ---- second batch: dim matview, stream-stream left outer, Q6 ----

def test_q6_all_predicates_pushed(spark):
    # no join; all three predicate columns reach the scan (the plan
    # toString truncates the PushedFilters list, so assert the prefix
    # and the column-pruned ReadSchema — exactly the 4 needed columns)
    p = _plan(spark, "q6_forecast_revenue")
    assert "Join" not in p
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount),"
        " IsNotNull(l_quantity)" in p
    )
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp" in p
    )


def test_stream_left_join_outer_rows_match_batch(spark):
    # the streaming left-outer result must contain BOTH verdict kinds and
    # exactly match the batch left join (the typed oracle pins values;
    # this pins the outer rows actually flushed before the drain)
    out = staged_r11.t_stream_left_join(spark, SF)
    n_outer = out.filter(F.col("click_id").isNull()).count()
    n_inner = out.filter(F.col("click_id").isNotNull()).count()
    assert n_outer > 0 and n_inner > 0
    ev = staged_r11.load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    p = ev.filter("event_type = 'purchase'")
    c = (
        ev.filter("event_type = 'click'")
        .withColumnRenamed("user_id", "c_uid")
        .withColumnRenamed("ts", "c_ts")
    )
    joined = p.join(
        c,
        (p["user_id"] == c["c_uid"])
        & (c["c_ts"] >= p["ts"] - F.expr("INTERVAL 1 HOUR"))
        & (c["c_ts"] <= p["ts"]),
        "leftOuter",
    )
    assert joined.count() == n_outer + n_inner


def test_matview_dim_broadcasts(spark):
    # the per-batch dim enrich must be a broadcast join (the dims are
    # small by contract); fold partials only afterwards
    facts = staged_r11._order_facts(spark, SF)
    cust = staged_r11.load_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = staged_r11.load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name"
    )
    dim = F.broadcast(
        cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"]).select(
            "c_custkey", "n_name"
        )
    )
    enriched = facts.join(
        dim, facts["o_custkey"] == dim["c_custkey"], "inner"
    ).select("n_name", "cents")
    p = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bpe_train_survives_fully_merged_words(spark):
    # a word that collapses to ONE symbol must stop contributing pairs
    # instead of crashing the next round's expansion (Spark's
    # sequence(1,0) is DESCENDING [1,0], not empty — the K=16 corpus bug)
    words = spark.createDataFrame(
        [("ab", 10), ("cd", 1), ("ce", 1)], "word string, cnt long"
    )
    merges, state = bpe_train(words, 3)
    assert (merges[0]["lhs"], merges[0]["rhs"]) == ("a", "b")
    # round 2 still works with 'ab' fully merged; (c,d)/(c,e) tie -> (c,d)
    assert (merges[1]["lhs"], merges[1]["rhs"]) == ("c", "d")
    assert (merges[2]["lhs"], merges[2]["rhs"]) == ("c", "e")
    toks = {r["word"]: r["tokens"] for r in bpe_apply(words, merges).collect()}
    assert toks["ab"] == ["ab"]


# ---- join-view store (delta-join IVM) ----

def _jv_create(spark, root):
    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        create_join_view,
    )

    create_join_view(
        spark, root, join_key="ok", group_cols=["g"], measure="m", n_buckets=4
    )


def test_join_view_counts_pairs_exactly_once(spark):
    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        append_join_side,
        read_join_view,
    )

    # order 1 has 2 items, order 2 has 1; sides interleave so pairs span
    # batches in both directions
    a = spark.createDataFrame([(1, 10), (2, 20)], "ok long, g long")
    b = spark.createDataFrame(
        [(1, 5), (1, 7), (2, 9)], "ok long, m long"
    )
    root = tempfile.mkdtemp(prefix="jv_p_")
    try:
        _jv_create(spark, root)
        assert append_join_side(a.where("ok = 1"), root, "a", "k0")
        assert append_join_side(b.where("m = 5"), root, "b", "k0")   # pair (1,5)
        assert append_join_side(b.where("m != 5"), root, "b", "k1")  # (1,7),(2,9) half-matched
        assert append_join_side(a.where("ok = 2"), root, "a", "k1")  # closes (2,9)
        got = {r["g"]: (r["n_rows"], r["sum_m"])
               for r in read_join_view(spark, root).collect()}
        assert got == {10: (2, 12), 20: (1, 9)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_join_view_replay_guard_is_side_qualified(spark):
    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        append_join_side,
        read_join_view,
    )

    a = spark.createDataFrame([(1, 10)], "ok long, g long")
    b = spark.createDataFrame([(1, 5)], "ok long, m long")
    root = tempfile.mkdtemp(prefix="jv_r_")
    try:
        _jv_create(spark, root)
        assert append_join_side(a, root, "a", "k0")
        assert append_join_side(b, root, "b", "k0")  # same key, other side: distinct
        assert not append_join_side(b, root, "b", "k0")  # true replay no-ops
        assert not append_join_side(a, root, "a", "k0")
        got = read_join_view(spark, root).collect()
        assert [(r["g"], r["n_rows"], r["sum_m"]) for r in got] == [(10, 1, 5)]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_join_view_rejects_bad_side(spark):
    # a ValueError, not an assert: under `python -O` a bad side must
    # still raise before any history directory is written
    import pytest

    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        append_join_side,
        compact_join_history,
    )

    a = spark.createDataFrame([(1, 10)], "ok long, g long")
    root = tempfile.mkdtemp(prefix="jv_s_")
    try:
        _jv_create(spark, root)
        with pytest.raises(ValueError, match="side"):
            append_join_side(a, root, "c", "k0")
        with pytest.raises(ValueError, match="side"):
            compact_join_history(spark, root, "c")
        assert not glob.glob(f"{root}/c*")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_join_view_empty_delta_replay_cannot_double_count(spark):
    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        append_join_side,
        read_join_view,
    )

    # b lands FIRST (empty delta: no a history yet) -> its key goes to the
    # params ledger; after a lands (folding the pair), a replay of the
    # same b batch against the now-grown a history must NOT re-fold
    a = spark.createDataFrame([(1, 10)], "ok long, g long")
    b = spark.createDataFrame([(1, 5)], "ok long, m long")
    root = tempfile.mkdtemp(prefix="jv_e_")
    try:
        _jv_create(spark, root)
        assert append_join_side(b, root, "b", "k0")  # empty delta
        assert append_join_side(a, root, "a", "k0")  # folds the pair
        assert not append_join_side(b, root, "b", "k0")  # MUST no-op
        got = read_join_view(spark, root).collect()
        assert [(r["g"], r["n_rows"], r["sum_m"]) for r in got] == [(10, 1, 5)]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_join_view_history_read_prunes_buckets(spark):
    # the delta join must read only the batch's bucket partitions of the
    # other side's history: PartitionFilters on `bucket`, not a full scan
    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        append_join_side,
    )

    a, b = staged_r11._join_sides(spark, SF)
    root = tempfile.mkdtemp(prefix="jv_b_")
    try:
        _jv_create_wide(spark, root)
        append_join_side(a, root, "a", "k0")
        # build the pruned-history read the append performs and census it
        bucketed = b.limit(50).withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("ok")), F.lit(16)).cast("int")
        )
        touched = [r["bucket"] for r in bucketed.select("bucket").distinct().collect()]
        hist = (
            spark.read.option("basePath", f"{root}/a").parquet(f"{root}/a")
            .filter(F.col("bucket").isin(touched))
        )
        p = hist._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [bucket" in p.replace("#", " ").replace(
            "bucket", "bucket", 1
        ) or "PartitionFilters" in p
        assert "bucket" in p.split("PartitionFilters")[1][:120]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _jv_create_wide(spark, root):
    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        create_join_view,
    )

    create_join_view(
        spark, root, join_key="ok", group_cols=["o_custkey"],
        measure="cents", n_buckets=16,
    )


def test_join_view_history_compaction_preserves_deltas(spark):
    # fold side-a's batch dirs; a later b-batch's delta must be identical
    # to what the uncompacted history would have produced
    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        append_join_side,
        compact_join_history,
        read_join_view,
    )

    a = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "ok long, g long")
    b = spark.createDataFrame([(1, 5), (2, 9), (3, 4)], "ok long, m long")
    root = tempfile.mkdtemp(prefix="jv_hc_")
    try:
        _jv_create(spark, root)
        append_join_side(a.where("ok = 1"), root, "a", "k0")
        append_join_side(a.where("ok = 2"), root, "a", "k1")
        append_join_side(a.where("ok = 3"), root, "a", "k2")
        n_dirs_before = len(glob.glob(f"{root}/a/batch=*"))
        assert n_dirs_before == 3
        compact_join_history(spark, root, "a")
        assert glob.glob(f"{root}/a/batch=*") == [f"{root}/a/batch=__compacted__"]
        assert not glob.glob(f"{root}/a__*")
        append_join_side(b, root, "b", "k0")  # delta joins compacted history
        got = sorted(
            (r["g"], r["n_rows"], r["sum_m"])
            for r in read_join_view(spark, root).collect()
        )
        assert got == [(10, 1, 5), (20, 1, 9), (30, 1, 4)]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_join_history_compaction_recovers_mid_swap_crash(spark):
    from activecampaign_api_data_pipeline_spark.operators.matview_join import (
        append_join_side,
        compact_join_history,
        read_join_view,
    )

    a = spark.createDataFrame([(1, 10)], "ok long, g long")
    b = spark.createDataFrame([(1, 5)], "ok long, m long")
    root = tempfile.mkdtemp(prefix="jv_hr_")
    try:
        _jv_create(spark, root)
        append_join_side(a, root, "a", "k0")
        # simulate the crash: complete staging copy, live renamed aside
        shutil.copytree(f"{root}/a", f"{root}/a__compacting")
        os.rename(f"{root}/a", f"{root}/a__old")
        compact_join_history(spark, root, "a")  # recovery branch
        assert os.path.isdir(f"{root}/a")
        assert not glob.glob(f"{root}/a__*")
        append_join_side(b, root, "b", "k0")
        got = read_join_view(spark, root).collect()
        assert [(r["g"], r["n_rows"], r["sum_m"]) for r in got] == [(10, 1, 5)]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_bpe_encode_is_map_only_and_consistent(spark):
    # the encode plan (trainer already ran; this is the per-doc chain)
    # must be shuffle-free and Python-free: text never leaves the row
    p = _plan(spark, "text_bpe_encode")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "Exchange" not in p, f"encode chain must be map-only:\n{p}"
    out = staged_r11.text_bpe_encode(spark, SF)
    assert out.columns == ["doc_id", "n_tokens", "tokens"]
    row = out.orderBy("doc_id").first()
    assert row["n_tokens"] == len(row["tokens"]) > 0


# ---- batch 5: TPC-H shape completion (Q2/Q9/Q11/Q12/Q20 adapted) ----

def test_q2_broadcasts_dims_and_picks_one_supplier_per_part(spark):
    p = _plan(spark, "q2_min_cost_supplier")
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert p.count("BroadcastHashJoin") >= 2  # part + supplier dims
    rows = staged_r11.q2_min_cost_supplier(spark, SF).collect()
    assert rows
    parts = [r["partkey"] for r in rows]
    assert len(parts) == len(set(parts))  # correlated-min: one row/part
    assert all(r["cost_milli"] > 0 for r in rows)


def test_q9_five_way_join_shape(spark):
    p = _plan(spark, "q9_product_profit")
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert p.count("BroadcastHashJoin") >= 2  # part + supplier/nation
    rows = staged_r11.q9_product_profit(spark, SF).collect()
    assert rows
    keys = [(r["n_name"], r["o_year"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert keys == sorted(keys)  # deterministic order


def test_q11_scalar_subquery_is_single_row_broadcast(spark):
    # the global-total scalar joins back as a 1-row broadcast nested
    # loop — NOT a CartesianProduct — and every surviving share clears
    # the integer cross-multiplied threshold
    p = _plan(spark, "q11_important_parts")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p
    df = staged_r11.q11_important_parts(spark, SF)
    rows = df.collect()
    assert rows
    vals = [r["value_cents"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_q12_case_pivot_partitions_every_late_line(spark):
    p = _plan(spark, "q12_priority_shipping")
    assert "CartesianProduct" not in p and "EvalPython" not in p
    # the two-year window must reach the lineitem parquet scan
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1][:400]
    rows = staged_r11.q12_priority_shipping(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["high_line_count"] >= 0 and r["low_line_count"] >= 0
        assert r["high_line_count"] + r["low_line_count"] > 0


def test_q20_nested_agg_semi_join_yields_supplier_subset(spark):
    p = _plan(spark, "q20_promotion_parts")
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert "LeftSemi" in p  # qualifying suppliers gate the dim, not a join
    rows = staged_r11.q20_promotion_parts(spark, SF).collect()
    n_supp = staged_r11.load_table(spark, SF, "supplier").count()
    assert 0 < len(rows) <= n_supp
    keys = [r["s_suppkey"] for r in rows]
    assert keys == sorted(keys) and len(keys) == len(set(keys))


# ---- batch 6: HLL sketch store (maintained approximate distinct) ----

def _hll_tiny(spark):
    rows = [("g1", i % 7) for i in range(40)] + [("g2", i) for i in range(25)]
    return spark.createDataFrame(rows, "grp string, uid long")


def test_hll_store_lifecycle_and_replay_guard(spark):
    from activecampaign_api_data_pipeline_spark.operators.hll_store import (
        append_hll_view,
        build_hll_view,
        read_hll_view,
    )

    df = _hll_tiny(spark)
    root = tempfile.mkdtemp(prefix="hll_t_")
    try:
        build_hll_view(df.filter("uid % 2 = 0"), root, ["grp"], "uid",
                       batch_key="b0")
        assert append_hll_view(df.filter("uid % 2 = 1"), root, "b1")
        assert not append_hll_view(df.filter("uid % 2 = 1"), root, "b1")
        got = {r["grp"]: r["n_distinct_est"] for r in read_hll_view(spark, root).collect()}
        # tiny cardinalities estimate exactly (sparse mode)
        assert got == {"g1": 7, "g2": 25}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_hll_store_estimates_are_slicing_invariant(spark):
    # >= 2-batch ingests of the same facts must read identically no
    # matter how the facts sliced into batches (register-max merge;
    # the HIP-vs-composite caveat only separates 1-batch stores)
    from activecampaign_api_data_pipeline_spark.operators.hll_store import (
        append_hll_view,
        build_hll_view,
        read_hll_view,
    )

    facts = staged_r11._hll_order_facts(spark, SF)

    def ingest(n):
        root = tempfile.mkdtemp(prefix=f"hll_s{n}_")
        b = [facts.where(F.col("o_orderkey") % n == i) for i in range(n)]
        build_hll_view(b[0], root, ["o_orderpriority"], "o_custkey",
                       batch_key="batch_0")
        for i in range(1, n):
            append_hll_view(b[i], root, f"batch_{i}")
        got = {
            r["o_orderpriority"]: r["n_distinct_est"]
            for r in read_hll_view(spark, root).collect()
        }
        shutil.rmtree(root, ignore_errors=True)
        return got

    assert ingest(3) == ingest(5)


def test_hll_compaction_preserves_estimates_and_guard(spark):
    from activecampaign_api_data_pipeline_spark.operators.hll_store import (
        append_hll_view,
        build_hll_view,
        compact_hll_view,
        read_hll_view,
    )

    df = _hll_tiny(spark)
    root = tempfile.mkdtemp(prefix="hll_c_")
    try:
        build_hll_view(df.filter("uid % 3 = 0"), root, ["grp"], "uid",
                       batch_key="b0")
        append_hll_view(df.filter("uid % 3 = 1"), root, "b1")
        append_hll_view(df.filter("uid % 3 = 2"), root, "b2")
        pre = sorted(map(tuple, read_hll_view(spark, root).collect()))
        n_pre = spark.read.parquet(f"{root}/partials").count()
        compact_hll_view(spark, root)
        post = sorted(map(tuple, read_hll_view(spark, root).collect()))
        n_post = spark.read.parquet(f"{root}/partials").count()
        assert pre == post           # estimate-preserving fold
        assert n_post < n_pre        # one row per key remains
        assert n_post == 2
        # folded batch keys stay replay-guarded via the params ledger
        assert not append_hll_view(df.filter("uid % 3 = 1"), root, "b1")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_hll_compaction_recovers_mid_swap_crash(spark):
    from activecampaign_api_data_pipeline_spark.operators.hll_store import (
        append_hll_view,
        build_hll_view,
        compact_hll_view,
        read_hll_view,
    )

    df = _hll_tiny(spark)
    root = tempfile.mkdtemp(prefix="hll_r_")
    try:
        build_hll_view(df, root, ["grp"], "uid", batch_key="b0")
        append_hll_view(df.filter("uid < 5"), root, "b1")
        live = f"{root}/partials"
        # simulate the crash: complete staging copy, live renamed aside
        shutil.copytree(live, f"{live}__compacting")
        os.rename(live, f"{live}__old")
        compact_hll_view(spark, root)  # recovery branch, then re-fold
        assert os.path.isdir(live)
        assert not glob.glob(f"{live}__*")
        got = {r["grp"]: r["n_distinct_est"] for r in read_hll_view(spark, root).collect()}
        assert got == {"g1": 7, "g2": 25}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_hll_read_is_one_jvm_aggregate(spark):
    # the read path must be a single aggregate over partials — no
    # Python, no join, fact volume decoupled
    from activecampaign_api_data_pipeline_spark.operators.hll_store import (
        build_hll_view,
        read_hll_view,
    )

    df = _hll_tiny(spark)
    root = tempfile.mkdtemp(prefix="hll_p_")
    try:
        build_hll_view(df, root, ["grp"], "uid", batch_key="b0")
        p = read_hll_view(spark, root)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in p and "CartesianProduct" not in p
        assert "Join" not in p
        assert p.count("Exchange hashpartitioning") == 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---- batch 7: storage-format roundtrips (ORC, JSONL) ----

def test_orc_scan_prunes_partitions_and_pushes_predicates(spark):
    # the partition filter must prune directories (PartitionFilters) and
    # the value predicate must reach the ORC reader (PushedFilters) —
    # the same discipline the parquet lake gets for free
    facts = staged_r11.load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="orc_p_")
    try:
        facts.write.partitionBy("o_orderpriority").orc(f"{root}/t")
        back = (
            spark.read.orc(f"{root}/t")
            .filter((F.col("o_orderpriority") == "1-URGENT")
                    & (F.col("cents") > 1_000_000))
        )
        p = back._jdf.queryExecution().executedPlan().toString()
        assert "FileScan orc" in p
        part = p.split("PartitionFilters", 1)[1][:200]
        assert "o_orderpriority" in part
        pushed = p.split("PushedFilters", 1)[1][:200]
        assert "cents" in pushed
        # pruning is real: only the matching partition's rows come back
        assert back.select("o_orderpriority").distinct().collect()[0][0] == "1-URGENT"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_jsonl_roundtrip_is_lossless_vs_parquet_source(spark):
    # the JSONL-roundtripped aggregate must equal the same aggregate
    # straight off the parquet source — a lossy write, truncated read,
    # or tz-shifted render would diverge
    out = {tuple(r) for r in staged_r11.k_jsonl_roundtrip(spark, SF).collect()}
    src = staged_r11.load_table(spark, SF, "events").select(
        "event_type", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        (F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,2)") * 100)
        .cast("bigint").alias("value_cents"),
    )
    exp = {
        tuple(r)
        for r in src.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("value_cents").alias("value_cents_sum"),
            F.min("ts_s").alias("first_ts"),
            F.max("ts_s").alias("last_ts"),
        ).collect()
    }
    assert out == exp


# ---- batch 8: exact substring (repeated-span) dedup ----

def test_span_scrub_removes_cross_doc_and_within_doc_repeats(spark):
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        repeated_span_scrub,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta COMMON one two three four five six TAIL"),
        (2, "COMMON one two three four five six other words here now"),
        (3, "totally unique text with no repeats at all whatsoever"),
        (4, "short doc"),
        (5, "rep rep rep rep rep rep rep rep rep rep rep rep"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["cleaned"])
        for r in repeated_span_scrub(df, k=6).collect()
    }
    # the shared 7-token span vanishes from BOTH docs; flanks survive
    assert got[1] == (14, 7, "alpha beta gamma delta epsilon zeta tail")
    assert got[2] == (11, 4, "other words here now")
    # unique text and sub-k docs pass through intact
    assert got[3] == (9, 9, "totally unique text with no repeats at all whatsoever")
    assert got[4] == (2, 2, "short doc")
    # a within-doc repeated span scrubs the whole doc
    assert got[5] == (12, 0, "")


def test_span_dedup_plan_is_jvm_only(spark):
    p = _plan(spark, "llm_span_dedup")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    out = staged_r11.llm_span_dedup(spark, SF)
    rows = out.collect()
    assert rows and all(0 <= r["n_kept"] <= r["n_tokens"] for r in rows)
    # the corpus has planted near-duplicates: something must scrub, and
    # most docs must survive untouched
    scrubbed = [r for r in rows if r["n_kept"] < r["n_tokens"]]
    assert 0 < len(scrubbed) < len(rows)


def test_span_store_first_occurrence_wins_and_replay_guard(spark):
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        span_store_ingest_scrub,
    )

    rows = [
        (0, "COMMON one two three four five six first copy survives here"),
        (1, "COMMON one two three four five six second copy must scrub"),
        (2, "unique text in the later batch stays entirely intact ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    root = tempfile.mkdtemp(prefix="spanstore_t_")
    try:
        got = {}
        for b in range(3):
            out = span_store_ingest_scrub(
                df.filter(F.col("doc_id") % 3 == b), f"{root}/s", f"batch_{b}"
            )
            for r in out.collect():
                got[r["doc_id"]] = (r["n_kept"], r["cleaned"])
        # batch-0 copy survives (df=1 at its ingest); batch-1 copy scrubs
        assert got[0] == (11, "common one two three four five six first copy survives here")
        assert got[1] == (4, "second copy must scrub")
        assert got[2] == (10, "unique text in the later batch stays entirely intact ok")
        # replaying batch_1 scrubs against the CURRENT store without
        # double-counting: its span df stays 2, result unchanged
        replay = span_store_ingest_scrub(
            df.filter(F.col("doc_id") % 3 == 1), f"{root}/s", "batch_1"
        )
        r = replay.collect()[0]
        assert (r["n_kept"], r["cleaned"]) == got[1]
        # store partials: one count row per (shingle, batch) — no growth
        # from the replay
        parts = spark.read.parquet(f"{root}/s/partials")
        assert parts.select("_batch").distinct().count() == 3
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_span_scrub_handles_null_and_empty_text(spark):
    # NULL text must behave as an empty document (n_tokens 0, cleaned
    # ''), not ripple size(NULL) = -1 through the invariants
    from activecampaign_api_data_pipeline_spark.operators.dedup import (
        repeated_span_scrub,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "some actual words here")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["cleaned"])
        for r in repeated_span_scrub(df, k=3).collect()
    }
    assert got[1] == (0, 0, "")
    assert got[2] == (0, 0, "")
    assert got[3] == (4, 4, "some actual words here")


def test_bpe_batched_rounds_match_sequential_when_disjoint(spark):
    # production flag (r10 verdict item 5b): non-interacting top pairs
    # — 'ab' x9, 'cd' x8, 'ef' x7 share no symbols, so one batched
    # round of 3 must learn EXACTLY the sequential trainer's list
    words = spark.createDataFrame(
        [("ab", 9), ("cd", 8), ("ef", 7)], "word string, cnt long"
    )
    seq, seq_state = bpe_train(words, 3)
    bat, bat_state = bpe_train(words, 3, batch_merges=3)
    assert [(m["lhs"], m["rhs"], m["n"]) for m in bat] == [
        (m["lhs"], m["rhs"], m["n"]) for m in seq
    ] == [("a", "b", 9), ("c", "d", 8), ("e", "f", 7)]
    assert {r["word"]: r["s"] for r in bat_state.collect()} == {
        r["word"]: r["s"] for r in seq_state.collect()
    }


def test_bpe_batched_defers_conflicting_pairs_to_next_round(spark):
    # 'aaab' x3, 'ab' x2 (the greedy-overlap fixture): round-1 pairs
    # (a,a)=6 and (a,b)=5 CONFLICT on 'a', and (a,b) additionally
    # conflicts with merged 'aa' chaining — the batched trainer must
    # take only (a,a) in round 1, recount, then learn (a,b)=5 with the
    # POST-merge count, landing on the sequential result exactly
    words = spark.createDataFrame(
        [("aaab", 3), ("ab", 2)], "word string, cnt long"
    )
    seq, _ = bpe_train(words, 2)
    bat, _ = bpe_train(words, 2, batch_merges=4)
    assert [(m["lhs"], m["rhs"], m["n"]) for m in bat] == [
        (m["lhs"], m["rhs"], m["n"]) for m in seq
    ]


def test_bpe_apply_chunked_equals_single_chain(spark):
    # chunking is pure plan shape (r10 verdict item 5a): tokens must be
    # byte-identical across chunk sizes that do / don't split the chain
    words = spark.createDataFrame(
        [("abcdef", 4), ("abcd", 3), ("abab", 2), ("cdef", 2)],
        "word string, cnt long",
    )
    merges, _ = bpe_train(words, 5)
    assert len(merges) == 5
    one = {r["word"]: r["tokens"] for r in bpe_apply(words, merges).collect()}
    for cs in (1, 2, 3):
        got = {
            r["word"]: r["tokens"]
            for r in bpe_apply(words, merges, chunk_size=cs).collect()
        }
        assert got == one, f"chunk_size={cs} diverged"
    # the chunked frame must not leak the scratch column
    assert "_bpe_s" not in bpe_apply(words, merges, chunk_size=2).columns
