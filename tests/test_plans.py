"""Physical-plan assertions: the scale properties README.md promises.

These parse ``explain(formatted)`` output — brittle across Spark majors
by nature, but they pin the properties that matter at 100 TB: filters
reach the parquet scan, scans are column-pruned, dims broadcast, and
aggregates run map-side first.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import Window
from pyspark.sql import functions as F

from lawfirm_data_pipeline_spark.io import load_table
from lawfirm_data_pipeline_spark.operators.relations import hydrate_one_to_one
from lawfirm_data_pipeline_spark.operators.similarity import brute_force_topk

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    orders = load_table(spark, SF, "orders")
    df = orders.filter(F.col("o_totalprice") > 100000).select("o_orderkey", "o_totalprice")
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice" in plan


def test_column_pruning_in_read_schema(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    # ReadSchema carries only the two projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


def test_small_dim_join_broadcasts(spark):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    df = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select("o_orderkey", "c_name")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_groupby_plans_partial_aggregation(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = plan_of(df)
    # partial + final HashAggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_similarity_avoids_cartesian_product(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    df = brute_force_topk(emb, queries, k=5)
    plan = plan_of(df)
    # non-equi join against the broadcast query side: nested-loop over a
    # broadcast (bounded) side is fine; an unbroadcast CartesianProduct
    # would shuffle-materialize |corpus| x |queries|
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_hydration_join_prunes_unused_relation_columns(spark):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    hydrated = hydrate_one_to_one(
        orders, customer, parent_key="o_custkey", child_fk="c_custkey", struct_col="customer"
    )
    df = hydrated.select("o_orderkey", "customer.c_name")
    plan = plan_of(df)
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    cust_schema = [ln for ln in read_schemas if "c_name" in ln]
    assert cust_schema, "customer scan missing"
    # unreferenced customer columns are pruned from the scan
    assert all("c_acctbal" not in ln for ln in cust_schema)


def _n_nodes(plan: str, name: str) -> int:
    """Count physical nodes by their detail header '(N) <name>' — the
    tree section prints '<name> (N)', so this counts each node once."""
    import re

    return len(re.findall(rf"\(\d+\) {name}", plan))


def test_sessionize_single_exchange(spark):
    """q63's lag + cumulative session id + per-session agg all share the
    user_id partitioning: exactly ONE hash exchange in the plan."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q63_sessionize"](spark, SF))
    assert _n_nodes(plan, "Exchange") == 1, plan
    assert _n_nodes(plan, "Scan parquet") == 1, plan


def test_window_frames_single_exchange_single_sort(spark):
    """q64's three ROWS frames share one window spec — one exchange,
    one sort, one Window node."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q64_window_frames"](spark, SF))
    assert _n_nodes(plan, "Exchange") == 1, plan
    assert _n_nodes(plan, "Sort") == 1, plan
    assert _n_nodes(plan, "Window") == 1, plan


def test_conditional_agg_single_scan(spark):
    """q62 computes four filtered aggregates in one scan of orders, with
    map-side partial aggregation before its single exchange."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q62_conditional_agg"](spark, SF))
    assert _n_nodes(plan, "Scan parquet") == 1, plan
    assert _n_nodes(plan, "Exchange") == 1, plan
    assert "partial_" in plan, plan


def test_correlated_agg_filter_is_window_not_selfjoin(spark):
    """q67 must not self-join orders: one scan, one exchange, no join
    operator anywhere in the plan."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q67_above_cust_avg"](spark, SF))
    assert _n_nodes(plan, "Scan parquet") == 1, plan
    assert _n_nodes(plan, "Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_quantize_is_pure_map_stage(spark):
    """q72: no exchange at all — quantization scales as the scan does."""
    from lawfirm_data_pipeline_spark.operators.similarity import quantize_int8

    emb = load_table(spark, SF, "embeddings")
    plan = plan_of(quantize_int8(emb))
    assert "Exchange" not in plan, plan


def test_neardup_lsh_gate_no_full_table_broadcast(spark):
    """q37's registered plan must not broadcast the embeddings table:
    candidates come from a shuffled equi-join on the LSH bucket key.
    (Round 1 registered broadcast-all-pairs — a scale-killer.)"""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q37_embedding_neardup"](spark, SF))
    # round 1's forced broadcast-all-pairs showed up as an Inner BNLJ on
    # the vid<vid inequality; the gated plan's only nested-loop joins are
    # the benign 1-row mean-vector Cross broadcasts (centering), and the
    # candidate join is an EQUI join on the bucket key (Catalyst may pick
    # an un-forced BroadcastHashJoin at tiny scale — stats-driven, falls
    # back to SMJ at size)
    assert "BroadcastNestedLoopJoin Inner" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    ), plan


def test_ngram_jaccard_registered_path_is_df_capped(spark):
    """q32's candidate self-join runs on the df-capped shingle index: the
    plan carries the document-frequency aggregate + semi-join gate that
    bounds hot-shingle blowup (and no broadcast/cartesian products).
    Pinned on the generator itself — the registered q32 serves the
    session-cached localCheckpoint of this exact plan, whose lineage is
    truncated."""
    from lawfirm_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from lawfirm_data_pipeline_spark.oracle._shared import planted_corpus

    plan = plan_of(
        ngram_jaccard_pairs(planted_corpus(spark, SF), threshold=0.5, n=3, df_cap=64)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # df-cap gate: a LeftSemi join feeds the candidate self-join
    assert "LeftSemi" in plan, plan


def test_df_cap_exactness_and_gating():
    """With a tiny df_cap, a stop-shingle shared by every doc cannot
    generate candidates by itself, but genuinely similar pairs are still
    found and their Jaccard is computed over FULL shingle sets."""
    from lawfirm_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from lawfirm_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="tests")
    stop = "the quick brown"
    docs = spark.createDataFrame(
        [
            # near-dup pair: shares rare shingles AND the stop shingle
            (1, f"{stop} alpha beta gamma delta"),
            (2, f"{stop} alpha beta gamma epsilon"),
            # unrelated docs: share ONLY the stop shingle with everyone
            (3, f"{stop} zeta eta theta iota"),
            (4, f"{stop} kappa lambda mu nu"),
        ],
        ["doc_id", "text"],
    )
    exact = {
        (r["ida"], r["idb"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0, n=3).collect()
    }
    capped = {
        (r["ida"], r["idb"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0, n=3, df_cap=2).collect()
    }
    # the similar pair survives the gate with its EXACT (full-set) jaccard
    assert capped[(1, 2)] == exact[(1, 2)]
    # pairs connected only through the >cap stop shingle are gated out
    assert (3, 4) not in capped and (3, 4) in exact


def test_rebalance_scan_fans_out_single_split_files(spark):
    """Driver parquet is single-row-group → scans collapse to one task;
    rebalance_scan repartitions to core count so CPU-bound text stages
    use the machine.  (Opt-in: only safe upstream of exact arithmetic.)"""
    from lawfirm_data_pipeline_spark.io import load_table, rebalance_scan

    docs = load_table(spark, SF, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    fanned = rebalance_scan(docs)
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert fanned.count() == docs.count()


def test_bm25_idf_broadcast_and_no_cartesian(spark):
    """q90: the IDF table and corpus constants broadcast; the only
    corpus-sized exchange keys on doc id.  No cartesian/BNLJ-inner
    blowups (the 1-row constants ride benign Cross broadcasts)."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q90_bm25_topk"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin Inner" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # top-k is sort-limit (per-partition heads), not a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_oov_vocab_joins_broadcast(spark):
    """q94: the vocabulary side of the coverage join must broadcast —
    the exploded corpus stream never shuffles for the join."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q94_oov_rate"](spark, SF))
    assert "BroadcastHashJoin LeftOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_dedup_anti_join_on_fingerprints(spark, monkeypatch):
    """q92: the history check is a LeftAnti join keyed on the md5
    fingerprint — the exchange carries hashes, never documents.
    Inspected with the survivor-id pin swapped for the identity
    (production pins that set, which hides the stage from the final
    explain)."""
    from lawfirm_data_pipeline_spark.operators import dedup
    from lawfirm_data_pipeline_spark.oracle._shared import planted_corpus
    from pyspark.sql import functions as F

    monkeypatch.setattr(dedup, "pin", lambda df: df)
    corpus = planted_corpus(spark, SF)
    lazy = dedup.incremental_exact_dedup(
        corpus.filter(F.col("doc_id") >= 100000),
        corpus.filter(F.col("doc_id") < 100000),
    )
    plan = plan_of(lazy)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # and the registered (pinned) q92 plan stays compact
    monkeypatch.undo()
    from lawfirm_data_pipeline_spark.queries import QUERIES

    final = plan_of(QUERIES["q92_incremental_dedup"](spark, SF))
    assert final.count(") Scan parquet") <= 3, final
    assert "CartesianProduct" not in final


def test_corpus_composite_scans_documents_once(spark):
    """q97: the carry-struct rewrite must keep the plan single-scan —
    the semi-join-back version scanned (and tokenized) documents twice."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q97_corpus_pipeline"](spark, SF))
    assert _n_nodes(plan, "Scan parquet") == 1, plan


def test_q54_curation_scans_documents_once(spark):
    """q54: same single-scan pin after the exact_dedup carry rewrite."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q54_curation_pipeline"](spark, SF))
    assert _n_nodes(plan, "Scan parquet") == 1, plan


def test_triangle_closing_join_is_shuffle_hash(spark):
    from lawfirm_data_pipeline_spark.operators.graph_metrics import (
        copurchase_edges,
        triangle_counts,
    )

    li = load_table(spark, SF, "lineitem")
    plan = plan_of(triangle_counts(copurchase_edges(li)))
    # the ~10x-|E| wedge stream must not be SORTED for its probe join
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_round_join_broadcasts_ranks(spark):
    from lawfirm_data_pipeline_spark.operators.graph_metrics import (
        copurchase_edges,
        pagerank_fixed,
    )

    li = load_table(spark, SF, "lineitem")
    # each round's input is pinned, so the plan shows the final round's
    # joins; |V| picks the join strategy once, before the loop, so that
    # round stands for every round
    plan = plan_of(pagerank_fixed(copurchase_edges(li), iters=3))
    # |V|-row rank table broadcast into the round's edge join
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_pagerank_large_graph_drops_broadcast(spark):
    """Beyond BROADCAST_MAX_NODES the per-round rank join must revert to
    a shuffle equi-join automatically (r3 verdict #4: the fallback used
    to be a comment, with driver OOM as the failure mode)."""
    from lawfirm_data_pipeline_spark.operators.graph_metrics import (
        copurchase_edges,
        pagerank_fixed,
    )

    li = load_table(spark, SF, "lineitem")
    # disable Catalyst's stats-based auto-broadcast (as the BFS twin
    # does): at sf0.01 the rank table's size ESTIMATE is under the
    # threshold, but this test asserts what the dropped HINT contributes
    # — at 100 TB stats would be over threshold, i.e. this same state
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the final round's plan (see the broadcast twin above)
        plan = plan_of(pagerank_fixed(copurchase_edges(li), iters=3, broadcast_max_nodes=0))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan, plan
    # the shuffle fallback must actually join — a plan with no join
    # would pass the absence assert vacuously
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_bfs_broadcast_switches_on_node_count(spark):
    """Both BFS frontier-join shapes: broadcast at small |V|, shuffle
    equi-join once |V| exceeds the cap."""
    from lawfirm_data_pipeline_spark.operators.graph_metrics import (
        bfs_distances,
        copurchase_edges,
    )

    li = load_table(spark, SF, "lineitem")
    edges = copurchase_edges(li)
    seeds = edges.select(F.col("src").alias("node")).limit(3)
    # disable Catalyst's own stats-based auto-broadcast so the plans
    # show exactly what the HINT contributes (at 100 TB the stats
    # estimate would be far over threshold, i.e. this same state)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # each round's input is pinned, so the plans show the final
        # round's frontier join; |V| picks its strategy once, before the
        # loop, so that round stands for every round
        small = plan_of(bfs_distances(edges, seeds, max_hops=2))
        assert "BroadcastHashJoin" in small, small
        large = plan_of(bfs_distances(edges, seeds, max_hops=2, broadcast_max_nodes=0))
        assert "BroadcastHashJoin" not in large, large
        assert "SortMergeJoin" in large or "ShuffledHashJoin" in large, large
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_prefix_jaccard_verify_is_candidate_bounded(spark):
    from lawfirm_data_pipeline_spark.operators.dedup import prefix_filter_jaccard_pairs
    from lawfirm_data_pipeline_spark.oracle._shared import planted_corpus

    df = prefix_filter_jaccard_pairs(planted_corpus(spark, SF))
    plan = plan_of(df)
    # no cartesian anywhere: candidates come from the prefix equi-join,
    # verification from candidate-keyed equi-joins
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_negative_sampling_is_bucket_equi_join(spark):
    import re

    from lawfirm_data_pipeline_spark.operators.sampling import hash_bucket_negatives

    pos = spark.range(100).select(
        F.col("id").alias("user_id"), (F.col("id") * 3 % 40).alias("item_id")
    )
    items = spark.range(200).select(F.col("id").alias("item_id"))
    # explicit bucket count: users x items must meet on the bucket key,
    # never a cross join of the two big relations
    plan = plan_of(hash_bucket_negatives(pos, items, n_buckets=10))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # auto-derived bucket count (the scale default): the ONLY nested-loop
    # joins allowed are the two 1-row scalar broadcasts attaching the
    # derived n_buckets; the candidate meet itself stays a bkt equi-join
    auto = plan_of(hash_bucket_negatives(pos, items))
    assert "CartesianProduct" not in auto
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", auto)) <= 2
    assert re.search(r"keys(?: \[\d+\])?: \[bkt", auto)


def test_q173_returnflag_pushed_to_scan_and_dims_broadcast(spark):
    from lawfirm_data_pipeline_spark.oracle.m38_decision_support import (
        q173_returned_items,
    )

    plan = plan_of(q173_returned_items(spark, SF))
    assert "EqualTo(l_returnflag,R)" in plan.replace(" ", "") or "l_returnflag" in plan.split("PushedFilters")[1][:200]
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q172_top10_is_bounded_heap(spark):
    from lawfirm_data_pipeline_spark.oracle.m38_decision_support import (
        q172_shipping_priority,
    )

    plan = plan_of(q172_shipping_priority(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_asof_nearest_is_equi_join_no_range_predicate(spark):
    """The nearest-as-of band-bucket join must plan as a plain shuffled
    or broadcast equi-join — no BroadcastNestedLoop/cartesian from a
    range predicate reaching the join condition."""
    from lawfirm_data_pipeline_spark.operators.temporal import asof_nearest

    ev = load_table(spark, SF, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    plan = plan_of(
        asof_nearest(
            purchases, clicks, key="user_id", left_id="event_id",
            tolerance_us=7_200_000_000, right_payload=["click_id"],
            tie_break="click_id",
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_keyword_tags_is_shuffle_free_map_stage(spark):
    """Dictionary tagging is a pure projection+filter over the scan —
    no exchange anywhere in the plan."""
    from lawfirm_data_pipeline_spark.operators.text import keyword_tags

    docs = load_table(spark, SF, "documents")
    plan = plan_of(keyword_tags(docs, ["spark", "join", "merge"]))
    assert "Exchange" not in plan, plan


def test_kmv_minima_use_take_ordered_not_global_sort(spark):
    """orderBy().limit(k) must plan as TakeOrderedAndProject — the
    k-row reduction — never a full global Sort of the hashed corpus."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q239_kmv_union"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_subquery_kit_decorrelates_to_joins(spark):
    """q241's EXISTS/NOT EXISTS/IN/scalar subqueries must decorrelate:
    the plan is semi/anti/outer joins over one supplier pass, never a
    cartesian or per-row re-execution artifact."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q241_subquery_kit"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_q271_single_lineitem_shuffle_and_broadcast_supplier(spark):
    """The Q21-shape rewrite must scan lineitem, shuffle on l_orderkey
    for the per-order aggregate + self-meet, and BROADCAST the supplier
    dim — never a cartesian or a supplier-side shuffle join."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q271_waiting_suppliers"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # supplier joins via broadcast hash join (dim side)
    assert "BroadcastHashJoin" in plan


def test_q272_rankings_are_broadcast_query_heaps(spark):
    """The Matryoshka candidate pass crosses the corpus ONCE with the
    BOUNDED query side broadcast (nested-loop against 8 rows is the
    intended shape); both rankings ride that single pass as two window
    sorts over the same query_id partitioning (round-6 census rewrite —
    the per-width topk form joined twice).  No shuffled cartesian of
    corpus x corpus may appear."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q272_matryoshka_audit"](spark, SF))
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join building the broadcast (bounded
    # 8-row) side — never a shuffled corpus x corpus, never a second
    # corpus pass
    assert _n_nodes(plan, "BroadcastNestedLoopJoin") == 1, plan


def test_q281_split_has_no_global_sort(spark):
    """Stratified split ranks WITHIN strata — the plan partitions by
    the stratum before sorting; a global Sort over all customers would
    be the ntile anti-pattern."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q281_stratified_split"](spark, SF))
    assert "hashpartitioning(c_mktsegment" in plan or "hashpartitioning(stratum" in plan


def test_q284_fact_scan_is_dynamically_pruned(spark, tmp_path):
    """The star join must push the dim filter into the fact scan as a
    dynamicpruningexpression PartitionFilter — the DPP shape that keeps
    a 100 TB fact table from being read whole."""
    from lawfirm_data_pipeline_spark.oracle.m89_dpp_pseudonym import dpp_revenue

    plan = plan_of(dpp_revenue(spark, SF, str(tmp_path / "fact")))
    assert "dynamicpruningexpression" in plan, plan


def test_q287_join_carries_runtime_bloom_filter(spark):
    """With the runtime-filter confs set, the fact side must probe a
    bloom_filter_agg built from the selective dim side before its
    shuffle (Spark's built-in runtime filter — the optimizer twin of
    q183's hand-rolled Bloom semi-join)."""
    from lawfirm_data_pipeline_spark.oracle.m90_groupedagg_bloom import (
        _BLOOM_CONFS,
        bloom_join_df,
    )

    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        plan = plan_of(bloom_join_df(spark, SF))
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan


def test_q279_wordpiece_walk_is_single_fold_no_iterative_joins(spark):
    """The greedy-segmentation walk is ONE codegen'd aggregate fold over
    the per-word match array — the only join in the plan is the
    broadcast of the tiny vocab dimension.  The previous MAXLEN-join
    unroll re-evaluated the match subtree per branch; a second join
    appearing here means the walk regressed to iteration."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q279_greedy_wordpiece"](spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert _n_nodes(plan, "BroadcastHashJoin") + _n_nodes(
        plan, "BroadcastNestedLoopJoin"
    ) == 1, plan


def test_q293_model_grid_has_no_cartesian_product(spark):
    """The (lang x vocab) model grid crosses a tiny aggregate (one row
    per language) with the full vocabulary.  ltot sits behind an
    aggregate so Catalyst has no size estimate: unhinted, the inner
    cross join planned as a CartesianProduct (found by the round-6
    plan-lint census, tools/plan_lint.py) — quadratic partitions at a
    100 TB vocabulary.  The broadcast hint pins the only scale-safe
    shape: nested-loop with the bounded language side replicated."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q293_naive_bayes_langid"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_census_token_drift_reads_pinned_tables_only(spark):
    """q123's counts + merged vocabulary are localCheckpointed: the
    returned plan must contain NO parquet scan — the corpus tokenize
    runs exactly once, inside the pin build.  Unpinned, the plan
    re-tokenized the corpus six times (round-6 scan census)."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    plan = plan_of(QUERIES["q123_token_drift"](spark, SF))
    assert "Scan parquet" not in plan, plan


def test_census_nb_langid_two_corpus_passes(spark):
    """q293 pins the (lang, tok) model root; the only remaining corpus
    reads are the scoring tokenize and the label join — exactly two
    parquet scans (was ~10 plan references pre-pin).  Counted on the
    executedPlan string — explain("formatted") lists every scan twice
    (tree + node details)."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    df = QUERIES["q293_naive_bayes_langid"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan


def test_census_multi_consumer_aggregates_are_cached(spark):
    """The round-6 census fixes pin each tiny multi-consumer
    aggregate (contingency cells, histograms, distinct key-sets,
    per-key counts, IVM changed keys): every consumer of a pin reads
    it as one ``Scan ExistingRDD``, so each query's count is exact —
    removing any one pin silently restores the scan-per-consumer shape
    and changes the count."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    for name, n_reads in {
        "q139_chisq_independence": 4,
        "q46_tfidf_topk": 3,
        "q44_set_ops": 4,
        "q274_t_closeness": 4,
        "q196_join_card_estimate": 8,
        "q130_ivm_totals": 2,
        "q282_incremental_minhash": 5,
        # r7 rescans census: the 1-row LSH centering mean has two
        # consumers (corpus + query bucketing) — unpinned it re-scanned
        # the corpus once per side
        "q38_lsh_ann_topk": 2,
    }.items():
        plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan ExistingRDD") == n_reads, (name, plan)


def test_media_decode_crosses_into_python_once(spark):
    """Each decode query runs one Python exec, the ``MapInPandas``
    decoder, over the driver-built payload table's ``LocalTableScan``.
    A ``pandas_udf`` payload generator shows up as an
    ``ArrowEvalPython`` node: a second Python task per query."""
    import re

    from lawfirm_data_pipeline_spark.queries import QUERIES

    for name in ("q244_bmp_decode", "q245_wav_decode", "q269_png_decode", "q295_jpeg_decode"):
        plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        nodes = [re.match(r"[\s:+|-]*(?:\*\(\d+\) )?(\w+)", ln).group(1) for ln in plan.splitlines()]
        assert [n for n in nodes if "Python" in n or "Pandas" in n] == ["MapInPandas"], (name, plan)
        assert nodes[-1] == "LocalTableScan", (name, plan)


def _plan_lint_mod():
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "plan_lint.py",
    )
    spec = importlib.util.spec_from_file_location("_plan_lint_for_tests", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_lint_flags_unbounded_bnlj(spark):
    """r6 verdict #5 negative test: a broadcast hint on a FACT-table
    side of a cross join plans as BroadcastNestedLoopJoin — Spark
    accepts it at test scale, but at 100 TB the build side is the whole
    table.  The lint must flag it even though the plan contains no
    CartesianProduct."""
    lint = _plan_lint_mod()
    fact = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    one = load_table(spark, SF, "orders").select("o_orderkey").limit(5)
    df = one.crossJoin(F.broadcast(fact))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    probs = lint._check_bnlj(plan)
    assert probs and "unbounded" in probs[0], (probs, plan)


def test_plan_lint_accepts_bounded_bnlj_builds(spark):
    """Positive cases the gate must NOT flag: a 1-row global aggregate
    build (scalar total), a bounded-dimension scan build (nation), and
    driver-local literal data."""
    lint = _plan_lint_mod()
    lineitem = load_table(spark, SF, "lineitem")

    total = lineitem.agg(F.sum("l_quantity").alias("t"))
    df1 = lineitem.select("l_orderkey").crossJoin(F.broadcast(total))
    p1 = df1._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in p1, p1
    assert lint._check_bnlj(p1) == [], p1

    nation = load_table(spark, SF, "nation").select("n_nationkey")
    df2 = lineitem.select("l_orderkey").crossJoin(F.broadcast(nation))
    p2 = df2._jdf.queryExecution().executedPlan().toString()
    if "BroadcastNestedLoopJoin" in p2:
        assert lint._check_bnlj(p2) == [], p2

    rng = spark.range(2)
    df3 = lineitem.select("l_orderkey").crossJoin(F.broadcast(rng))
    p3 = df3._jdf.queryExecution().executedPlan().toString()
    if "BroadcastNestedLoopJoin" in p3:
        assert lint._check_bnlj(p3) == [], p3

    # createDataFrame plans as `Scan ExistingRDD` — in the plan string
    # that's indistinguishable from a corpus-sized localCheckpoint pin
    # (q133's prefix table), so the gate flags it CONSERVATIVELY even
    # though this instance is two rows.  Registry queries broadcast
    # literal grids via spark.range / SQL VALUES instead, which plan
    # as bounded Range/LocalTableScan.
    lit = spark.createDataFrame([(1,), (2,)], "k long")
    df4 = lineitem.select("l_orderkey").crossJoin(F.broadcast(lit))
    p4 = df4._jdf.queryExecution().executedPlan().toString()
    if "BroadcastNestedLoopJoin" in p4:
        assert lint._check_bnlj(p4), p4


def test_plan_lint_registry_bnlj_builds_all_bounded(spark):
    """Census tripwire over the REAL registry: every query known to
    plan a BroadcastNestedLoopJoin at sf0.01 must pass the bounded-
    build gate (these are scalar totals, percentile grids, and pinned
    dimension/domain sides).  A new unbounded BNLJ in any of them — or
    a regression in the gate — fails here, not at the next census."""
    from lawfirm_data_pipeline_spark.queries import QUERIES

    lint = _plan_lint_mod()
    for name in (
        "q188_jackknife_ci",
        "q192_benford_audit",
        "q215_rfm_segments",
        "q293_naive_bayes_langid",
        "q272_matryoshka_audit",
        "q36_cosine_topk",
    ):
        plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert lint._check_bnlj(plan) == [], (name, lint._check_bnlj(plan))


def test_plan_lint_flags_row_scale_global_window(spark):
    """r7 ranking-census negative test: an unpartitioned window straight
    over a fact scan executes as ONE task — the lint must flag it."""
    lint = _plan_lint_mod()
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    w = Window.orderBy("l_quantity", "l_orderkey")
    df = li.withColumn("rk", F.row_number().over(w))
    plan = df._jdf.queryExecution().executedPlan().toString()
    probs = lint._check_global_window(plan)
    assert probs and "single-task" in probs[0], (probs, plan)


def test_plan_lint_accepts_bounded_global_windows(spark):
    """Positive cases: a global window over an AGGREGATE (per-key grid)
    and over a top-k head are bounded by construction; a PARTITIONED
    window over raw rows is parallel — none may be flagged."""
    lint = _plan_lint_mod()
    li = load_table(spark, SF, "lineitem")

    per = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    w1 = Window.orderBy(F.col("q").desc(), "l_returnflag")
    p1 = (
        per.withColumn("cum", F.sum("q").over(w1))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert lint._check_global_window(p1) == [], p1

    head = li.select("l_orderkey", "l_quantity").orderBy(
        F.col("l_quantity").desc(), "l_orderkey"
    ).limit(7)
    w2 = Window.orderBy(F.col("l_quantity").desc(), "l_orderkey")
    p2 = (
        head.withColumn("rk", F.row_number().over(w2))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert lint._check_global_window(p2) == [], p2

    w3 = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    p3 = (
        li.withColumn("rk", F.row_number().over(w3))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert lint._check_global_window(p3) == [], p3
