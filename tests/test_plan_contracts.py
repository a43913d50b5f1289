"""Plan contracts: the physical-plan properties PLANS.md documents,
pinned as assertions so a regression in plan shape fails CI, not just
the benchmark. These check the INITIAL plan (explicit broadcast hints,
pushdown, exchange counts) — properties that hold at any scale factor,
not AQE's runtime choices at a tiny one."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")  # full PushedFilters (toString truncates them)
    return buf.getvalue()


def _tree(plan: str) -> str:
    """Just the plan tree (formatted explain repeats every node again in the
    details section, which would double node counts)."""
    lines = plan.splitlines()
    end = next((i for i, l in enumerate(lines) if not l.strip() and i > 1), len(lines))
    return "\n".join(lines[:end])


@pytest.fixture(scope="module")
def qs():
    return entry.queries()


def test_q6_all_predicates_pushed(spark, qs):
    plan = _plan(qs["tpch_q6_forecast"](spark, SF_DIR))
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, f"predicate not pushed to scan: {pushed}"
    # column-pruned read: exactly the 4 referenced columns
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert all(c in read for c in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"))
    assert "l_orderkey" not in read


def test_q18_one_aggregation_exchange_then_broadcasts(spark, qs):
    tree = _tree(_plan(qs["tpch_q18_large_orders"](spark, SF_DIR)))
    # lineitem aggregated once; everything downstream is broadcast-joined
    assert tree.count("Scan parquet") == 3  # lineitem + orders + customer, once each
    non_broadcast_exchanges = [
        l for l in tree.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l and "Reused" not in l
    ]
    assert len(non_broadcast_exchanges) == 1, non_broadcast_exchanges
    assert tree.count("BroadcastHashJoin") == 2


def test_cross_corpus_minhash_broadcasts_eval_side(spark, tables):
    from bullet_spark_spark.operators import dedup as dd

    docs = tables["documents"].select("doc_id", "text").limit(30)
    ev = docs.limit(5)
    pairs = dd.cross_corpus_minhash(docs, ev, "doc_id", "text", num_hashes=16, bands=8)
    plan = _plan(pairs)
    assert "BroadcastHashJoin" in plan
    # the corpus side never self-joins: no SortMergeJoin of two corpus scans
    assert "SortMergeJoin" not in plan


def test_bm25_query_terms_broadcast_into_postings(spark, tables):
    from bullet_spark_spark.operators import text as tx

    qdf = spark.createDataFrame([(1, "hash join")], ["query_id", "query_text"])
    plan = _plan(tx.bm25_scores(tables["documents"], qdf))
    assert "BroadcastHashJoin" in plan


def test_sketch_quantile_merge_no_base_rescan(spark, qs):
    tree = _tree(_plan(qs["sketch_quantile_merge"](spark, SF_DIR)))
    # ONE scan builds the sketches; the slice re-merge works on the maps
    assert tree.count("Scan parquet") == 1


def _live_scan_counts(df) -> tuple[int, int]:
    """(live parquet scans, InMemoryTableScan reads) in the physical plan —
    'live' means executed by THIS job: the walk does not descend into
    cached relations, whose lineage explain() prints but execution reads
    from the cache."""
    node = df._jdf.queryExecution().sparkPlan()

    def walk(n) -> tuple[int, int]:
        name = n.getClass().getSimpleName()
        if "InMemoryTableScan" in name:
            return 0, 1
        scans = 1 if ("FileSourceScan" in name or "BatchScan" in name) else 0
        imts = 0
        for i in range(n.children().size()):
            s, t = walk(n.children().apply(i))
            scans += s
            imts += t
        return scans, imts

    return walk(node)


def test_sketch_quantile_rollup_no_base_rescan(spark, qs):
    """Day→month rollup re-merges the day sketches' bucket maps: the
    finest-level counts materialize once (result-sized), and the final job
    touches NO parquet — both the day estimate and the month re-merge read
    the cached counters (the mergeable-sketch property that matters at
    100 TB: coarser slices never rescan the base)."""
    df = qs["sketch_quantile_rollup"](spark, SF_DIR)
    live, imts = _live_scan_counts(df)
    assert live == 0, f"rollup rescans the base table ({live} live scans)"
    assert imts == 2  # day estimate + month re-merge, both from the cache


def test_pipeline_end_to_end_single_scan_semi_broadcast(spark, qs):
    """The composed curate→dedup→sample→pack capstone: the reduced
    pre-pack frame materializes once and the packing job reads only the
    cache (no re-derivation of the upstream funnel); inside the funnel the
    dedup survivor filter is a broadcast LeftSemi."""
    df = qs["pipeline_end_to_end"](spark, SF_DIR)
    live, imts = _live_scan_counts(df)
    assert live == 0, f"packing re-derives upstream lineage ({live} live scans)"
    assert imts == 2  # in-bucket cumsum + bucket totals, both from the cache
    tree = _tree(_plan(df))
    assert "LeftSemi" in tree
    assert "BroadcastExchange" in tree


def test_decontam_minhash_eval_broadcast_corpus_never_self_joins(spark, qs):
    """Cross-corpus decontamination: the eval set's bands and signatures
    broadcast; the corpus side joins them without ever self-joining (no
    sort-merge join of two corpus branches)."""
    plan = _plan(qs["decontam_minhash"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q19_implied_predicates_pushed_and_broadcast(spark, qs):
    """The disjunctive OR-of-ANDs query: Catalyst derives the implied
    single-side predicates and pushes them below the join — the part scan
    carries a brand filter, lineitem a quantity bound — and the part side
    broadcasts; the full disjunction stays as the residual condition."""
    plan = _plan(qs["tpch_q19_disjunctive"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    reads = [l for l in plan.splitlines() if "PushedFilters" in l]
    part_read = next((l for l in reads if "p_brand" in l), None)
    assert part_read is not None, "no brand predicate pushed to the part scan"
    li_read = next((l for l in reads if "l_quantity" in l), None)
    assert li_read is not None, "no quantity bound pushed to the lineitem scan"


def test_semantic_decontam_broadcasts_eval_no_self_join(spark, qs):
    """Embedding decontamination: the eval side broadcasts (result-sized)
    and the corpus never self-joins or shuffles for the pair scan."""
    plan = _plan(qs["decontam_semantic"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dynamic_mux_shared_buffers_one_explode(spark, tables):
    """The dynamic multiplexer's headline scale property, pinned: 16
    COUNT+MIN queries share exactly TWO aggregate buffers (count(1),
    min(value)) plus the group keys — not 3-per-query — and the routing is
    ONE explode (Generate) over the scan."""
    from bullet_spark_spark.plans.bql import parse_bql
    from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer

    mux = DynamicMultiplexer(spark)
    for i in range(16):
        mux.register(
            f"q{i}",
            parse_bql(
                "SELECT user_id, COUNT(*) AS n, MIN(value) AS mn FROM STREAM() "
                f"WHERE user_id % 16 = {i} GROUP BY user_id"
            ),
        )
    live = [(h, h.spec) for h in mux.queries.values()]
    agg_compiled, _raw = mux._compile_live(live)
    frame = DynamicMultiplexer._agg_frame(tables["events"], agg_compiled)
    plan = _plan(frame)
    tree = _tree(plan)
    assert tree.count("Generate") == 1  # one explode routes all 16 queries
    # the final aggregate computes exactly 2 shared functions
    func_lines = [l for l in plan.splitlines() if "Functions [" in l]
    assert func_lines and all("Functions [2]" in l for l in func_lines), func_lines


def test_salted_join_key_includes_salt(spark, tables):
    from bullet_spark_spark.operators.relational import salted_skew_join

    li = tables["lineitem"].select(F.col("l_orderkey").alias("k"), "l_quantity")
    dim = tables["orders"].select(F.col("o_orderkey").alias("k"), "o_orderpriority")
    plan = _plan(salted_skew_join(li, dim, "k", salt_buckets=8))
    assert "__salt" in plan  # the join key is (k, __salt), not k alone


def test_q4_semi_join_prunes_both_sides(spark, qs):
    plan = _plan(qs["tpch_q4_late_orders"](spark, SF_DIR))
    assert "LeftSemi" in plan  # each order contributes once
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    li_read = next(l for l in reads if "l_orderkey" in l)
    assert "l_extendedprice" not in li_read  # lineitem pruned to key + shipdate
    o_read = next(l for l in reads if "o_orderkey" in l)
    assert "o_totalprice" not in o_read


def test_q14_single_aggregate_over_broadcast_join(spark, qs):
    tree = _tree(_plan(qs["tpch_q14_promo_share"](spark, SF_DIR)))
    assert "BroadcastHashJoin" in tree  # part is the broadcast dim
    # conditional + total revenue in ONE partial/final aggregate pair
    assert tree.count("HashAggregate") == 2
    assert tree.count("Scan parquet") == 2


def test_q2_correlated_min_no_fact_rescan(spark, qs):
    tree = _tree(_plan(qs["tpch_q2_min_cost_supp"](spark, SF_DIR)))
    # the correlated min subquery must NOT rescan lineitem: one fact scan,
    # the min computed as a window over the already-aggregated rows
    scans = [l for l in tree.splitlines() if "Scan parquet" in l]
    assert len(scans) == 5, scans  # lineitem + part + supplier + nation + region
    assert "Window" in tree
    # dims all broadcast; only the cost agg + window repartition shuffle rows
    non_broadcast = [
        l for l in tree.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l and "Reused" not in l
    ]
    assert len(non_broadcast) == 2, non_broadcast


def test_q17_threshold_broadcasts_back(spark, qs):
    tree = _tree(_plan(qs["tpch_q17_small_qty"](spark, SF_DIR)))
    # per-part avg thresholds are tiny after aggregation -> broadcast probe,
    # never a fact-fact shuffle join
    assert "SortMergeJoin" not in tree
    assert tree.count("BroadcastHashJoin") == 3  # part filter x2 + threshold probe


def test_q21_single_fact_scan_no_expand(spark, qs):
    tree = _tree(_plan(qs["tpch_q21_waiting_supp"](spark, SF_DIR)))
    # the EXISTS/NOT-EXISTS rewrite aggregates to (order, supplier) first:
    # lineitem and orders each scanned ONCE, and no countDistinct Expand
    scans = [l for l in tree.splitlines() if "Scan parquet" in l]
    assert len(scans) == 3, scans  # lineitem + orders + supplier
    assert "Expand" not in tree


def test_temperature_mixture_broadcasts_rates(spark, qs):
    tree = _tree(_plan(qs["sampling_temperature_mixture"](spark, SF_DIR)))
    # the rate frame (one row per source) must broadcast back onto the
    # scan — never a shuffle join of the corpus against its own counts
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_corpus_report_single_aggregation_pass(spark, qs):
    tree = _tree(_plan(qs["corpus_report"](spark, SF_DIR)))
    # one scan of documents; the distinct fingerprint rides the same
    # lang-keyed aggregation (Expand for the distinct, no second scan)
    scans = [l for l in tree.splitlines() if "Scan parquet" in l]
    assert len(scans) == 1, scans


def test_scalar_subqueries_never_rescan_base(spark, qs):
    # q11 / q15 / q20 / q22: scalar and per-group totals are windows over
    # the REDUCED frame, one lineage — a re-aggregating cross join planned
    # the base subtree twice (column pruning diverges it past exchange
    # reuse)
    for name, max_scans in (
        ("tpch_q11_important_parts", 3),
        ("tpch_q15_top_supplier", 2),
        ("tpch_q20_dominant_supp", 4),
        ("tpch_q22_idle_customers", 3),
    ):
        tree = _tree(_plan(qs[name](spark, SF_DIR)))
        scans = tree.count("Scan parquet")
        assert scans <= max_scans, (name, scans)


def test_multiplex_partials_hll_rides_shared_aggregation(spark, tables):
    from bullet_spark_spark.functions.exprs import E
    from bullet_spark_spark.plans.spec import CountDistinctAgg, GroupAgg, Query
    from bullet_spark_spark.plans.spec import AggOp as _Op
    from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer

    mux = DynamicMultiplexer(spark)
    mux.register(
        "acd",
        Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"], approx=True),
        ),
    )
    mux.register(
        "g",
        Query(
            source="events",
            aggregation=GroupAgg(
                fields=["event_type"], operations=[(_Op.COUNT, None, "n")]
            ),
        ),
    )
    live = [(h, h.spec) for h in mux.queries.values()]
    agg_compiled, _raw = mux._compile_live(live)
    frame = DynamicMultiplexer._agg_frame(tables["events"], agg_compiled)
    plan = _plan(frame)
    tree = _tree(plan)
    # the HLL blob is ONE MORE aggregate buffer in the one shared
    # aggregation — one scan, one shuffle for both queries
    assert "hll_sketch_agg" in plan
    assert tree.count("Scan parquet") == 1
    non_broadcast = [
        l for l in tree.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l and "Reused" not in l
    ]
    assert len(non_broadcast) == 1, non_broadcast


def test_runtime_bloom_filter_prunes_fact_scan(spark, tables):
    """The 100 TB selective-dim join posture (SCALE.md): with runtime
    bloom filters on (Spark default) and the scan-size threshold met, a
    shuffle join fact ⋈ σ(dim) gets a might_contain(bloom) predicate
    injected on the FACT side — rows that cannot match are dropped at the
    scan, before the exchange. Pinned here with the thresholds forced so
    the contract is testable at sf0.001."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = tables["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
        li = tables["lineitem"]
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        # the filter must sit on the lineitem (application) side scan
        mc_line = next(l for l in plan.splitlines() if "might_contain" in l)
        assert "l_orderkey" in mc_line
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_segment_dedup_no_broadcast_array_no_one_row_agg(spark, tables):
    """Round-5 rewrite contract (VERDICT r4 task 4): segment_dedup's dup
    probe must be a JOIN against the dup-segment frame, not a literal
    array scan — the old design collapsed the dup set into ONE
    collect_set row (2 GB single-row ceiling) cross-joined back and
    probed with array_contains per segment (O(|segs| x |dups|)). Pinned:
    no nested-loop/cartesian anywhere, no grouping-free aggregate, the
    probe is a semi join, and the rebuild joins per-doc dup INDICES back
    broadcast — the corpus is never re-exchanged by doc id."""
    from bullet_spark_spark.operators import dedup as dd

    df = dd.segment_dedup(tables["documents"])
    plan = _plan(df)
    tree = _tree(plan)
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "LeftSemi" in tree  # dup probe is a (broadcast) semi join
    # no single-row aggregate: every Keys list in the details is non-empty
    assert "Keys []" not in plan
    # rebuild side: per-doc dup indices broadcast back onto the corpus
    assert "BroadcastHashJoin LeftOuter" in tree
    # exchanges: segs-keyed distinct + countDistinct + covered-docs groupBy;
    # the corpus-sized base frame itself is never exchanged
    non_broadcast = [
        l for l in tree.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l and "Reused" not in l
    ]
    assert len(non_broadcast) <= 3, non_broadcast


def test_pagerank_iteration_broadcast_rank_bounded_exchanges(spark, tables):
    """PageRank per-iteration shape below the broadcast-nodes threshold
    (graph.py): the rank frame and the contribution frame are node-sized
    and BROADCAST into their joins (checkpoint leaves are stat-less, so
    without the explicit hint Catalyst would sort-merge every round);
    the only non-broadcast exchange per iteration is the groupBy(dst)
    partial-sum — the canonical Pregel-in-DataFrames step. Pinned on a
    live (un-checkpointed) final iteration."""
    from bullet_spark_spark.operators import graph as gr

    edges = (
        tables["orders"]
        .limit(500)
        .select(
            (F.col("o_custkey") % 50).alias("src"),
            (F.col("o_orderkey") % 50).alias("dst"),
            F.lit(1.0).alias("w"),
        )
    )
    ranks = gr.pagerank(edges, iterations=1, checkpoint_final=False)
    tree = _tree(_plan(ranks))
    # the joins actually expected since the r11 union-with-zeros shape:
    # the per-iteration edges x ranks join plus the one-time out_w build
    # are broadcast; the old nodes x contribs join is GONE — its place is
    # the Union feeding one aggregate (ADVICE r11: name the joins, and
    # pin the Union so the iteration shape can't silently regress)
    assert tree.count("BroadcastHashJoin") >= 2, tree
    assert "Union" in tree, tree
    assert "SortMergeJoin" not in tree
    assert "LeftOuter" not in tree, tree

    # live (non-cached-lineage) shuffle exchanges: the groupBy(dst) partial
    # sum, plus at most the one-time out_w aggregate whose cache is not yet
    # materialized at plan time — never a per-join sort exchange
    def live_exchanges(df) -> int:
        node = df._jdf.queryExecution().sparkPlan()

        def walk(n) -> int:
            name = n.getClass().getSimpleName()
            if "InMemoryTableScan" in name:
                return 0
            c = 1 if ("ShuffleExchange" in name) else 0
            for i in range(n.children().size()):
                c += walk(n.children().apply(i))
            return c

        return walk(node)

    assert live_exchanges(ranks) <= 2, _plan(ranks)


def test_ensemble_survivors_single_corpus_scan_anti_join(spark, qs):
    """dedup_ensemble_survivors: the lexical+semantic components closure
    materializes ONCE (checkpointed RDD leaf); the final job is a single
    anti join of the corpus against the non-survivor ids — one parquet
    scan of documents, no second pair materialization, no rescan of the
    signature pipeline."""
    df = qs["dedup_ensemble_survivors"](spark, SF_DIR)
    tree = _tree(_plan(df))
    assert "LeftAnti" in tree
    assert tree.count("Scan parquet") == 1, tree
    # the dup-id side is a materialized closure, not a live recompute
    assert "Scan ExistingRDD" in tree


def test_warehouse_sync_no_cartesian_bounded_scans(spark, qs):
    """pipeline_warehouse_sync (CDC snapshot diff -> SCD2 merge): the
    sync must stay linear — every join keyed (full-outer diff, semi
    probes), no nested-loop/cartesian anywhere, and the CDC/SCD2 stages
    read cached intermediates instead of rescanning the base tables
    (bounded live parquet scans)."""
    df = qs["pipeline_warehouse_sync"](spark, SF_DIR)
    plan = _plan(df)
    tree = _tree(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    live, _ = _live_scan_counts(df)
    assert live <= 6, f"warehouse sync rescans base tables ({live} live scans)"


def test_ks_two_sample_no_data_sized_single_partition_window(spark, tables):
    """ks_two_sample must take the two-level-cumsum path on continuous
    input: the merged per-value frame is range-BUCKETED (__bkt) and the
    running CDFs are per-bucket windows — the only unpartitioned window
    runs over the #buckets-row prefix frame, never the data."""
    from bullet_spark_spark.operators import distribution as dist

    ev = tables["events"]
    df = dist.ks_two_sample(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )
    plan = _plan(df)
    assert "__bkt" in plan, "two-level cumsum path not taken on continuous input"
    assert "CartesianProduct" not in _tree(plan)


def test_tfidf_cosine_small_sides_broadcast(spark, tables):
    """tfidf_cosine_pairs: idf stats and per-doc norms are node-sized and
    BROADCAST into their joins; the only corpus-scale joins are the
    term-keyed posting self-join. No nested-loop anywhere."""
    from bullet_spark_spark.operators import dedup as dd

    df = dd.tfidf_cosine_pairs(tables["documents"].limit(50), min_cos=0.5)
    tree = _tree(_plan(df))
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree
    assert tree.count("BroadcastHashJoin") >= 3  # stats + na + nb


def test_flesch_is_single_narrow_pass(spark, tables):
    """flesch_reading_ease is pure codegen over one scan: NO exchange of
    any kind — sentence/word/syllable counts and the score are all
    expressions in one projection."""
    from bullet_spark_spark.operators import text as tx

    df = tx.flesch_reading_ease(tables["documents"])
    tree = _tree(_plan(df))
    assert "Exchange" not in tree, tree
    assert tree.count("Scan parquet") == 1


def test_blocked_gemm_cosine_no_cartesian(spark, tables):
    """cosine_pairs_blocked (the certified exact near-dup path since r6):
    the grid replication is an explode (rows ×B, no join), grouping is ONE
    hash exchange on (gi, gj), GEMM runs in ArrowEvalPython/FlatMapGroups —
    there must be NO CartesianProduct / nested-loop ANYWHERE (the plan
    shape that made the old exact=True path a 100×-scale-killer)."""
    from bullet_spark_spark.operators import similarity as sim

    df = sim.cosine_pairs_blocked(tables["embeddings"], 0.42)
    tree = _tree(_plan(df))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree
    assert tree.count("Scan parquet") == 1
    assert "FlatMapGroupsInPandas" in tree


def test_lsh_banded_no_cartesian_single_selfjoin(spark, tables):
    """cosine_pairs_lsh_banded: candidates come from ONE (band, bsig)
    equi-self-join over exploded signatures — never a cross join."""
    from bullet_spark_spark.operators import similarity as sim

    df = sim.cosine_pairs_lsh_banded(
        tables["embeddings"], threshold=0.9, bands=4, rows_per_band=4
    )
    tree = _tree(_plan(df))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_span_dedup_gram_strings_never_shuffle(spark, qs):
    """dedup_span_exact contract: the only corpus-sized exchanges carry
    the xxhash64 gram LONG, never the k-token gram string — hashing
    happens in the projection before any Exchange — and the dup-gram
    set comes back via a broadcast semi-join."""
    plan = _plan(qs["dedup_span_exact"](spark, SF_DIR))
    tree = _tree(plan)
    assert "BroadcastHashJoin LeftSemi" in tree
    # the InMemoryRelation (input to both shuffle consumers) must already
    # be hashed: its output carries gh, not __gram
    out_lines = [l for l in plan.splitlines() if "Output" in l and "gh#" in l]
    assert out_lines, "hashed gram column not found on the cached frame"
    assert "__gram" not in tree


def test_winnow_single_doc_keyed_window(spark, qs):
    """dedup_winnow_pairs contract: fingerprint selection is ONE window
    partitioned by doc (no global window — the WindowExec warning class),
    and the pair join consumes the winnowed postings."""
    plan = _plan(qs["dedup_winnow_pairs"](spark, SF_DIR))
    tree = _tree(plan)
    assert tree.count("Window") >= 1
    # windows must be partitioned (a global window would move the corpus
    # to one task): every Window node's spec carries a partition key
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs and all("id#" in s for s in specs)


def test_kmeans_iteration_broadcasts_centroids_no_smj(spark, tables):
    """kmeans_lloyd per-iteration shape (similarity.py): the k-row
    centroid frame is BROADCAST into the scoring crossJoin (k × dim
    state — never a data-sized build side), assignment rides one
    id-keyed window shuffle, and nothing sort-merge joins. Pinned on a
    single live iteration's scoring frame."""
    from bullet_spark_spark.operators import similarity as sim

    emb = tables["embeddings"].limit(64)
    out = sim.kmeans_lloyd(emb, k=4, iterations=1)
    # the returned frame is checkpoint-backed (constant-depth plan); pin
    # the live shape of one scoring pass instead
    cents = out.select("cluster", "centroid")
    scored = sim.nearest_centroid_assign(
        emb.select(F.col("vec_id").alias("__id"),
                   F.col("embedding").alias("__v")),
        cents, "__id", "__v", "cluster", "centroid",
    )
    tree = _tree(_plan(scored))
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree


def test_hybrid_rrf_broadcasts_bounded_sides_only(spark, qs):
    """sim_hybrid_rrf: every broadcast in the plan is a BOUNDED frame
    (query terms, query vectors, ranker top-k output, corpus scalars) —
    the corpus-sized tokenization and scoring streams are never built
    into a hash table, and the fused merge never sort-merges a
    data-sized side."""
    plan = _tree(_plan(qs["sim_hybrid_rrf"](spark, SF_DIR)))
    assert "CartesianProduct" not in plan
    # exactly two NLJs, both bounded builds: the 1-row BM25 (N, avgdl)
    # scalar frame and the ≤3 query vectors of the dense pass
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan
    # the ONLY sort-merge join is the fusion full-outer — Spark cannot
    # broadcast full-outer, and both its inputs are ranker top-k OUTPUT
    # (≤ queries × 20 rows), so the sort is bounded at any corpus size
    assert plan.count("SortMergeJoin") == 1, plan
    assert "SortMergeJoin FullOuter" in plan, plan


def test_zorder_pruning_runs_on_zonemap_not_data(spark, qs):
    """scale_zorder_pruning: the report joins distinct predicate keys
    against the 64-row zone map with the STATS side broadcast — read
    amplification is measured without a data-sized join (the zone-map
    point). The only data-sized work is building the layouts."""
    plan = _tree(_plan(qs["scale_zorder_pruning"](spark, SF_DIR)))
    assert "BroadcastNestedLoopJoin" in plan  # keys × stats range join
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_aqe_skew_join_splits_hot_partition(spark, tables):
    """The session posture (session.py: adaptive.skewJoin.enabled) is
    REACHABLE, not just configured: a join with one dominant hot key,
    forced onto the sort-merge path, ends with AQE marking the join
    skew=true in the final adaptive plan — the runtime split that keeps
    a single giant key from serializing a 1000-executor stage — and the
    split changes no results."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") < 160_000, F.lit(0))
            .otherwise(F.col("id") % 50)
            .alias("k"),
            (F.col("id") % 97).alias("v"),
        )
        dim = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        # global aggregate downstream: a groupBy on the JOIN KEY would
        # require the join's hash partitioning and AQE then refuses the
        # skew split (duplicated partitions violate the requirement) —
        # the realistic shape is join → project/filter/global-metrics
        joined = fact.join(dim, "k").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("v") + F.col("w")).alias("sv"),
        )
        row = joined.collect()[0]
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
        # correctness under the split: every row survived exactly once
        assert row["cnt"] == 200_000
        expected_sv = sum(
            (i % 97) + 2 * (0 if i < 160_000 else i % 50)
            for i in range(200_000)
        )
        assert row["sv"] == expected_sv
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


# ---------------------------------------------------------------------------
# round-8 families
# ---------------------------------------------------------------------------

def test_fuzzy_pairs_no_cartesian_segment_equijoin(spark, qs):
    """The PassJoin candidate stage must be a segment-keyed EQUI-join —
    never a cartesian/BNL over the key frames — and the Levenshtein
    verify runs AFTER the join (on candidates only)."""
    tree = _tree(_plan(qs["dedup_fuzzy_pairs"](spark, SF_DIR)))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    full = _plan(qs["dedup_fuzzy_pairs"](spark, SF_DIR))
    assert "levenshtein" in full, "verify must be expression-level (codegen)"


def test_vocab_coverage_vocab_side_broadcast(spark, qs):
    """The frozen vocab is provably top-N-bounded, so the coverage join
    must broadcast it — the token explode side never shuffles for the
    join."""
    tree = _tree(_plan(qs["text_vocab_coverage"](spark, SF_DIR)))
    assert "BroadcastHashJoin" in tree, tree
    # the vocab build is a TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in tree, tree


def test_seasonal_decompose_bounded_windows_one_key_exchange(spark, qs):
    """Trend is a bounded ROWS window; the seasonal join is against a
    period-sized frame (broadcast); no unbounded sort pathologies."""
    tree = _tree(_plan(qs["temporal_seasonal_decompose"](spark, SF_DIR)))
    assert "Window" in tree, tree
    assert "BroadcastHashJoin" in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_token_budget_single_aggregate(spark, qs):
    """The plan is ONE partial/final aggregate over the corpus plus
    projections — no joins, no windows over data-sized frames."""
    tree = _tree(_plan(qs["sampling_token_budget"](spark, SF_DIR)))
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree


def test_gopher_rules_single_scan_single_agg(spark, qs):
    """The whole Gopher rule set is one projected CASE over the scan +
    one count aggregate: exactly one exchange, no joins."""
    tree = _tree(_plan(qs["quality_gopher_rules"](spark, SF_DIR)))
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree
    assert "Scan parquet" in tree or "Scan ExistingRDD" in tree, tree


def _functions_using(token: str) -> set[tuple[str, str | None]]:
    """(file, innermost enclosing function) of every line of the package
    and the entry that contains ``token``."""
    import ast
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(root, "__spark_entry__.py")] + sorted(
        glob.glob(os.path.join(root, "bullet_spark_spark", "**", "*.py"), recursive=True)
    )
    found = set()
    for path in paths:
        with open(path) as f:
            src = f.read()
        if token not in src:
            continue
        defs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for i, line in enumerate(src.splitlines(), 1):
            if token in line:
                spans = [d for d in defs if d[0] <= i <= d[1]]
                name = min(spans, key=lambda d: d[1] - d[0])[2] if spans else None
                found.add((os.path.relpath(path, root), name))
    return found


def test_every_bounded_stream_run_goes_through_drain():
    """``sources.streaming.drain`` is the one code that starts a bounded
    (availableNow) stream and waits for it; the dedup ingest functions
    start one and hand the running query to their caller. The entry names
    no stream, so it names no session-global sink."""
    drain = ("bullet_spark_spark/sources/streaming.py", "drain")
    ingest = {
        ("bullet_spark_spark/operators/dedup.py", name)
        for name in (
            "streaming_neardup_ingest",
            "streaming_span_scrub_ingest",
            "streaming_fuzzy_ingest",
        )
    }
    assert _functions_using("availableNow=True") == {drain} | ingest
    assert _functions_using("awaitTermination(") == {drain}
    assert not {f for f, _ in _functions_using(".queryName(")} & {"__spark_entry__.py"}
