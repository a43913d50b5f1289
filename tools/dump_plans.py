"""Generate PLANS.md: formatted physical plans + health signals for the
headline queries. Run after plan-affecting changes:
    python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = {
    "bullet_group_agg": "filter pushed to scan; single partial→final HashAggregate",
    "join_inner_broadcast": "dim side broadcast — no shuffle of the fact table",
    "join_fact_fact": "fact⋈fact; AQE picks broadcast at this sf, SMJ+skew-split at scale",
    "window_tumbling_10m": "event-time bucketing inside the aggregate, 2 exchanges total",
    "tpch_q1_pricing": "6-column pruned scan of a 11-column table + pushed date filter",
    "global_topk_orders": "TakeOrderedAndProject — per-partition heap, never a full sort",
    "sim_cosine_topk": "norms precomputed per side; broadcast query vectors",
    "dedup_minhash_lsh": "signature frame persisted; band join keyed by (band, hash)",
    "bql_group_having": "BQL text -> same partial/final HashAggregate plan as the spec API",
    "winfunc_lag_frames": "two Window specs (offsets/frames + rank order) — one exchange on o_custkey",
    "join_asof": "union + carry-forward window: ONE exchange on the key, no range explosion",
    "join_range_bands": "interval join via bucket-explode equi-join; residual predicate after",
    "time_bucket_rollup": "day partials aggregated once; month/year reuse the exchange (AQE ReusedExchange)",
    "decontam_ngram": "eval n-gram set aggregated once + broadcast; corpus explode -> per-doc groupBy",
    "tpch_q6_forecast": "all 4 predicates pushed to the scan; 4-column pruned read; partial->final single-row agg",
    "tpch_q18_large_orders": "one lineitem scan; qualifying agg reused as returned agg; tiny set broadcasts twice",
    "dedup_minhash_md5": "portable md5 signatures; same banded join + verify as the production path",
    "dedup_simhash_md5": "pigeonhole block join (guaranteed recall) instead of prefix blocking",
    "sketch_quantile_merge": "sketch maps explode -> per-slice bucket sum -> window targeted-rank; no base rescan",
    "text_bm25_topk": "broadcast query terms prune the postings agg; decimal sums; per-query top-k window",
    "decontam_minhash": "eval bands AND signatures broadcast; corpus never self-joins",
    "text_repeated_spans": "explode spans -> one span-keyed groupBy with map-side partials",
    "scale_salted_join": "join key is (key, salt): a hot key spreads over 16 tasks",
    "text_curation_funnel": "whole funnel is one codegen CASE over the scan",
    "pipeline_end_to_end": "four chained stages, one scan, one agg exchange, codegen filters",
    # round-4 additions
    "tpch_q2_min_cost_supp": "correlated min as post-agg window; one fact scan; dims broadcast",
    "tpch_q17_small_qty": "per-part avg thresholds broadcast back; no fact-fact shuffle join",
    "tpch_q21_waiting_supp": "EXISTS/NOT-EXISTS as ONE per-(order,supp) agg + window flags; no Expand",
    "text_unigram_logprob": "token counts map-side combined; top-V vocab + totals broadcast into scoring pass",
    "text_scrub_spans": "span posexplode -> frequent-span semi-join -> coverage regroup -> index-aware rebuild",
    "sampling_temperature_mixture": "rates derived in-engine, broadcast back; zero-shuffle md5 predicate",
    "corpus_report": "one scan; distinct fingerprint rides the lang-keyed aggregation",
    "text_chunk_windows": "sequence -> slice -> posexplode; narrow, no shuffle",
    "pipeline_release_v2": "curate -> scrub -> temperature-mix -> chunk composed",
    "dedup_semantic_survivors": "cosine pairs -> checkpointed components closure -> keep-min anti",
    "quality_validate": "all rules as conditional counts in ONE aggregation over one scan",
    "behavior_sessionize": "gap + running index: two windows over one user-keyed exchange",
    "behavior_retention": "two map-side-combinable aggs; epoch-arithmetic offsets",
    "temporal_zscore_anomalies": "decimal-quantized bucket means -> exact trailing moments",
    "tpch_q11_important_parts": "scalar HAVING as window over reduced rows; one base scan",
    # round-4 late additions
    "quality_drift_psi": "per-bucket counts per side; PSI window over the #buckets frame",
    "sampling_weighted": "TakeOrderedAndProject on the E-S key; per-partition heaps, no sort",
    "dedup_segments": "persisted posexplode; broadcast semi-join dup probe; index-aware array_except rebuild — corpus never re-exchanged by doc id (r5 rewrite)",
    "text_bigram_logprob": "pair frame persisted for 3 consumers; vocab-sized sides broadcast",
    # round-4 final additions
    "graph_pagerank_trade": "per-iteration: edge join + dst agg, checkpoint-backed ranks; out_w via one window",
    "text_tfidf_keywords": "dl/df as windows over ONE (doc,term) agg; per-doc top-k window, no global sort",
    "dedup_source_overlap": "distinct (source,shingle) shuffle; pair join keyed by shingle; sizes broadcast 2x",
    "quality_snapshot_diff": "one full-outer key join; fingerprints inline from each scan; unchanged dropped in-join",
    "relational_scd2_history": "lag-dedup + lead-chaining share ONE key Exchange",
    "temporal_resample_ffill": "bucket collapse -> span agg -> sequence explode -> left join -> ffill window",
    "distribution_winsorize": "3 bounded quantile aggs; 1-row broadcast cutoffs; codegen clip over the scan",
    "quality_correlations": "k(k+3)/2 moments in ONE agg over one scan; explode of a struct array",
    "relational_unpivot": "native Expand inside the scan stage; zero Exchange",
    "relational_incremental_agg": "delta-sized change groupBy + one full-outer key join against the base",
    "bql_lateral_explode": "Generate (explode) inside the scan stage; agg after",
    "pipeline_warehouse_sync": "diff -> semi-join change sets -> delta patch -> drift join; base persisted 2 consumers",
    "behavior_transitions": "one user-keyed lag window; |events|^2 count state; windowed normalization",
    # round-5 additions
    "temporal_ewma": "collect_list ROWS frame + Horner fold; ONE key exchange, no self-join",
    "dedup_lexical_cosine": "inverted-index self-join keyed by term; idf/norms broadcast; decimal dot accumulation",
    "dedup_containment_pairs": "distinct gram postings persisted; shared counts from the posting self-join; sizes broadcast 2x",
    "quality_benford": "ONE aggregation pass; digit from decimal-string form; expected map is a literal",
    "multimodal_warc_roundtrip": "codegen record composition -> mapInPandas parse; narrow, no shuffle",
    "pipeline_ingest_warc": "WARC build+parse -> curation CASE -> dedup groupBy -> source report: one agg exchange after the parse stage",
    "graph_hits_trade": "per-iteration: 2 edge-frame groupBys + broadcast score joins; per-round localCheckpoint (two-consumer lineage)",
    # round-6 late additions
    "sketch_bloom_prune": "bit positions explode in the scan; bit_or to a words frame; probe = k reused broadcast joins + codegen bit tests — the orders scan never shuffles before the verify semi-join",
    "sketch_cms_freq_est": "d cell sums to a counters frame; lookup = d broadcast joins + least(); exact counts ride ONE map-side-combinable agg",
    # round-6 final additions: span-level dedup family
    "dedup_span_exact": "gram hashes (not strings) shuffle once for document-frequency; dup positions back via AQE-broadcast semi-join; gaps-and-islands window merges spans per doc",
    "dedup_span_scrub": "shares the span gram frame; covered-token mask is row-local sequence/explode + collect_set per doc; array_except index rebuild like dedup_segments",
    "dedup_winnow_pairs": "window-min fingerprint selection (ONE doc-keyed window); pair join runs on the ~2/(w+1)-density winnowed postings with the hot-key prune",
    # round-7 additions: exact-path certifications + PQ
    "quality_filter_frozen": "frozen linear gate = ONE narrow codegen map (4 doubles + 10-word vocab as literals); zero Exchange",
    "sketch_cms_error_md5": "md5-portable cells: build agg + d broadcast-join lookups over the FULL key set; exact counts join back once",
    "sketch_overlap_exact": "distinct (group,key) shuffle; pair overlap keyed by KEY; #groups² spine from the bounded size table (BNL on metadata, never data)",
    "sim_hard_negatives": "brute-force candidates w/ precomputed norms; banned anti-join; per-anchor rank window over fetch_k rows",
    "sim_pq_ann": "codes frame from ONE Arrow map; ADC scan emits per-batch top-k partials — no n×q frame, final window over bounded partials",
    # round-7 late additions: layout + rank-space families
    "scale_zorder_stats": "1-row bounds broadcast; Morton key is ONE codegen projection; NTILE sort is the documented oracle-parity path (cluster_by_range is the write path)",
    "scale_zorder_pruning": "two layouts' zone maps localCheckpointed (64 rows each); report = keys × stats BNL on METADATA, data never rejoined",
    "sim_kmeans_lloyd": "per iteration: k-row centroid broadcast crossJoin (row-local scoring) + min(struct) argmin agg (map-side combine, r7) + (cluster,pos) agg with k×dim state; centroids checkpoint each round",
    "sim_hybrid_rrf": "both rankers produce bounded top-20 frames; the ONLY SMJ is the full-outer fusion merge of those frames; corpus-sized streams never build hash tables",
    "sampling_split_leakage": "split predicates are stateless md5 projections; audit joins the bounded pair list against doc flags — no new data-sized shuffle",
    "quality_embedding_drift": "frozen centroids broadcast; assignment row-local; PSI window over the |clusters|-row count frame",
    "scale_hilbert_pruning": "Hilbert map = 2^16-row broadcast lookup join (no per-row Python); downstream identical to the zorder zone-map machinery",
    # round-8 additions: fuzzy/diagnostic/vocab/seasonal/budget families
    "dedup_fuzzy_pairs": "PassJoin pigeonhole: (d+1)-segment posexplode; UNHINTED segment-keyed self-join (hot segments are AQE skew territory); Levenshtein DP only on candidates",
    "scale_skew_report": "ONE count-by-key agg (map-side combine); stats/top-N over the key-space frame; 1-row stats crossJoin broadcast",
    "text_vocab_coverage": "vocab = count agg + TakeOrderedAndProject(500); coverage join against the provably top-N-bounded frame; one agg per source",
    "temporal_seasonal_decompose": "one key exchange; bounded ROWS window trend; period-sized quantized seasonal agg joined back",
    "sampling_token_budget": "ONE exact-decimal corpus agg; weights as a literal map; output is #sources rows",
    "quality_gopher_rules": "entire Gopher rule set as one projected CASE in the scan stage + one count agg",
    "dedup_weighted_jaccard": "raw tf postings persisted (4 consumers); df-pruned posting self-join; union mass via Ta+Tb-Σmin, union space never built",
    "dedup_weighted_minhash": "multiset-expanded copies -> one groupBy(id) with k md5 mins; banding/verify are the shared LSH paths",
    "dedup_eval_fuzzy": "pair spaces canonicalized + ONE full-outer pair join + ONE aggregate; pair-space-sized throughout",
    "pipeline_ccnet_buckets": "chunk frame checkpointed once (feeds LM train + score); ntile over per-chunk rows; 3-row report",
    "scale_column_stats": "columns melt once; RANGE-partitioned global rank (per-slice row_number + metadata-frame offsets, r9 — no per-column single reducer) + ONE agg (quantiles = conditional max over ranks)",
    # round-9 additions: lexical-health / drift / integrity / bootstrap
    "text_zipf_fit": "token count agg + TakeOrderedAndProject(500); OLS over the 500-row frame with decimal sums — term space never sorted",
    "text_unigram_kl": "one count-by-term agg per side; FULL OUTER term join; 1-row totals crossJoin broadcast; decimal contribution sum",
    "scale_shard_manifest": "one projected md5->60-bit hash; ONE shard-keyed agg (count + bit_xor, both map-side combinable, 16B state)",
    "sampling_bootstrap_ci": "explode to Bx rows pipelines into ONE replicate-keyed agg; CI = percentile-disc window over the B-row frame",
    "dedup_weighted_minhash_cws": "j explodes to rows -> pipelined groupBy(id,j) min(struct) + k-bounded collect (5x faster per row than the k-wide projection); banding/verify shared LSH paths",
    # round-9 late additions
    "window_hopping_10m_5m": "hopping window(dur, slide): 2x replication INSIDE the aggregate Expand; one partial->final HashAggregate pair",
    "text_unigram_js": "two token aggs + persisted full-outer term join; symmetric contributions sum as decimals",
    "sampling_bootstrap_by_lang": "explode to Bx rows -> ONE (group, replicate) agg; CI window over the groupsxB metadata frame",
    "temporal_cusum_volume": "reflection closed form: ONE key exchange + running-sum and running-min windows; decimal(20,9) prefix sums (precision-38 loss documented)",
    "temporal_trend_robust": "per-key ordinal self-join (series^2 bounded) -> slope-ranked window -> one agg; median = percentile-disc lower",
    "graph_triangles_supplier": "degree-ordered orientation caps wedge fan-out at O(m^1.5); closure = one equi-semi-join; no cartesian anywhere",
    "distribution_mannwhitney": "two value-count aggs + full-outer merge + two-level cumsum (no single-partition window) + one final agg",
    "distribution_welch_ttest": "ONE map-side-combinable aggregate, state = six numbers; no shuffle beyond the single-row reduce",
    "distribution_spearman": "two doubled-avg-rank maps joined back to rows; one moment aggregate; rank maps distinct-value-sized",
    "temporal_acf": "one key exchange for row_number; lag-exploded deviations equi-join (n*L rows); shared denominator computed once",
    "temporal_ccf": "acf shape with lags -L..L over the pivoted (x,y) grid; pivot is one conditional-count aggregate",
    "scale_compaction_plan": "per-partition size-DESC cumsum over the metadata-scale file inventory; one groupBy to shards",
    "relational_frequent_pairs": "per-basket self-join (facet-bounded fan-out) + two item-count joins + broadcast N frame",
    "graph_adamic_adar": "hub-capped wedge expansion (Sigma deg^2 honest cost) + one decimal-sum aggregate",
    # round-10 additions
    "dedup_bbit_minhash": "banding on full md5 components; verify touches only the last-nibble b-bit sketch; drop-side df prune",
    "distribution_ab_power": "ONE six-number map-side-combinable aggregate (welch shape); MDE as a single IEEE expression",
    "distribution_kruskal": "value counts persisted (2 base scans: vc + per-group); two-level cumsum ranks; k-row decimal-summed reduce",
    "temporal_interval_overlap": "auto width from ONE median-length agg (r11); short intervals bucket-explode + first-shared-bucket equi-join; long tail routes to broadcast theta (cap x width split)",
    "graph_kcore_trade": "iterative peel: per-round degree agg + two semi-joins on a shrinking localCheckpoint'ed edge frame",
    "sampling_apportion_lrm": "stratum-frame quotas over a broadcast decimal-exact total; two bounded windows (metadata-sized)",
    "distribution_group_quantiles": "RANGE-partitioned in-group rank (r11: repartitionByRange(group,v) + metadata-frame offsets — no single-task group sort) + broadcast (groups x probs) boundary probe; one conditional agg",
    "temporal_resample_interp": "per-key explode grid; one backward + one forward key-partitioned window; no calendar join",
    # round-11 additions
    "distribution_group_quantiles_skew": "same range-partitioned rank exercised at a PLANTED 90/10 group split — the hot group spans many range partitions",
    "temporal_interval_overlap_skew": "month-long spans exceed cap*w and take the broadcast theta path; intra-day sessions stay bucket-local (cap=16 forces the split in-fixture)",
    "sim_maxsim_rerank": "per-slice norms precomputed per side; broadcast query pair join; m^2 ordered-fold dots per pair, all codegen; per-query top-k window",
    "text_dsir_weights": "two token passes reduce to <=B-row bucket frames (map-side combine); lambda frame broadcast into ONE doc-keyed scoring agg",
    "dedup_semdedup_prune": "nearest-centroid argmin (broadcast centroids, row-local) -> cluster-local EQUI-join pairs (Sigma n_c^2, never a grid) -> components closure",
    "text_dsir_bigram_weights": "unigram+bigram features from ONE tokenize (arrays concat); per-doc feature frame persisted, source totals derived from it",
    "pipeline_dsir_select": "DSIR weight agg (bucket-bounded) -> Gumbel key projection -> TakeOrderedAndProject(50); never leaves log space",
    "sampling_gumbel_by_lang": "Gumbel key is one codegen projection; per-group rank window over the lang-keyed exchange; quota rows only",
    "sim_maxsim_ann_rerank": "per-slice LSH retrieval (slice-unique composite ids) -> candidate equi-join -> m^2 codegen cosines on survivors only; no crossJoin",
    # round-11 late additions (r12 oracle queue)
    "graph_bfs_khop": "level-synchronous frontier: per-hop edge join + visited anti-join, localCheckpoint truncates lineage; frontier-sized shuffles",
    "relational_record_linkage": "two block-keyed self-joins (lang x 6-char window) union'd + bounded levenshtein on candidates; block-sized shuffles only",
    "scale_bucketed_join": "both scans pre-partitioned by bucket spec: SMJ with ZERO Exchange (asserted in-query); only the re-keyed agg shuffles",
    "dedup_cdc_chunks": "map-only mapInPandas chunker (zero shuffle) -> lang join + chunk-space groupBy",
    "dedup_rate_estimate": "ONE combinable aggregate: sample + exact sides as conditional counts, no join, no second pass",
    "behavior_attribution": "user-keyed join bounded by lookback conjunct; 3 windows over ONE conversion partitioning; decimal-summed credits",
    "relational_merge_upsert": "one full-outer join on the merge key -> codegen CASE branch projections (the Delta MERGE plan, minus the log)",
    "graph_cheapest_path": "delta-frontier relaxation: improved-only worklist joins edges per hop; min-merge groupBy; localCheckpoint per round",
    "scale_bucketed_agg": "bucketed scan's HashPartitioning feeds the groupBy directly: ONE exchange-free stage (asserted in-query)",
    # round-11 third wave
    "graph_communities_lpa": "per round: edge join + combinable (node,label) count + degree-bounded top-1 window; localCheckpoint per round",
    "multimodal_wds_roundtrip": "codegen ustar compose (checksum = aggregate/ascii fold) -> group-sized pack -> mapInPandas parse -> one sample-key agg",
    "streaming_drift_psi_drain": "10 bucket counters of stream state; reference + totals broadcast; PSI terms codegen, 10-row window total",
    "winfunc_rank_family": "four rank functions over ONE customer-keyed window spec: a single exchange + sort",
    "pipeline_wds_release": "gate/dedup windows on md5(text) partitioning -> shard-keyed pack -> parse -> fingerprint agg; one exchange per stage",
    "scale_join_size_estimate": "count frames only: per-key and per-bucket aggs, estimate joins on m-row frames — the estimated join never runs",
    "scale_zorder_pruning": "both layouts now bucket via range exchange + pid-offset rank (no one-task ntile sort); stats/panel unchanged",
}


def main() -> None:
    from bullet_spark_spark import get_spark
    import __spark_entry__ as e

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dump-plans")
    qs = e.queries()

    print("# PLANS — physical plans of the headline queries\n")
    print(f"Generated by `python tools/dump_plans.py` at sf dir `{sf}`. The")
    print("signals to check per plan: `PushedFilters` reaching the Scan, pruned")
    print("`ReadSchema`, partial→final HashAggregate pairs, broadcast joins on")
    print("dimension sides, TakeOrderedAndProject for top-k, exchange count.\n")
    print("## Profiling note: interpreted HOF lambdas + blocked GEMM (round 6)\n")
    print("Two structural wins this round (full analysis in SCALE.md):")
    print("(1) HOF lambdas (transform/filter/aggregate) are interpreted and")
    print("re-evaluate captured expressions PER ELEMENT — a tokenizer inside")
    print("the lambda made every n-gram operator O(tokens²)/doc. Fixed via")
    print("arrays_zip of shifted slices / pre-materialized token columns /")
    print("sort+run-length folds: curation funnel 8.9→0.3 s, char entropy")
    print("8.8→0.6 s, WARC capstone 21.2→1.3 s, lsh_ann signatures (one GEMM")
    print("per Arrow batch instead of 4k interpreted fold steps/row)")
    print("7.9→0.9 s — identical oracle-checked outputs. (2) The certified")
    print("semantic near-dup path moved from an n²-row crossJoin to")
    print("cosine_pairs_blocked (grid applyInPandas GEMM, n×B shuffle, no")
    print("join operator at all — plan pinned cartesian-free by")
    print("test_blocked_gemm_cosine_no_cartesian); ensemble survivors")
    print("23.6→5.8 s in the sf0.1 sweep, sweep total 327→204 s.\n")
    print("## Profiling note: dedup_minhash_lsh stage breakdown (round 4)\n")
    print("Measured at sf0.1 (5000 docs, loadavg 0.78, median of 3 after")
    print("warmup): signatures(np) 0.53 s — the dominant stage; band+join")
    print("0.40 s; verify increment 0.27 s; end-to-end 0.97 s (acceptance bar")
    print("was ≤1.06 s). `widen_thin_input`'s exchange PAYS at this size:")
    print("disabling it makes the signature stage 1.15 s (2.2× slower) because")
    print("the mapInPandas stage inherits the scan's 1-2 partitions and runs")
    print("near-serially — the suspected regression from rounds 2-3 was host")
    print("noise, and the widen stays. At 100 TB the input arrives wide and")
    print("widen_thin_input passes through without a shuffle by design.\n")
    print("## Profiling note: graph_pagerank_trade (round 4)\n")
    print("~6 s at sf0.1, ~1.17 M symmetrized edges / 16 k nodes: the cost is")
    print("6+ passes over the edge frame (derivation join+agg, out-weight agg,")
    print("5 iteration scans of the cached frame) — the canonical iterative-")
    print("graph cost, linear in edges × iterations. Tuning that landed:")
    print("broadcast rank/contrib joins below a node-count threshold (stat-less")
    print("checkpoint leaves otherwise plan SMJ), out-weights as a hash agg +")
    print("broadcast join instead of a sort-based window when nodes fit, and")
    print("periodic (not per-round) localCheckpoint so <=6 iterations execute")
    print("as ONE chained pass. Above the threshold every choice degrades to")
    print("the shuffle shape that scales.\n")
    print("## Profiling note: control-plane serving + two-consumer loops (round 5)\n")
    print("Dynamic-mux routing now compiles via the expression AST's SQL")
    print("renderer — ONE F.expr py4j round trip (2 ms) instead of ~1000")
    print("(0.24 s) per registry change; per-batch jobs pin right-sized")
    print("reducers and drop AQE/constraint-propagation (pure latency on")
    print("bounded-partial micro-batch jobs). 32-query serve cycle 16 -> ~22")
    print("q/s; ~51 q/s at 128 concurrent (marginal query cost is ms on the")
    print("shared scan; the residual wall is micro-batch machinery + fresh-")
    print("frame Catalyst analysis, measured in SCALE.md). HITS lesson: a")
    print("TWO-consumer iterative frame doubles the logical plan per round —")
    print("Catalyst analysis goes exponential even when persist() dedupes")
    print("execution (2.7/6.1/45.6 s for 1/2/3 iterations); eager per-round")
    print("localCheckpoint makes it linear (2.6/3.2/4.1 s for 1/3/5).\n")
    for name, note in QUERIES.items():
        df = qs[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the tree + scan details; drop verbose per-node I/O lists
        lines = plan.splitlines()
        tree_end = next((i for i, l in enumerate(lines) if l.strip() == "" and i > 2), len(lines))
        tree = "\n".join(lines[:tree_end])
        scans = [l.strip() for l in lines if "PushedFilters" in l or "ReadSchema" in l]
        print(f"## {name}\n\n*{note}*\n")
        print("```")
        print(tree)
        for s in scans:
            print(s[:200])
        print("```\n")


if __name__ == "__main__":
    main()
