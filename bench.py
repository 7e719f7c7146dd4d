"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line as the FINAL stdout line: {"metric", "value" (total sec),
"unit", "queries" {name: sec}, "sf", "value_floor", "canonical_value",
"canonical_value_floor"}. The full per-query floor/canonical breakdown is
written to BENCH_DETAIL.json beside this script (the driver's stdout
capture keeps only a ~2 KB tail, so the final line must stay small).

Each query is fully materialized through the `noop` sink (all columns
evaluated, no write cost). Queries span the operator families: state-store
semantics (d*), relational (h*/w*/j*), text (tx*), dedup (dd*), similarity
(sim*), multimodal (mm*).

Three sections:

- HEADLINE — the round-1 list, protocol unchanged (single timed pass as the
  headline `value`), kept byte-identical for round-over-round comparability
  even where a member was later demoted (pk1) or superseded.
- CANONICAL — the round-3/4 recommended forms (chunked packing, prep
  pipeline, IVF, salted join, multimodal pipelines, and wall-time for the
  streaming gate queries st1/st3, each of which runs a full
  Trigger.AvailableNow job against a fresh checkpoint). Its headline metric
  is the FLOOR (per-query min of two same-session passes): host scheduler
  variance on this box moves byte-identical queries ±25% between runs
  (PLANS.md "Measurement noise"), so regression judgments for the canonical
  surface use floors; the single-pass numbers are kept as informational
  fields.
- PIPELINE — added round 7: the round-6/7 data-pipeline operators (gap
  fill, epoch shuffle, quantized search, SemDeDup, substring dedup,
  mixture sampling, shard write/read roundtrip) under the same floor
  protocol; first floors recorded in BENCH_r07; membership frozen there.
- EXTRAS_R8 — the round-8 cohort, graduated + frozen in round 9 (every
  member held within 2x of its own first floor): judged by its section
  floor from BENCH_r09 onward, per-member round-8 floors kept in
  BENCH_DETAIL.json.
- EXTRAS_R9 — the round-9 cohort, graduated + frozen in round 10: judged
  by its section floor (first recorded BENCH_r10), per-member round-9
  floors kept in BENCH_DETAIL.json. Prebuilt-regime members time only
  the query side: their index artifacts are built once per session
  before the timed region.
- EXTRAS_R10 — the round-10 cohort, graduated + frozen in round 11:
  judged by its section floor (first recorded BENCH_r11); dd17/gx1
  graduated carrying their round-11 algorithm upgrades, still inside the
  2x budgets of their round-10 first floors.
- EXTRAS_R11 — the round-11 cohort, graduated + frozen in round 12:
  judged by its section floor (first recorded BENCH_r12); every member
  closed round 11 at or below its own first floor.
- EXTRAS_R12 — the round-12 cohort (20 members incl. the mining/graph
  tier and two end-to-end streams), graduated + frozen in round 13:
  judged by its section floor (first recorded BENCH_r13); mf1 graduated
  carrying its round-13 block-join form, st10/st11 their runner-internal
  partition pinning + staged-backlog cleanup.
- EXTRAS — the live roster (round 13+); same floor protocol, each member
  judged against its own first floor until the cohort graduates
  (BASELINE.md graduation rule).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "d2_state_table",
    "d5_changes",
    "d6_upsert_merge",
    "d9_enrich",
    "d10_windowed_changes",
    "h1_pricing_summary",
    "h3_top_orders",
    "h5_nation_revenue",
    "w1_segment_top_orders",
    "tx2_quality_scores",
    "tx4_fingerprints",
    "tx5_corpus_stats",
    "dd1_exact_dedup",
    "dd2_ngram_jaccard",
    "dd3_minhash_lsh",
    "dd4_simhash_pairs",
    "sim1_cosine_topk",
    "sim3_ann_topk_lsh",
    "mm2_decoded_features",
    "as2_asof_cogrouped",
    "ses1_sessionize",
    "ro1_rollup_revenue",
    "pv1_pivot_event_counts",
    "da1_distinct_aggregates",
    "vec1_label_centroids",
    "tf1_tfidf_top_terms",
    "sp1_deterministic_split",
    "pk1_pack_sequences",
]

# Frozen in round 4 — the canonical operator forms. First recorded floors
# (BENCH_r04) are the baseline: no member may regress past 2x its first
# recorded floor.
CANONICAL = [
    "pk2_pack_chunked",
    "pp1_prep_pipeline",
    "sim4_ivf_topk",
    "sim5_ivf_kmeans_topk",
    "sim6_ivf_kmeans1_topk",
    "js1_salted_join",
    "mm3_resized_stats",
    "mm4_frame_sample_stats",
    "st1_streaming_state",
    "st3_streaming_custom_fold",
]

# Added in round 7 — the round-6/7 pipeline operators, so the floor
# regression rule covers them too (the round-6 verdict's gap #2: a silent
# 5x regression in gf1 would otherwise ship undetected). Same protocol as
# CANONICAL (floor = per-query min of two same-session passes); first
# recorded floors (BENCH_r07) are these members' baselines. The frozen
# CANONICAL list is untouched so its round-4 floors stay comparable.
PIPELINE = [
    "gf1_gap_fill",
    "ds1_shuffle_shards",
    "qz2_quantized_topk",
    "sd1_semantic_dedup",
    "dd7_substring_spans",
    "sm2_mixture_sample",
    "shards_roundtrip",
    # late round 7 (first floors also BENCH_r07): corpus-relative quality
    # filtering + snapshot-vs-reference dedup. st4 (streaming content
    # dedup) is deliberately NOT here — its time is streaming-engine
    # startup, already represented by st1/st3 in CANONICAL.
    "qf1_quality_quantile",
    "dd10_dedup_against",
    # latest round-7 ops: sketch data card (one hash agg), zlib quality
    # signal (narrow pandas-UDF projection), keyless binned range join.
    "cs1_corpus_card",
    "tx9_compression_signals",
    "rj1_range_join",
    # final round-7 batch ops (first floors BENCH_r07): line dedup,
    # classifier scoring, bigram LM, JL projection, skew report. st5/st6
    # are deliberately NOT here — streaming-engine startup dominates their
    # time, already represented by st1/st3 in CANONICAL.
    "dd11_line_dedup",
    "cls1_classifier_score",
    "lm2_bigram_logprob",
    "rp1_random_projection",
    "sk1_key_skew_report",
    "tok1_bpe_pair_counts",
    "mm5_interleaved_pack",
    # round-7 continuation (first floors BENCH_r07): heavy-hitter n-grams
    # (sketch candidates + exact rescan, two corpus passes), the mergeable
    # frequent-items sketch card, and the iterative BPE training loop
    # (one corpus aggregate + 8 vocabulary-level iterations).
    "hh1_heavy_ngrams",
    "hh2_mergeable_topk",
    "tok2_bpe_train",
    # product-analytics family: ordered funnel (user_id-keyed aggregate
    # chain) and the cohort retention matrix.
    "fu1_funnel_stages",
    "co1_cohort_retention",
    # theta-sketch pairwise source overlap (one aggregate + tiny pair algebra)
    "cs3_corpus_overlap",
    # time-based split: bounded-state discrete quantile + broadcast cutpoint
    "sp2_temporal_split",
    # PCA fit (one moment-partial pass) + projection
    "rp2_pca_projection",
]

# Round-8 cohort, GRADUATED + frozen in round 9 (the BASELINE.md graduation
# rule: every member held within 2x of its own first floor, so the roster
# freezes as a section — judged by extras_r8_value_floor against its first
# recorded section floor, BENCH_r09; per-member round-8 first floors stay in
# BENCH_DETAIL.json as the tie-breaker).
EXTRAS_R8 = [
    # round 8: the day-2 incremental recipe as one unit (write day-1 ->
    # dd10 dedup day-2 against it -> append -> compact -> validate ->
    # epoch read), floor-guarding the manifest-patch no-rescan claim.
    "incremental_prep",
    # round 8: product-quantization ADC search (codebook train + encode +
    # distance-table query as one unit).
    "qz3_pq_topk",
    # round 8 (second batch): BM25 retrieval, cluster-balanced diversity
    # sampling, DSIR importance resampling, composed IVF-PQ search.
    "bm1_bm25_topk",
    "dv1_diversity_sample",
    "is1_importance_resample",
    "qz4_ivf_pq_topk",
    # round 8 (third batch): PMI collocations, RRF hybrid retrieval,
    # z-score outliers, forward as-of, shingle containment.
    "pmi1_collocations",
    "rrf1_hybrid_fusion",
    "an1_value_outliers",
    "as3_asof_forward",
    "dd12_containment",
    "psi1_quality_drift",
    "fe1_decayed_value",
    "dd13_normalized_dedup",
    "sp3_kfold_split",
    "lm3_interpolated_logprob",
]

# Round-9 cohort, GRADUATED + frozen in round 10 (BASELINE.md rule: every
# member held within 2x of its own first floor in the round-9 close runs AND
# the round-10 same-day triple — worst member 1.14x): judged by
# extras_r9_value_floor against its first recorded section floor from
# BENCH_r10 onward; per-member round-9 first floors stay in
# BENCH_DETAIL.json as the tie-breaker. The *_prebuilt_* members time the
# QUERY side only — their index artifacts are built once per bench session
# before the timed region (the build-once/query-many regime; the
# rebuild-per-call forms stay floor-guarded in EXTRAS_R8).
EXTRAS_R9 = [
    "qz4_prebuilt_query",
    "rrf2_prebuilt_fusion",
    "rrf2_hybrid_fusion_ann",
    "cls2_train_classifier",
    "dd14_char_spans",
    "dd15_cluster_canonicalize",
    "lm4_kneser_ney_logprob",
    "qz5_refined_topk",
    "qz5_prebuilt_refine",
    "tok3_bpe_encode",
    "tx8_collapse_runs",
    "dc2_decontaminate_bloom",
    "dq1_constraint_report",
    "df1_snapshot_diff",
    "dd16_prefix_jaccard",
    "tx10_typo_pairs",
    "rw1_rolling_value",
    "bm2_prebuilt_query",
    "scd1_state_history",
    "ka1_k_anonymity",
    "hn1_hard_negatives",
    # round 9 (final batch): LOO target encoding, Markov transitions,
    # weighted sampling, DP noisy counts — first floors recorded r09.
    "te1_target_encode",
    "mk1_markov_transitions",
    "ws1_weighted_sample",
    "dp1_noisy_counts",
    "qz6_binary_topk",
]

# Round-10 cohort, graduated + frozen in round 11 (every member held
# within 2x of its own first floor across the round-10 close runs and the
# round-11 run — BASELINE.md graduation rule): judged by its section floor
# from BENCH_r11 onward. NOTE: dd17 graduated with its round-11 globally-
# exact algorithm (anchor-bridged chunks), gx1 with rank-chain edges —
# both held under their round-10 first floors' 2x budget through the
# change (note 35: membership immutable from here).
EXTRAS_R10 = [
    # exact suffix-array span dedup, globally exact via the anchor bridge.
    "dd17_exact_spans",
    # graph-ANN tier (per-IVF-cell kNN graphs + beam search).
    "gx1_graph_topk",
    # winnowed global span dedup (minimizer-sampled postings).
    "dd18_winnow_spans",
    # graph-ANN query side against a once-per-session prebuilt cell graph.
    "gx1_prebuilt_query",
    # CCNet per-language perplexity head/middle/tail split.
    "ppl1_perplexity_buckets",
    # in-engine retrieval grading (IVF vs brute, recall/MRR/nDCG).
    "ev1_retrieval_metrics",
]

# EXTRAS_R11 — the round-11 cohort, graduated + frozen in round 12: every
# member at or below its own first floor in BENCH_r11 (worst 1.03x, ev2)
# and stable across two same-day round-11 runs (BASELINE.md rule); judged
# by its section floor from BENCH_r12 on. Membership is FROZEN (note 31).
EXTRAS_R11 = [
    # graph-index append lifecycle end-to-end (save half, append the rest
    # against frozen centroids — affected-cell partition rewrite — then
    # one prebuilt query over the appended artifact).
    "gx2_append_graph",
    # span-level benchmark decontamination with the strip applied
    # (broadcast window join + island merge + JVM aggregate-fold rebuild).
    "dc3_strip_contaminated_spans",
    # incremental exact-Jaccard dedup lifecycle (save the even-id index,
    # prefix-dedup the odd-id batch against it under the frozen
    # rarest-first order).
    "dd19_incremental_dedup",
    # paired exact sign test of IVF vs IVF-PQ vs brute truth.
    "ev2_ranker_sign_test",
]

# EXTRAS_R12 — the round-12 cohort, graduated + frozen in round 13: every
# member within 2x of its own first floor in the round-12 close runs, the
# driver's BENCH_r12, AND the round-13 same-day runs (BASELINE.md rule);
# judged by its section floor from BENCH_r13 on. Membership is FROZEN
# (note 31). mf1 graduates carrying its round-13 block-join form and
# st10/st11 their runner-internal pinning + staged-backlog cleanup — the
# 2x budgets absorb the upgrades (the round-11 dd17/gx1 precedent).
EXTRAS_R12 = [
    # round 12: the no-ceiling paired sign test at a 60-probe query set —
    # nn > 20 on the fixtures, so the log-space exact branch is the timed
    # path (round-11 verdict task 3).
    "ev3_sign_test_wide",
    # round 12: dc3's beyond-broadcast regime — in-scan Bloom prefilter,
    # xxhash64-routed shuffle, contamination-sized broadcast string verify
    # (round-11 verdict task 2).
    "dc3_fallback_strip",
    # round 12: the dd19 lifecycle as an exactly-once stream — bootstrap
    # the frozen order, per-batch exact pairs vs everything prior, id
    # anti-join appends (timed end-to-end incl. checkpoint + triggers).
    "st10_streaming_exact_jaccard",
    # round 12: benchmark-side contamination report (which eval items
    # leak, into how many corpus docs, what fraction).
    "dc4_contamination_report",
    # round 12: deterministic percentile-bootstrap CI on the mean
    # hit-count difference (portable-hash Poisson weights, integer sums).
    "ev4_bootstrap_ci",
    # round 12: Bloom-accelerated semi-join (events probed against the
    # high-balance customer dim through the in-scan membership digest).
    "js2_bloom_semi_join",
    # round 12: pp1's default chain as a per-stage survivor audit.
    "pp3_prep_funnel",
    # round 12 (continuation): apriori-pruned market-basket pair mining
    # (in-task comb2, mean-relative item floor).
    "fp1_copurchase_rules",
    # round 12 (continuation): 5-iteration weighted PageRank — checkpointed
    # edge shares, broadcast rank vector, one combining agg per iteration.
    "pr1_pagerank",
    # round 12 (continuation): synchronous integer LPA community detection
    # (same graph build, per-iteration top-1 window).
    "lp1_label_propagation",
    # round 12 (continuation): distributed ALS — bucketed batched normal
    # equations over the checkpointed ratings, 3 iterations + RMSE passes.
    "mf1_als_convergence",
    # round 12 (continuation): skip-gram pair extraction + phrase-postings
    # search (both sub-second; the token-shape members of the cohort).
    "w2v1_skipgram_pairs",
    "ph1_phrase_search",
    # round 12 (continuation): first-occurrence sequential-pattern support
    # (bounded user x T^2 join) and the sim6-quantizer cluster-quality audit.
    "sq1_adoption_order",
    "cl1_cluster_quality",
    # round 12 (continuation): degree-oriented triangle census (41M oriented
    # wedges at sf0.1 — the heaviest shuffle of the cohort by design).
    "tc1_triangle_stats",
    # round 12 (continuation): deterministic DeepWalk corpus (walk_len
    # adjacency joins, node-shaped frontier).
    "gw1_deepwalk_corpus",
    # round 12 (continuation): TextRank keyword extraction (co-occurrence
    # graph + 5 broadcast-rank power iterations).
    "kx1_textrank_keywords",
    # round 12 (continuation): sq1 as a first-occurrence stream, a
    # min(struct(ts_us, event_id)) streaming aggregate (timed end-to-end
    # incl. checkpoint + multi-trigger replay).
    "st11_streaming_adoption_order",
    # round 12 (continuation): unigram-LM tokenizer hard-EM training
    # (vocabulary-factorized; warm floor ~2.4s, cold dominated by codegen).
    "uni1_unigram_tokenizer",
]

# Live roster (round 13+): same protocol — each member judged against its
# own first recorded floor until the cohort graduates (BASELINE.md rule).
EXTRAS = [
    # round 13: Morton-curve bucket stats — the z-order layout lever's
    # arithmetic (pure shift/mask codegen) over the full lineitem scan.
    "zo1_zorder_curve",
    # round 13: directed association rules over fp1's apriori-pruned pair
    # supports (confidence/lift/conviction, both orientations).
    "ar1_association_rules",
    # round 13: threshold-sweep grading of the model-based filter against
    # the tx2/qf1 heuristic gate (cls2 trains -> cls1 scores -> cls3 grades).
    "cls3_classifier_eval",
    # round 13: per-doc novelty — unique-shingle fraction (gram-keyed
    # combining aggregate + join back; the curation redundancy signal).
    "nv1_novelty_scores",
    # round 13: ntile/percent_rank/cume_dist distribution-rank window trio.
    "w3_rank_bands",
    # round 14: the full z-order write->manifest-prune->read lifecycle
    # (one range shuffle + one stats aggregate + a pruned box scan).
    "zo2_zorder_pruned_read",
    # round 14: the k=3 Morton curve (unrolled bit-loop interleave) over
    # the full lineitem scan.
    "zo3_zorder_curve_3d",
    # round 14: token-blocked fuzzy entity resolution at name-type
    # cardinality + min-label CC + golden-record rollup.
    "er1_entity_resolution",
    # round 14: mergeable equi-width quantile digest (shard digests ->
    # merge-by-sum -> integer-exact crossing query).
    "qd1_quantile_digest",
    # round 14: incremental entity resolution — build the frozen entity
    # map, one-hop resolve the batch, residue clusters fresh.
    "er2_incremental_entities",
    # round 14: the digest lifecycle as a stream — per-batch O(bins)
    # partials exactly-once, merge-by-sum erases trigger boundaries.
    "st12_streaming_quantile_digest",
    # round 14: streaming entity resolution — bootstrap map, per-batch
    # one-hop resolve against prior batches only, new entities fold in.
    "st13_streaming_entity_resolution",
]


def _shards_roundtrip(spark, sf_dir):
    """write_shards -> read_shards_shuffled over the documents table: the
    full shard write + manifest + epoch-ordered read loop, timed as one
    unit (the write executes inside the call; the returned epoch read is
    materialized by the harness like any query)."""
    import tempfile

    from samsa_spark import tables
    from samsa_spark.operators.pipeline_ops import read_shards_shuffled, write_shards

    docs = tables.load(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="samsa-bench-shards-")
    write_shards(docs, path)
    return read_shards_shuffled(spark, path, split="train", seed=1)


def _incremental_prep(spark, sf_dir):
    """The day-2 ingestion recipe, timed as ONE unit: day-1 write_shards;
    day-2 batch deduped against the shard contents (dd10); append (manifest
    patched from _metadata footers only — no rescan of existing files);
    compact; validate clean; epoch-shuffled read returned for the harness
    to materialize. Mirrors tests/test_storage_layout.py's lifecycle test
    at bench scale."""
    import tempfile

    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.dedup import dedup_against
    from samsa_spark.operators.pipeline_ops import (
        append_shards,
        compact_shards,
        read_shards,
        read_shards_shuffled,
        validate_shards,
        write_shards,
    )

    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    day1 = docs.where(F.col("doc_id") % 3 == 0)
    day2 = docs.where(F.col("doc_id") % 3 == 1)
    base = tempfile.mkdtemp(prefix="samsa-bench-incr-")
    write_shards(day1, base)
    flags = dedup_against(day2, read_shards(spark, base))
    fresh = day2.join(flags.where(~F.col("in_reference")).select("doc_id"), "doc_id")
    append_shards(fresh, base)
    compact_shards(spark, base, target_bytes=1 << 30)
    if validate_shards(spark, base).count() != 0:
        raise AssertionError("incremental_prep produced an inconsistent layout")
    return read_shards_shuffled(spark, base, split="train", seed=1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from samsa_spark import registry
    from samsa_spark.session import get_spark

    spark = get_spark("samsa-spark-bench")
    qs = dict(registry.all_queries())  # bench covers pruned twins (h3) too
    qs["shards_roundtrip"] = _shards_roundtrip
    qs["incremental_prep"] = _incremental_prep

    # Build-once/query-many artifacts for the prebuilt-regime EXTRAS
    # members: built ONCE per session, eagerly materialized OUTSIDE the
    # timed region, so the recorded floors guard only the query side —
    # the regime a production index actually runs (PLANS.md ivfpq sweep:
    # query-only is 2x faster and flat in corpus size; the
    # rebuild-per-call twins stay floor-guarded in EXTRAS_R8).
    from samsa_spark import tables
    from samsa_spark.operators.similarity import (
        _nearest_cell,
        ivf_pq_topk,
        kmeans_centroids,
        pq_codebooks,
        pq_encode,
        rrf_fusion_ann,
    )

    emb0 = tables.load(spark, sf_dir, "embeddings")
    idx_cents = kmeans_centroids(emb0, k=32, iters=1, round_cents=6).localCheckpoint(
        eager=True
    )
    idx_asg = (
        _nearest_cell(emb0.select("vec_id", "embedding"), idx_cents, "cell")
        .select("vec_id", "cell")
        .localCheckpoint(eager=True)
    )
    idx_cb = pq_codebooks(emb0).localCheckpoint(eager=True)
    idx_codes = pq_encode(emb0, idx_cb).localCheckpoint(eager=True)

    def _qz4_prebuilt_query(spark, sf_dir):
        return ivf_pq_topk(
            tables.load(spark, sf_dir, "embeddings"),
            centroids=idx_cents,
            assignments=idx_asg,
            codebooks=idx_cb,
            codes=idx_codes,
        )

    def _rrf2_prebuilt_fusion(spark, sf_dir):
        return rrf_fusion_ann(
            tables.load(spark, sf_dir, "documents"),
            tables.load(spark, sf_dir, "embeddings"),
            centroids=idx_cents,
            assignments=idx_asg,
            codebooks=idx_cb,
            codes=idx_codes,
        )

    def _qz5_prebuilt_refine(spark, sf_dir):
        from samsa_spark.operators.similarity import refined_topk

        return refined_topk(
            tables.load(spark, sf_dir, "embeddings"),
            centroids=idx_cents,
            assignments=idx_asg,
            codebooks=idx_cb,
            codes=idx_codes,
        )

    qs["qz4_prebuilt_query"] = _qz4_prebuilt_query
    qs["rrf2_prebuilt_fusion"] = _rrf2_prebuilt_fusion
    qs["qz5_prebuilt_refine"] = _qz5_prebuilt_refine

    # Graph-ANN prebuilt regime: the per-cell kNN graph is built once per
    # session from the SAME centroid table the IVF artifacts use; the timed
    # member is the beam-search query side only.
    from samsa_spark.operators.similarity import graph_topk, nsw_cell_graph

    idx_graph = nsw_cell_graph(emb0, centroids=idx_cents).localCheckpoint(eager=True)

    def _gx1_prebuilt_query(spark, sf_dir):
        return graph_topk(
            tables.load(spark, sf_dir, "embeddings"),
            centroids=idx_cents,
            graph=idx_graph,
        )

    qs["gx1_prebuilt_query"] = _gx1_prebuilt_query

    # Graph-index append lifecycle (round-11 live EXTRAS): save an index
    # over half the corpus, append the other half against the FROZEN
    # centroids (rewrites only the affected cell partitions), query the
    # appended artifact once. A fresh temp dir per call — append mutates
    # its index, so re-timing the same path would grow it.
    def _gx2_append_graph(spark, sf_dir):
        import tempfile

        from samsa_spark.operators.similarity import (
            append_graph,
            graph_topk,
            load_graph_index,
            save_graph_index,
        )

        emb = tables.load(spark, sf_dir, "embeddings")
        p = tempfile.mkdtemp(prefix="bench-gx2-")
        # iters=1 like the session's other prebuilt artifacts: the member
        # times the append lifecycle, not Lloyd convergence
        save_graph_index(emb.where("vec_id % 2 = 0"), p, cells=32, iters=1)
        append_graph(spark, p, emb.where("vec_id % 2 = 1"))
        idx = load_graph_index(spark, p)
        return graph_topk(emb, centroids=idx["centroids"], graph=idx["graph"])

    qs["gx2_append_graph"] = _gx2_append_graph

    # Text-side prebuilt regime: the BM25 index is saved to disk ONCE
    # before the timed region (tok-sorted postings), so bm2's floor guards
    # the query side — probe-term scan pushdown + scoring joins only.
    import tempfile

    from samsa_spark.operators.text import bm25_query, load_text_index, save_text_index

    _ti_dir = tempfile.mkdtemp(prefix="bench_text_index_")
    save_text_index(
        tables.load(spark, sf_dir, "documents").where("doc_id >= 20"), _ti_dir
    )
    _ti = load_text_index(spark, _ti_dir)

    def _bm2_prebuilt_query(spark, sf_dir):
        probes = tables.load(spark, sf_dir, "documents").where("doc_id < 20")
        return bm25_query(_ti, probes, pushdown=True)

    qs["bm2_prebuilt_query"] = _bm2_prebuilt_query

    # dc3's beyond-broadcast fallback (round-12 live EXTRAS): same output
    # as the broadcast form by construction; the timed plan is the Bloom
    # digest build + hash-routed join + broadcast string verify.
    def _dc3_fallback_strip(spark, sf_dir):
        from samsa_spark.operators.dedup import strip_contaminated_spans

        return strip_contaminated_spans(
            tables.load(spark, sf_dir, "documents"), broadcast_benchmark=False
        )

    qs["dc3_fallback_strip"] = _dc3_fallback_strip
    # Warm both execution paths before timing: JVM/codegen (flagship) and
    # the Python worker pool (an Arrow pandas-UDF query) — steady-state
    # throughput is what the headline measures, not process spin-up.
    qs["d2_state_table"](spark, sf_dir).write.mode("overwrite").format("noop").save()
    qs["sim3_ann_topk_lsh"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    # Pass 1 is the headline (protocol identical to rounds 1/2: one timed
    # materialization per query, same order — comparable across rounds).
    # Pass 2 re-times every query in the same session; the per-query min is
    # reported as informational noise-floor fields, because host scheduler
    # variance on this box moves byte-identical queries ±25% between runs.
    def run_section(names: list[str]) -> tuple[dict[str, float], dict[str, float]]:
        timings: dict[str, float] = {}
        floor: dict[str, float] = {}
        for name in names:
            t0 = time.time()
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            timings[name] = round(time.time() - t0, 3)
        for name in names:
            if timings[name] <= 1.0:  # floor pass only where noise matters
                floor[name] = timings[name]
                continue
            t0 = time.time()
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            floor[name] = round(min(timings[name], time.time() - t0), 3)
        return timings, floor

    timings, floor = run_section(HEADLINE)
    canon, canon_floor = run_section(CANONICAL)
    pipe, pipe_floor = run_section(PIPELINE)
    extras_r8, extras_r8_floor = run_section(EXTRAS_R8)
    extras_r9, extras_r9_floor = run_section(EXTRAS_R9)
    extras_r10, extras_r10_floor = run_section(EXTRAS_R10)
    extras_r11, extras_r11_floor = run_section(EXTRAS_R11)
    extras_r12, extras_r12_floor = run_section(EXTRAS_R12)
    extras, extras_floor = run_section(EXTRAS)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = sf_dir
    # The driver retains only the tail (~2 KB) of stdout and parses the last
    # JSON line it finds there (BENCH_r04/r05 went "parsed": null because the
    # full per-query dump grew past that window and its head was cut). So the
    # FINAL stdout line is a compact self-contained summary — original
    # contract fields (metric/value/unit/queries/sf) plus section totals —
    # and the complete per-query floor/canonical breakdown goes to
    # BENCH_DETAIL.json beside this script.
    summary = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        "value_floor": round(sum(floor.values()), 3),
        "canonical_value_floor": round(sum(canon_floor.values()), 3),
        "canonical_value": round(sum(canon.values()), 3),
        "pipeline_value_floor": round(sum(pipe_floor.values()), 3),
        "pipeline_value": round(sum(pipe.values()), 3),
        "extras_r8_value_floor": round(sum(extras_r8_floor.values()), 3),
        "extras_r8_value": round(sum(extras_r8.values()), 3),
        "extras_r9_value_floor": round(sum(extras_r9_floor.values()), 3),
        "extras_r9_value": round(sum(extras_r9.values()), 3),
        "extras_r10_value_floor": round(sum(extras_r10_floor.values()), 3),
        "extras_r10_value": round(sum(extras_r10.values()), 3),
        "extras_r11_value_floor": round(sum(extras_r11_floor.values()), 3),
        "extras_r11_value": round(sum(extras_r11.values()), 3),
        "extras_r12_value_floor": round(sum(extras_r12_floor.values()), 3),
        "extras_r12_value": round(sum(extras_r12.values()), 3),
        "extras_value_floor": round(sum(extras_floor.values()), 3),
        "extras_value": round(sum(extras.values()), 3),
        "detail": "BENCH_DETAIL.json",
    }
    detail = dict(
        summary,
        queries_floor=floor,
        canonical_queries_floor=canon_floor,
        canonical_queries=canon,
        pipeline_queries_floor=pipe_floor,
        pipeline_queries=pipe,
        extras_r8_queries_floor=extras_r8_floor,
        extras_r8_queries=extras_r8,
        extras_r9_queries_floor=extras_r9_floor,
        extras_r9_queries=extras_r9,
        extras_r10_queries_floor=extras_r10_floor,
        extras_r10_queries=extras_r10,
        extras_r11_queries_floor=extras_r11_floor,
        extras_r11_queries=extras_r11,
        extras_r12_queries_floor=extras_r12_floor,
        extras_r12_queries=extras_r12,
        extras_queries_floor=extras_floor,
        extras_queries=extras,
        protocol=(
            "value/queries = single pass (rounds-1/2 protocol, legacy"
            " section); *_floor = per-query min of 2 same-session passes for"
            " queries over 1s; regression judgments for BOTH sections read"
            " the floors (value_floor / canonical_value_floor — BASELINE.md,"
            " PLANS.md 'Measurement noise')"
        ),
    )
    (Path(__file__).resolve().parent / "BENCH_DETAIL.json").write_text(
        json.dumps(detail, indent=1) + "\n"
    )
    spark.stop()
    line = json.dumps(summary)
    if len(line) > 1800:  # never outgrow the driver's ~2 KB tail again
        summary["queries"] = {"see": "BENCH_DETAIL.json"}
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main()
