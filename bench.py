"""Benchmark harness: headline engine + pipeline queries at a given scale.

Prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default: the CPUs this process may run on),
     TSE_BENCH_SYNTH_DOCS (override synthetic corpus size).

The suite covers the two halves of the north rule: index-build throughput
(synthetic source-code corpus at a size scaled to sf) and top-k BM25 query
latency over the built segment store (WAND fast path + exact path), plus
the training-data pipeline headliners (minhash-LSH dedup, knn).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tiny_search_engine_spark.build import BuildConfig, build_index
from tiny_search_engine_spark.config import QueryConfig
from tiny_search_engine_spark.pipeline import codesearch, dedup, simsearch
from tiny_search_engine_spark.query import QueryEngine
from tiny_search_engine_spark.session import default_cpus, get_spark
from tiny_search_engine_spark.synth import make_queries, make_stopwords, source_files


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    n_synth = int(os.environ.get("TSE_BENCH_SYNTH_DOCS", str(max(2000, int(200_000 * sf)))))

    spark = get_spark(app_name="tse_bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    def cpu_canary(iters: int = 20_000_000) -> float:
        """Single-thread spin, seconds per *iters* iterations. This sandbox
        VM has multi-minute throttle windows where everything (JVM +
        python) runs 10-100x slower; the canary records the machine state
        alongside the timings so a throttled run is identifiable, and
        EVERY row below is best-of-2 so one clean window wins."""
        t0 = time.time()
        x = 0
        for i in range(iters):
            x += i * i
        return round(time.time() - t0, 3)

    row_canaries: list[float] = []

    def timed_best2(name: str, fn):
        """Run twice, keep the best wall time; both raw runs + a light
        per-row CPU canary (5M spin, ~0.25s clean) ride in extra — the
        throttle-window discipline from scripts/scaling_bench.py, applied
        to the WHOLE suite since round 5 (VERDICT r4: a single dirty
        window must never masquerade as a regression). A row whose best
        run sits next to a slow canary is self-identifying as throttled."""
        t0 = time.time()
        out = fn(0)
        t1 = round(time.time() - t0, 3)
        t0 = time.time()
        out = fn(1)
        t2 = round(time.time() - t0, 3)
        timings[name] = min(t1, t2)
        extra[f"{name}_runs"] = [t1, t2]
        c = cpu_canary(5_000_000)
        extra[f"{name}_canary5m_s"] = c
        row_canaries.append(c)
        return out

    def timed(name: str, fn):
        # every plain row is best-of-2 too
        return timed_best2(name, lambda run: fn())

    extra["cpu_canary_before_s"] = cpu_canary()

    from tiny_search_engine_spark.session import scratch_dir
    work = scratch_dir("tse_bench_")
    try:
        # ---- index build over the synthetic source-code corpus ----
        src = source_files(spark, n_synth, seed=42).cache()
        n_src = src.count()  # materialize the generator outside the timing
        # warm-up: JIT/codegen/python-worker spin-up is ~50s at any size
        # and would otherwise dominate the timed small-corpus build
        wsrc = source_files(spark, max(1000, n_synth // 10), seed=43).cache()
        wsrc.count()
        build_index(
            spark,
            wsrc,
            os.path.join(work, "warm"),
            BuildConfig(
                tokenizer="code",
                stopwords=frozenset(make_stopwords()),
                write_tokens=False,
                copy_content=False,
                per_bucket_metrics=False,
            ),
        )
        wsrc.unpersist()
        shutil.rmtree(os.path.join(work, "warm"), ignore_errors=True)
        store = timed_best2(
            "index_build",
            lambda run: build_index(
                spark,
                src,
                os.path.join(work, f"store{run}"),
                BuildConfig(
                    tokenizer="code",
                    stopwords=frozenset(make_stopwords()),
                    write_tokens=False,
                    copy_content=False,
                    per_bucket_metrics=False,
                ),
            ),
        )
        extra["build_docs_per_sec"] = round(n_src / timings["index_build"], 1)
        extra["n_docs"] = n_src

        # ---- query paths over the built store ----
        # 1000-query batch: the WAND path shuffles posting bytes once per
        # doc group, never per query, so batch size is the amortizer —
        # qps at a production batch size is the honest throughput number
        queries = [(i, q) for i, q in enumerate(make_queries(1000, seed=7))]
        eng = QueryEngine(spark, store, QueryConfig(profile="standard", compat="fixed"))
        timed_best2("wand_topk_1000q", lambda run: eng.wand_topk(queries, k=20).count())
        timed("bm25_exact_100q", lambda: eng.bm25_topk(queries[:100], k=20).count())
        extra["wand_qps"] = round(len(queries) / timings["wand_topk_1000q"], 2)

        # champion-tier store serving: m derived from the 500-query load
        # (choose_prune_m, target 0.9 tier-1), impact-ordered prune, then
        # certificate-routed WAND — tail queries scan the compacted
        # postings, head queries fall back, output exact full BM25
        from tiny_search_engine_spark.build import prune_store
        from tiny_search_engine_spark.query import choose_prune_m, tiered_wand_topk

        m_auto = choose_prune_m(spark, store, queries[:500], target_tier1=0.9)
        extra["tiered_wand_m_auto"] = m_auto
        pstore2 = timed_best2(
            "prune_store_auto",
            lambda run: prune_store(
                spark, store, os.path.join(work, f"pruned{run}"), m=m_auto
            ),
        )
        qcfg = QueryConfig(profile="standard", compat="fixed")
        timed_best2(
            "tiered_wand_500q",
            lambda run: tiered_wand_topk(
                spark, store, pstore2, queries[:500], k=20, cfg=qcfg
            ).count(),
        )

        # ---- full feature pipeline needs the positional token table +
        # content (parity store; smaller corpus) ----
        psrc = source_files(spark, max(2000, n_synth // 5), seed=42).cache()
        psrc.count()
        pstore = build_index(
            spark,
            psrc,
            os.path.join(work, "parity_store"),
            BuildConfig(tokenizer="code", stopwords=frozenset(make_stopwords())),
        )
        peng = QueryEngine(spark, pstore, QueryConfig(profile="standard", compat="fixed"))
        # engine warmup: the first search materializes the store caches
        # (tokens/doc arrays) — one-time cost, not per-query cost
        peng.search(queries[990:992], k=20).count()
        timed_best2("search_pipeline_20q", lambda run: peng.search(queries[:20], k=20).count())

        # D12 rerank throughput: the SHIPPED 500-tree model over a
        # 500-query x 200-candidate batch (the funnel width the engine
        # feeds rerank), featurizer vectorized via Arrow-batch DataFrame
        # extraction — no per-row python
        def _ltr_bench():
            from tiny_search_engine_spark import ltr

            ids = ltr.load_feature_conf()
            names = list(ids.keys())
            try:
                model = ltr.load_xgb_model("/root/reference/dict/xgb.ltr.model")
            except Exception:
                import numpy as np

                # LinearModel.predict does X @ weights — build the dense
                # vector in feature-id order, not a name dict
                w = np.zeros(max(ids.values()) + 1)
                for i, nm in enumerate(names):
                    w[ids[nm]] = 1.0 / (i + 1)
                model = ltr.LinearModel(weights=w)
            cand = (
                spark.range(500 * 200)
                .withColumn("query_id", F.col("id") % 500)
                .withColumn("doc_id", (F.col("id") / 500).cast("long"))
                .withColumn(
                    "features",
                    F.create_map(
                        *[
                            x
                            for i, nm in enumerate(names)
                            for x in (
                                F.lit(nm),
                                (
                                    F.pmod(
                                        F.xxhash64(F.col("id") * (i + 1)),
                                        F.lit(1000),
                                    )
                                    / 1000.0
                                ).cast("double"),
                            )
                        ]
                    ),
                )
                .select("query_id", "doc_id", "features")
            )
            return ltr.rerank(cand, model, ids, k=20).count()

        timed("ltr_rerank_500q", _ltr_bench)

        # ---- pipeline ops over the driver documents/embeddings tables ----
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        timed_best2("dedup_minhash_lsh", lambda run: dedup.lsh_candidate_pairs(docs).count())
        timed("dedup_simhash", lambda: dedup.simhash(docs).count())
        # hot-shingle-capped Jaccard: the bounded-join 100 TB shape
        timed(
            "dedup_jaccard_capped",
            lambda: dedup.ngram_jaccard_pairs(
                docs, shingle=1, threshold=0.3, max_shingle_df=50
            ).count(),
        )
        knn_q = emb.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_vec_id"), "embedding"
        )
        timed("knn_cosine", lambda: simsearch.knn_cosine(emb, knn_q, k=10).count())
        timed(
            "knn_ivf",
            lambda: simsearch.knn_ivf(
                emb, knn_q, k=10, n_centroids=16, n_probe=4
            ).count(),
        )
        timed(
            "knn_ivf_kmeans",
            lambda: simsearch.knn_ivf(
                emb, knn_q, k=10, n_centroids=16, n_probe=4, codebook="kmeans"
            ).count(),
        )
        # trigram code search: postings build, then a 100-needle literal
        # batch through the rarest-gram AND-prune + exact verify
        timed(
            "trigram_postings_build",
            lambda: codesearch.trigram_postings(docs).count(),
        )
        post = codesearch.trigram_postings(docs).cache()
        post.count()
        _voc = ["table", "merge", "batch", "window", "spark",
                "value", "part", "hash", "scan", "fast"]
        needles = [
            (i, f"{_voc[i % 10]} {_voc[(i // 10) % 10]}"[: 5 + i % 8])
            for i in range(100)
        ]
        timed_best2(
            "trigram_search_100q",
            lambda run: codesearch.search_literal(docs, needles, postings=post).count(),
        )
        post.unpersist()
        timed_best2(
            "bm25_topk_docs_oracle",
            lambda run: entrymod._q_bm25_topk(spark, sf_dir).count(),
        )
        timed("event_sessionize", lambda: entrymod._q_event_sessions(spark, sf_dir).count())
        timed("event_windowed", lambda: entrymod._q_event_windowed(spark, sf_dir).count())
        timed("event_asof", lambda: entrymod._q_event_asof(spark, sf_dir).count())
        timed("event_range_join", lambda: entrymod._q_event_range_join(spark, sf_dir).count())
        timed("event_funnel", lambda: entrymod._q_event_funnel(spark, sf_dir).count())
        # curation additions: shuffle-free repetition census, broadcast-join
        # decontamination, two-phase-prefix-sum packing, mixture sampling
        timed("repetition_stats", lambda: entrymod._q_repetition_stats(spark, sf_dir).count())
        timed("decontaminate", lambda: entrymod._q_decontaminate(spark, sf_dir).count())
        timed("pack_sequences", lambda: entrymod._q_pack_sequences(spark, sf_dir).count())
        timed("doc_mixture", lambda: entrymod._q_doc_mixture(spark, sf_dir).count())
        timed("training_chunks", lambda: entrymod._q_training_chunks(spark, sf_dir).count())
        # round-2 additions: LM quality filter, ExactSubstr spans + rewrite,
        # PQ/ADC ANN (encode is the corpus-scale pass, serving is lookups)
        timed("lm_perplexity", lambda: entrymod._q_lm_perplexity(spark, sf_dir).count())
        timed("dup_spans_removed", lambda: entrymod._q_dup_spans_removed(spark, sf_dir).count())
        timed("knn_pq", lambda: entrymod._q_knn_pq(spark, sf_dir).count())
        # IVF-routed PQ (IVFADC): same codebooks/ADC/rerank as knn_pq but
        # each query equi-joins its n_probe lists instead of scanning the
        # whole code table. The 5-query oracle shape is overhead-bound, so
        # the A/B that shows the routed scan is a 500-query serving batch:
        # flat ADC touches n_queries × corpus rows, routed touches
        # n_probe/n_centroids of that (1/4 here) — the gap widens linearly
        # with corpus size.
        # NB: benches the op at its default routing='arrow' (the faster
        # batch path), like the knn_ivf rows above; the registry twin
        # _q_knn_ivfpq uses routing='cols' so its PLAN carries no python
        # eval — same output (parity-pinned), different engine, and the
        # cols variant costs ~+25% here (codegen per-centroid HOFs vs one
        # Arrow matmul — the measured reason arrow stays the default)
        pq_dim = len(emb.select("embedding").first()[0])
        ivf_q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_vec_id"), "embedding"
        )
        timed(
            "knn_ivfpq",
            lambda: simsearch.knn_ivfpq(
                emb, ivf_q, dim=pq_dim, k=entrymod.PQ_K, m=entrymod.PQ_M,
                n_codes=entrymod.PQ_CODES, n_centroids=entrymod.IVF_CENTROIDS,
                n_probe=entrymod.IVF_PROBE, refine=entrymod.PQ_REFINE,
            ).count(),
        )
        pq_batch = emb.filter(F.col("vec_id") < 500).select(
            F.col("vec_id").alias("query_vec_id"), "embedding"
        )
        timed(
            "knn_pq_500q_flat",
            lambda: simsearch.knn_pq(
                emb, pq_batch, dim=pq_dim, k=10, m=8, n_codes=8, refine=3
            ).count(),
        )
        timed(
            "knn_ivfpq_500q",
            lambda: simsearch.knn_ivfpq(
                emb, pq_batch, dim=pq_dim, k=10, m=8, n_codes=8,
                n_centroids=16, n_probe=4, refine=3,
            ).count(),
        )
        # the paper's actual IVFADC (per-list residual codebooks,
        # kmeans-trained): same routed scan shape + one broadcast join
        # for the codebooks — the recall winner at equal code budget
        # (test_pipeline.py pins 0.94 vs 0.67); this row shows the
        # serving cost is in the same family as the unit-code path
        timed(
            "knn_ivfpq_500q_residual",
            lambda: simsearch.knn_ivfpq(
                emb, pq_batch, dim=pq_dim, k=10, m=8, n_codes=8,
                n_centroids=16, n_probe=4, refine=3,
                codebook="kmeans", encode="residual",
            ).count(),
        )
        # cluster-bounded embedding dedup + dictionary-sized fuzzy correction
        timed("semantic_dedup", lambda: entrymod._q_semantic_dedup(spark, sf_dir).count())
        timed("spell_correct", lambda: entrymod._q_spell_correct(spark, sf_dir).count())
        timed("hybrid_search", lambda: entrymod._q_hybrid_search(spark, sf_dir).count())
        timed("vocab_coverage", lambda: entrymod._q_vocab_coverage(spark, sf_dir).count())
        timed("doc_keyterms", lambda: entrymod._q_doc_keyterms(spark, sf_dir).count())
        # ingestion-front ops: unicode normalize (one Arrow-batched UDF,
        # map-only), Gopher quality gate + RAG chunker (pure codegen,
        # shuffle-free), faceted counts over the BM25 result set
        timed("text_normalize", lambda: entrymod._q_text_normalize(spark, sf_dir).count())
        timed("gopher_flags", lambda: entrymod._q_gopher_flags(spark, sf_dir).count())
        timed("doc_chunks", lambda: entrymod._q_doc_chunks(spark, sf_dir).count())
        timed("facet_counts", lambda: entrymod._q_facet_counts(spark, sf_dir).count())
        # result-set-sized post-rankers: greedy MMR (k bounded relational
        # steps) and field collapsing (two windows over top-k rows)
        timed("mmr_rerank", lambda: entrymod._q_mmr_rerank(spark, sf_dir).count())
        timed("collapse_results", lambda: entrymod._q_collapse_results(spark, sf_dir).count())
        # event analytics: one user-keyed window + dictionary-sized aggs
        # (transitions), dictionary-sized trailing-frame stats (bursts),
        # two user-keyed aggs + broadcast census (cohorts)
        timed("event_transitions", lambda: entrymod._q_event_transitions(spark, sf_dir).count())
        timed("event_bursts", lambda: entrymod._q_event_bursts(spark, sf_dir).count())
        timed("cohort_retention", lambda: entrymod._q_cohort_retention(spark, sf_dir).count())
        timed("group_keyterms", lambda: entrymod._q_group_keyterms(spark, sf_dir).count())
        # privacy pass: map-only regexp census + redaction rewrite
        timed("pii_redact", lambda: entrymod._q_pii_redact(spark, sf_dir).count())
        # RAG serving path: chunk -> hash-embed -> cosine top-k -> collapse
        timed("chunked_search", lambda: entrymod._q_chunked_search(spark, sf_dir).count())
        # one-pass stacked data-quality census over the events table
        timed("profile_table", lambda: entrymod._q_profile_table(spark, sf_dir).count())
        # round-3 data selection: DSIR weights+resample (bounded bucket
        # tables, TakeOrderedAndProject top-k), CMS-narrowed exact heavy
        # hitters (map-side tail kill), LSH-mined contrastive pairs
        timed("dsir_select", lambda: entrymod._q_dsir_select(spark, sf_dir).count())
        timed("heavy_hitters", lambda: entrymod._q_heavy_hitters(spark, sf_dir).count())
        timed("contrastive_pairs", lambda: entrymod._q_contrastive_pairs(spark, sf_dir).count())
        timed("bloom_semijoin", lambda: entrymod._q_bloom_semijoin(spark, sf_dir).count())
        timed("zorder_key", lambda: entrymod._q_zorder_key(spark, sf_dir).count())
        # per-eval-example fuzzy decontamination: broadcast inverted gram
        # index, pairs materialize only on shared grams (never all-pairs)
        timed(
            "decontaminate_fuzzy",
            lambda: entrymod._q_decontaminate_fuzzy(spark, sf_dir).count(),
        )
        # min-cover proximity: one (query, doc)-keyed hit self-join whose
        # partitioning all downstream groupBys reuse
        timed(
            "proximity_search",
            lambda: entrymod._q_proximity_search(spark, sf_dir).count(),
        )
        # NB train+classify in one plan: dictionary-sized model tables,
        # many-to-one likelihood join, rounded-score argmax window
        timed("nb_classify", lambda: entrymod._q_nb_classify(spark, sf_dir).count())
        # static impact pruning: WindowGroupLimit map-side partial top-m
        timed("index_prune", lambda: entrymod._q_index_prune(spark, sf_dir).count())
        # bucketed layout: write-time shuffle, then exchange-free join
        timed(
            "bucketed_join",
            lambda: entrymod._q_bucketed_join(spark, sf_dir).count(),
        )
        # PRF two-pass retrieval: broadcast query sides, result-set-sized
        # feedback mining over the shared impact census
        timed("prf_search", lambda: entrymod._q_prf_search(spark, sf_dir).count())
        # two-tier champion-list serving with per-query exactness certificate
        timed("tiered_topk", lambda: entrymod._q_tiered_topk(spark, sf_dir).count())
        # two-tier serving under a ZIPFIAN head (the operator's reason to
        # exist — the sf documents table has near-uniform dfs, so this row
        # synthesizes a Zipf(s=1.2) corpus IN-PLAN, no driver data: token
        # rank k = ceil(u^(-1/(s-1))) from a hashed-position uniform,
        # capped at the vocab size). Query load is tail-skewed with a
        # 10% head-poisoned slice; tier-1 fraction rides in extra.
        def _zipf_bench():
            from tiny_search_engine_spark.pipeline import retrieval

            n_z = max(2000, n_synth // 2)
            L, V, sexp = 40, 5000, 1.2
            zdocs = (
                spark.range(n_z)
                .select(F.col("id").alias("doc_id"))
                .select(
                    "doc_id",
                    # rank k = floor(u^(-1/(s-1))), u ∈ (0,1): pow > 1 so
                    # floor >= 1 and rank-1 (w1, the Zipf head) IS
                    # generated — a +1 here would shift every rank up and
                    # leave w1 with df=0, de-poisoning the head queries
                    F.expr(
                        "array_join(transform(sequence(1, {L}), p -> "
                        "concat('w', cast(cast(least(cast({V} as double), pow("
                        "1.0 / ((pmod(xxhash64(doc_id * {L} + p), 1000000) + 0.5) / 1000000.0), "
                        "{inv})) as long) as string))), ' ')".format(
                            L=L, V=V, inv=1.0 / (sexp - 1.0)
                        )
                    ).alias("text"),
                )
                .localCheckpoint()
            )
            queries = [(i, f"w{200 + 3 * i} w{201 + 3 * i}") for i in range(180)]
            queries += [(180 + i, f"w{1 + i} w{400 + 3 * i}") for i in range(20)]
            # m derived from the query log (choose_tier_m, VERDICT r4
            # ask #5): smallest depth serving >= 85% of this load tier-1
            m = retrieval.choose_tier_m(zdocs, queries, target_tier1=0.85)
            extra["tiered_zipf_m_auto"] = m
            out = retrieval.tiered_topk(zdocs, queries, m=m, k=20)
            agg = out.groupBy("tier1").count().collect()
            n_t1 = sum(r["count"] for r in agg if r["tier1"])
            n_all = sum(r["count"] for r in agg)
            extra["tiered_zipf_tier1_frac"] = round(n_t1 / max(n_all, 1), 3)
            return n_all

        timed("tiered_topk_zipf", _zipf_bench)
        # in-order window chains over one materialized hit slice
        timed(
            "ordered_window",
            lambda: entrymod._q_ordered_window(spark, sf_dir).count(),
        )
        # asymmetric containment pairs on the shared shingle machinery
        timed(
            "containment_pairs",
            lambda: entrymod._q_containment(spark, sf_dir).count(),
        )
        # personalized pagerank: seed-proximity walk on the near-dup graph
        timed(
            "doc_pagerank_pers",
            lambda: entrymod._q_doc_pagerank_pers(spark, sf_dir).count(),
        )
    finally:
        extra["cpu_canary_after_s"] = cpu_canary()
        if row_canaries:
            sc = sorted(row_canaries)
            extra["row_canary_median_s"] = sc[len(sc) // 2]
            extra["row_canary_max_s"] = sc[-1]
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "index_build+query suite wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "extra": extra,
            }
        )
    )


if __name__ == "__main__":
    main()
