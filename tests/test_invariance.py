"""Scaling/partitioning invariance + checkpoint-resume (SURVEY.md §5.4-5.5):
the same input at different partitionings produces byte-identical sorted
postings and identical stats; a build interrupted after a subset of stages
resumes to the same output as a single-shot build."""

import os
import shutil

from pyspark.sql import functions as F

from tiny_search_engine_spark.build import BuildConfig, build_index
from tiny_search_engine_spark.compress import decode_posting
from tiny_search_engine_spark.synth import make_stopwords, source_files

N = 120


def _postings_map(spark, store):
    out = {}
    for r in store.postings(spark).collect():
        d, t, dl = decode_posting(bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), bytes(r["dl_bytes"]))
        out.setdefault(r["term_sign"], []).extend(zip(d.tolist(), t.tolist(), dl.tolist()))
    return {k: sorted(v) for k, v in out.items()}


def _doc_stats(spark, store):
    return {
        r["doc_id"]: (r["doc_len"], r["n_terms"], round(r["vec_module"], 9), round(r["wei_sum"], 9))
        for r in store.docs(spark).collect()
    }


def test_partitioning_invariance(spark, tmp_path):
    cfg = BuildConfig(stopwords=frozenset(make_stopwords()), postings_per_shard=32, block_size=8)
    src = source_files(spark, N, seed=11)
    s1 = build_index(spark, src.repartition(2), str(tmp_path / "a"), cfg)
    s2 = build_index(spark, src.repartition(7), str(tmp_path / "b"), cfg)
    assert _postings_map(spark, s1) == _postings_map(spark, s2)
    assert _doc_stats(spark, s1) == _doc_stats(spark, s2)
    assert s1.meta()["avg_doc_len"] == s2.meta()["avg_doc_len"]


def test_resume_equals_single_shot(spark, tmp_path):
    cfg = BuildConfig(stopwords=frozenset(make_stopwords()), postings_per_shard=32, block_size=8)
    src = source_files(spark, N, seed=12)
    full = build_index(spark, src, str(tmp_path / "full"), cfg)

    # simulate a crash: build, then destroy the postings + docs stages
    crashed = build_index(spark, src, str(tmp_path / "crash"), cfg)
    shutil.rmtree(crashed.postings_path)
    os.remove(os.path.join(crashed.doc_stats_path, "_SUCCESS"))
    resumed = build_index(spark, src, str(tmp_path / "crash"), cfg, resume=True)

    assert _postings_map(spark, resumed) == _postings_map(spark, full)
    assert _doc_stats(spark, resumed) == _doc_stats(spark, full)


def test_resume_skips_completed_stages(spark, tmp_path):
    import time

    cfg = BuildConfig(stopwords=frozenset(make_stopwords()))
    src = source_files(spark, N, seed=13)
    build_index(spark, src, str(tmp_path / "s"), cfg)
    t0 = time.time()
    build_index(spark, src, str(tmp_path / "s"), cfg, resume=True)
    assert time.time() - t0 < 10  # all stages skipped


def test_pipeline_ops_partitioning_invariance(spark):
    """The new pipeline ops must be partitioning-invariant too: identical
    results when the input arrives in 2 vs 13 partitions."""
    import random
    from datetime import datetime, timedelta

    from tiny_search_engine_spark.pipeline import dedup, events as ev

    # connected components over a random pair graph
    rng = random.Random(5)
    edges = sorted({tuple(sorted(rng.sample(range(80), 2))) for _ in range(70)})
    p2 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(2)
    p13 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(13)
    cc2 = {(r["doc_id"], r["cluster_id"]) for r in dedup.resolve_clusters(p2).collect()}
    cc13 = {(r["doc_id"], r["cluster_id"]) for r in dedup.resolve_clusters(p13).collect()}
    assert cc2 == cc13

    # sessionization over a random event log
    base = datetime(2024, 3, 1)
    rows = [
        (i, base + timedelta(seconds=rng.randrange(0, 86400)), rng.randrange(6),
         "view", round(rng.random(), 3), "{}")
        for i in range(300)
    ]
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    e2 = spark.createDataFrame(rows, schema).repartition(2)
    e13 = spark.createDataFrame(rows, schema).repartition(13)
    k = lambda df: sorted(
        (r["user_id"], r["session_id"], r["n_events"], r["total_value"])
        for r in ev.sessionize(df).collect()
    )
    assert k(e2) == k(e13)

    # two-phase per-language cap in curate: phase 1 prunes within the
    # incoming partitions, so this is the op most at risk of partitioning
    # sensitivity — the exact global top-cap must survive any layout
    from tiny_search_engine_spark.pipeline import textstats

    words = ["alpha", "beta", "gamma", "delta", "code", "index", "merge"]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(3, 30))))
        for i in range(200)
    ]
    d2 = spark.createDataFrame(docs, "doc_id long, text string").repartition(2)
    d13 = spark.createDataFrame(docs, "doc_id long, text string").repartition(13)
    c = lambda df: sorted(
        map(tuple, textstats.curate(df, min_quality=0.0, per_lang_cap=7).collect())
    )
    assert c(d2) == c(d13)

    # round-2 retrieval/codesearch ops over the same word-salad docs
    from tiny_search_engine_spark.pipeline import codesearch as cs, retrieval

    qs = [(1, "alpha bet"), (2, "xqz"), (3, "de")]
    g = lambda df: sorted(map(tuple, cs.search_literal(df, qs).collect()))
    assert g(d2) == g(d13)
    bq = [(1, "+alpha beta -gamma"), (2, "code index")]
    b = lambda df: sorted(map(tuple, retrieval.boolean_search(df, bq, k=50).collect()))
    assert b(d2) == b(d13)
    s = lambda df: sorted(map(tuple, retrieval.suggest(df, [(1, "al"), (2, "x")], k=3).collect()))
    assert s(d2) == s(d13)
    rt = lambda df: sorted(map(tuple, retrieval.related_terms(df, ["alpha"], k=5).collect()))
    assert rt(d2) == rt(d13)


def test_sessionize_matches_pure_python():
    """Property-style: Spark sessionization == a straightforward pure-Python
    sessionizer over randomized event logs (several seeds)."""
    import random
    from datetime import datetime, timedelta

    from tiny_search_engine_spark.pipeline import events as ev
    from tiny_search_engine_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    base = datetime(2024, 3, 1)
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        rows = [
            (i, base + timedelta(seconds=rng.randrange(0, 7200 * 24)), rng.randrange(4),
             "view", 1.0, "{}")
            for i in range(200)
        ]
        got = {
            (r["user_id"], r["session_id"]): r["n_events"]
            for r in ev.sessionize(
                spark.createDataFrame(rows, schema), gap_minutes=30
            ).collect()
        }
        # pure-python reference: sort by (ts, event_id) per user, split on gap
        expect = {}
        byu = {}
        for eid, ts, uid, *_ in rows:
            byu.setdefault(uid, []).append((ts, eid))
        for uid, evs in byu.items():
            evs.sort()
            sid, prev = 0, None
            for ts, _eid in evs:
                if prev is None or (ts - prev).total_seconds() > 1800:
                    sid += 1
                expect[(uid, sid)] = expect.get((uid, sid), 0) + 1
                prev = ts
        assert got == expect, f"seed {seed}"
