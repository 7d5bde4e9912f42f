"""Query rank-identity: Spark engine vs golden model on the reference-style
query set (SURVEY.md §5.1) — bm25 exact path (compat reference + fixed,
with and without synonyms), WAND fast path, and the full vsm funnel
pipeline."""

import pytest

from helpers import assert_ranked_equal
from tiny_search_engine_spark.config import QueryConfig
from tiny_search_engine_spark.golden.model import GoldenQueryEngine
from tiny_search_engine_spark.query import QueryEngine
from tiny_search_engine_spark.synth import make_queries

QUERIES = [(i, q) for i, q in enumerate(make_queries(30, seed=42))]


def _golden_topk(tiny_golden, cfg, synonyms=None, mode="bm25"):
    g = GoldenQueryEngine(tiny_golden, synonyms=synonyms, cfg=cfg)
    out = {}
    for qid, q in QUERIES:
        if mode == "bm25":
            res = g.bm25_topk(q)
            out[qid] = [(r.doc_sign, r.bm25) for r in res]
        else:
            res = g.search(q)
            out[qid] = [(r.doc_sign, r.final_score) for r in res]
    return out


def _spark_topk(df, score_col):
    rows = df.collect()
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r[score_col]))
    return out


@pytest.mark.parametrize("compat", ["reference", "fixed"])
def test_bm25_exact_parity(spark, tiny_store, tiny_golden, compat):
    cfg = QueryConfig(profile="reference", compat=compat)
    eng = QueryEngine(spark, tiny_store, cfg)
    got = _spark_topk(eng.bm25_topk(QUERIES), "bm25")
    want = _golden_topk(tiny_golden, cfg)
    for qid, _q in QUERIES:
        assert_ranked_equal(got.get(qid, []), want.get(qid, []), ctx=f"q{qid} ({_q!r})")


def test_bm25_exact_parity_with_synonyms(spark, tiny_store, tiny_golden, synonyms):
    cfg = QueryConfig(profile="reference", compat="reference")
    eng = QueryEngine(spark, tiny_store, cfg, synonyms=synonyms)
    got = _spark_topk(eng.bm25_topk(QUERIES), "bm25")
    want = _golden_topk(tiny_golden, cfg, synonyms=synonyms)
    for qid, _q in QUERIES:
        assert_ranked_equal(got.get(qid, []), want.get(qid, []), ctx=f"q{qid} ({_q!r})")


def test_wand_equals_exact(spark, tiny_store, tiny_golden):
    """Block-max WAND is an exact top-k: must equal the exhaustive path
    under the clean semantics (compat=fixed, no synonyms)."""
    cfg = QueryConfig(profile="standard", compat="fixed")
    eng = QueryEngine(spark, tiny_store, cfg)
    got = _spark_topk(eng.wand_topk(QUERIES), "bm25")
    want = _golden_topk(tiny_golden, cfg)
    for qid, _q in QUERIES:
        assert_ranked_equal(got.get(qid, []), want.get(qid, []), ctx=f"q{qid} ({_q!r})")


def test_full_pipeline_vsm_parity(spark, tiny_store, tiny_golden):
    cfg = QueryConfig(profile="reference", compat="reference")
    eng = QueryEngine(spark, tiny_store, cfg)
    got = _spark_topk(eng.search(QUERIES), "final_score")
    want = _golden_topk(tiny_golden, cfg, mode="search")
    for qid, _q in QUERIES:
        assert_ranked_equal(got.get(qid, []), want.get(qid, []), ctx=f"q{qid} ({_q!r})")


def test_wand_exact_across_heterogeneous_shard_counts(spark, tiny_store, tiny_golden):
    """Regression: a query mixing a multi-shard (high-df) term with
    single-shard (low-df) terms. Contributions of the same doc arrive via
    different per-term shard functions; the fine-granularity routing must
    still sum them in exactly one group (pre-fix, partial scores produced
    duplicate docs with understated bm25)."""
    from pyspark.sql import functions as F

    ts = tiny_store.term_stats(spark).select("term", "df", "n_shards")
    multi = ts.filter(F.col("n_shards") > 1).orderBy(F.desc("df")).limit(3).collect()
    single = (
        ts.filter((F.col("n_shards") == 1) & (F.col("df") >= 5))
        .orderBy(F.desc("df"))
        .limit(3)
        .collect()
    )
    assert multi, "fixture must produce multi-shard terms (lower postings_per_shard)"
    assert single
    queries = []
    for i, (m, s) in enumerate(zip(multi, single)):
        queries.append((1000 + i, f"{m['term']} {s['term']}"))
    queries.append((2000, f"{multi[0]['term']} {single[0]['term']} {single[1]['term']}"))

    cfg = QueryConfig(profile="standard", compat="fixed")
    eng = QueryEngine(spark, tiny_store, cfg)
    got = _spark_topk(eng.wand_topk(queries), "bm25")
    g = GoldenQueryEngine(tiny_golden, cfg=cfg)
    for qid, q in queries:
        want = [(r.doc_sign, r.bm25) for r in g.bm25_topk(q)]
        # no duplicate docs in the result
        ids = [d for d, _ in got.get(qid, [])]
        assert len(ids) == len(set(ids)), f"duplicate docs for q{qid}"
        assert_ranked_equal(got.get(qid, []), want, ctx=f"q{qid} ({q!r})")


@pytest.mark.parametrize("mode", ["matrix", "taat"])
def test_wand_batch_scorers_equal_golden(spark, tiny_store, tiny_golden, mode):
    """Both batch scorers (exhaustive sparse-product and pruned TAAT) are
    exact: rank-identical to the golden exhaustive scorer, at several
    doc-group fan values: 1 (every posting row nests in one group), 2
    (the batch's one-shard rows are replicated and masked, its two-shard
    rows nest), 4 and 16 (every row is replicated and masked). The kernel follows
    the batch size: QUERIES alone stays under MATRIX_SCORE_MIN_QUERIES
    (TAAT); QUERIES plus the same texts under fresh qids reaches it
    (matrix)."""
    from pyspark.sql import functions as F

    from tiny_search_engine_spark.query import MATRIX_SCORE_MIN_QUERIES, _in_expr
    from tiny_search_engine_spark.tokenizer import tokenize_with_stats

    shift = 1000
    batch = list(QUERIES)
    if mode == "matrix":
        batch += [(qid + shift, q) for qid, q in QUERIES]
    non_empty = sum(1 for _, q in batch if tokenize_with_stats(q, "code")[2])
    assert (non_empty >= MATRIX_SCORE_MIN_QUERIES) == (mode == "matrix")
    signs = sorted({s for _, q in batch for s in tokenize_with_stats(q, "code")[2]})
    n_shards = {
        r["n_shards"]
        for r in tiny_store.postings(spark)
        .filter(_in_expr("term_sign", signs))
        .select(F.col("n_shards")).distinct().collect()
    }
    # both routes run: fan 2 has matched rows on either side, fan 16 none nests
    assert min(n_shards) < 2 <= max(n_shards) < 16, n_shards
    cfg = QueryConfig(profile="standard", compat="fixed")
    want = _golden_topk(tiny_golden, cfg)
    for fan in (1, 2, 4, 16):
        eng = QueryEngine(
            spark, tiny_store,
            QueryConfig(profile="standard", compat="fixed", query_doc_fan=fan),
        )
        got = _spark_topk(eng.wand_topk(batch), "bm25")
        for qid, _q in batch:
            assert_ranked_equal(
                got.get(qid, []), want.get(qid % shift, []),
                ctx=f"{mode} fan{fan} q{qid} ({_q!r})",
            )


def test_batch_scorer_kernels_identical():
    """Dense scatter-add batch kernel == pruned TAAT kernel on random
    inputs (same docs, same scores, same tiebreaks), including
    negative-idf terms and multi-row (sharded) signs."""
    import numpy as np

    from tiny_search_engine_spark.query import _score_batch_matrix, _score_batch_taat

    rng = np.random.default_rng(11)
    for trial in range(20):
        termd = {}
        for s in range(6):
            rows = []
            for _ in range(int(rng.integers(1, 3))):
                d = np.unique(rng.integers(-50, 50, size=rng.integers(2, 30)).astype(np.int64))
                tfpart = rng.random(d.size) + 0.1
                rows.append((d, tfpart, float(tfpart.max()), float(rng.random() * 3 - 0.5)))
            # rows of one sign must cover disjoint docs (shard slices)
            if len(rows) == 2:
                d0 = rows[0][0]
                keep = ~np.isin(rows[1][0], d0)
                if keep.sum() == 0:
                    rows = rows[:1]
                else:
                    d1, t1, _, i1 = rows[1]
                    rows[1] = (d1[keep], t1[keep], float(t1[keep].max()), i1)
            termd[s] = rows
        qdict = {
            qid: [(int(t), int(rng.integers(1, 3))) for t in rng.choice(6, size=3, replace=False)]
            for qid in range(15)
        }
        a = _score_batch_matrix(termd, qdict, 1.2, 1.0, 5)
        b = _score_batch_taat(dict(termd), dict(qdict), 1.0, 5)
        assert (a is None) == (b is None)
        if a is None:
            continue
        np.testing.assert_array_equal(a[0], b[0])
        np.testing.assert_array_equal(a[1], b[1])
        np.testing.assert_allclose(a[2], b[2], rtol=1e-9)
