"""Positional phrase search + more-like-this: behavioral pins on crafted
inputs (DuckDB-oracle equivalence runs in scripts/check_oracles.py)."""

import pytest
from pyspark.sql import functions as F

from tiny_search_engine_spark.pipeline import retrieval


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "big table scan big table scan"),      # "big table" twice
        (1, "table big scan"),                     # terms present, wrong order
        (2, "big  table"),                         # multi-space: still adjacent
        (3, "big stone table"),                    # gap: not a phrase hit
        (4, "completely different words here"),
        (5, "big table scan big table scan"),      # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_phrase_match_adjacency_and_counts(corpus):
    out = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["n_occurrences"])
        for r in retrieval.phrase_match(corpus, [(0, "big table"), (1, "big table scan")]).collect()
    }
    # "big table": docs 0 and 5 twice each (rank by count then id), doc 2 once
    assert out[(0, 0)] == (1, 2) and out[(0, 5)] == (2, 2) and out[(0, 2)] == (3, 1)
    assert (0, 1) not in out  # wrong order is not a phrase
    assert (0, 3) not in out  # gap breaks adjacency
    # the 3-term phrase
    assert out[(1, 0)] == (1, 2) and out[(1, 5)] == (2, 2)
    assert (1, 2) not in out  # "big table" without "scan" after


def test_phrase_match_repeated_term_phrase(spark):
    df = spark.createDataFrame(
        [(0, "go go go stop"), (1, "go stop go")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["n_occurrences"]
        for r in retrieval.phrase_match(df, [(7, "go go")]).collect()
    }
    assert out == {0: 2}  # positions (0,1) and (1,2); doc 1 never adjacent


def test_more_like_this_prefers_duplicate_then_overlap(corpus):
    out = {}
    for r in retrieval.more_like_this(corpus, [0], k=5).collect():
        out[r["rank"]] = (r["doc_id"], r["sim"])
    # cosine is bag-of-words: doc 1 (same proportions, different order)
    # and doc 5 (exact duplicate) both hit 1.0; tie-break by doc id
    assert out[1] == (1, 1.0) and out[2] == (5, 1.0)
    # overlapping docs beat the disjoint doc 4, which never appears
    ranked_ids = [d for d, _ in out.values()]
    assert 4 not in ranked_ids
    assert set(ranked_ids) == {5, 1, 2, 3}


def test_more_like_this_excludes_seed_and_caps_terms(corpus):
    rows = retrieval.more_like_this(corpus, [0, 1], k=3, max_query_terms=2).collect()
    assert all(r["doc_id"] != r["seed_id"] for r in rows)
    by_seed = {}
    for r in rows:
        by_seed.setdefault(r["seed_id"], []).append(r["rank"])
    assert set(by_seed) == {0, 1}
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_seed.values())


def test_suggest_prefix_completion(corpus):
    out = [
        (r.prefix_id, r.rank, r.term, r.df)
        for r in retrieval.suggest(
            corpus, [(1, "ta"), (2, "big"), (3, "zz")], k=2
        ).collect()
    ]
    # "table" appears (distinct per doc) in docs 0,1,2,3,5 → df 5
    assert (1, 1, "table", 5) in out
    # "big" df 5 ranks above "bigger"-style others; exact term included
    assert (2, 1, "big", 5) in out
    assert not [t for t in out if t[0] == 3]  # no completions for zz
    assert all(r <= 2 for _, r, _, _ in out)  # k respected


def test_related_terms_pmi_brute(spark):
    import math

    rows = [
        (0, "cat dog"),
        (1, "cat dog"),
        (2, "cat dog fish"),
        (3, "cat bird"),
        (4, "fish plankton"),
        (5, "bird worm"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.seed, r.term): (r.rank, r.c_xy, r.pmi)
        for r in retrieval.related_terms(df, ["cat"], k=10, min_cooc=2).collect()
    }
    n = len(rows)
    # brute PMI: cat df=4, dog df=3, cooc(cat,dog)=3
    want_dog = round(math.log(n * 3 / (4 * 3)), 6)
    assert out[("cat", "dog")] == (1, 3, want_dog)
    # fish cooc=1 < min_cooc, bird cooc=1 < min_cooc → only dog survives
    assert set(out) == {("cat", "dog")}


def test_related_terms_rank_is_deterministic(corpus):
    a = [tuple(r) for r in retrieval.related_terms(corpus.repartition(2), ["big"], k=5).collect()]
    b = [tuple(r) for r in retrieval.related_terms(corpus.repartition(7), ["big"], k=5).collect()]
    assert sorted(a) == sorted(b) and a


def test_boolean_search_brute(spark):
    rows = [
        (0, "table merge batch"),
        (1, "table batch"),
        (2, "table"),
        (3, "merge"),
        (4, "other words"),
        (5, "table merge"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    queries = [(1, "+table merge"), (2, "table -batch"), (3, "+merge +table"), (4, "merge other")]
    got = {
        (r.query_id, r.doc_id): (r.rank, r.n_matched)
        for r in retrieval.boolean_search(df, queries, k=10).collect()
    }
    # brute: same grammar evaluated in python over token sets
    toks = {d: set(t.split()) for d, t in rows}
    from tiny_search_engine_spark.pipeline.retrieval import parse_boolean_queries
    qrows, need = parse_boolean_queries(queries)
    want = {}
    for qid, n_must, n_should in need:
        terms = [(t, role) for q, t, role in qrows if q == qid]
        scored = []
        for d, ts in toks.items():
            must = sum(1 for t, r in terms if r == "must" and t in ts)
            noth = sum(1 for t, r in terms if r == "not" and t in ts)
            should = sum(1 for t, r in terms if r == "should" and t in ts)
            if must == n_must and noth == 0 and (n_should == 0 or should > 0):
                scored.append((-(must + should), d))
        for rank, (neg, d) in enumerate(sorted(scored), 1):
            want[(qid, d)] = (rank, -neg)
    assert got == want and got


def test_boolean_search_gates(spark):
    df = spark.createDataFrame([(0, "x y")], "doc_id long, text string")
    with pytest.raises(ValueError, match="no positive term"):
        retrieval.boolean_search(df, [(1, "-x")])
    with pytest.raises(ValueError, match="duplicate query_id"):
        retrieval.boolean_search(df, [(1, "x"), (1, "y")])


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_spell_correct_brute(spark):
    rows = [
        (0, "table scan merge"),
        (1, "table query sort"),
        (2, "table tables tale"),
        (3, "query quest zebra"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    queries = [(1, "tabel"), (2, "quer"), (3, "tale"), (4, "zzzzzz")]
    got = {
        (r.query_id, r.rank): (r.term, r.dist, r.df)
        for r in retrieval.spell_correct(df, queries, max_dist=2, k=3).collect()
    }
    # brute: python levenshtein over the distinct-term dictionary
    dfreq: dict[str, int] = {}
    for _, t in rows:
        for term in set(t.split()):
            dfreq[term] = dfreq.get(term, 0) + 1
    want = {}
    for qid, q in queries:
        cand = [
            (d, -c, t)
            for t, c in dfreq.items()
            if (d := _lev(t, q)) <= 2
        ]
        for rank, (d, negc, t) in enumerate(sorted(cand)[:3], 1):
            want[(qid, rank)] = (t, d, -negc)
    assert got == want and got
    # semantic pins: exact hit ranks first at distance 0; df breaks dist ties
    assert got[(3, 1)] == ("tale", 0, 1)
    assert got[(1, 1)][0] == "table"  # df 3 beats tables/tale at equal dist
    assert all(q != 4 for q, _ in got)  # nothing within distance 2 of zzzzzz


def test_spell_correct_length_band_never_cuts(spark):
    # the |len| <= max_dist prefilter is a necessary condition of the DP:
    # removing it must not change results on a dictionary with extreme
    # length spread
    rows = [(0, "ab abc abcd abcde abcdefghijklm x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = retrieval.spell_correct(df, [(1, "abcd")], max_dist=2, k=10).collect()
    assert sorted(r.term for r in out) == ["ab", "abc", "abcd", "abcde"]
    assert {r.term: r.dist for r in out}["ab"] == 2


def test_rrf_fuse_brute(spark):
    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1), (1, 21, 2)],
        "query_id long, doc_id long, rank int",
    )
    sem = spark.createDataFrame(
        [(0, 12, 1), (0, 13, 2), (0, 10, 3), (1, 21, 1)],
        "query_id long, doc_id long, rank int",
    )
    got = {
        (r.query_id, r.rank): (r.doc_id, r.rrf)
        for r in retrieval.rrf_fuse([lex, sem], k_rrf=60, k=10).collect()
    }
    # brute RRF
    contrib: dict[tuple[int, int], float] = {}
    for df in (
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1), (1, 21, 2)],
        [(0, 12, 1), (0, 13, 2), (0, 10, 3), (1, 21, 1)],
    ):
        for q, d, r in df:
            contrib[(q, d)] = contrib.get((q, d), 0.0) + 1.0 / (60 + r)
    want = {}
    for q in (0, 1):
        ranked = sorted(
            ((d, round(s, 6)) for (qq, d), s in contrib.items() if qq == q),
            key=lambda x: (-x[1], x[0]),
        )
        for rank, (d, s) in enumerate(ranked, 1):
            want[(q, rank)] = (d, s)
    assert got == want
    # doc 12 (ranks 3+1) and doc 10 (ranks 1+3) tie exactly -> id tie-break
    assert got[(0, 1)][0] == 10 and got[(0, 2)][0] == 12
    # two-list docs beat one-list docs at comparable ranks
    assert got[(0, 3)][0] == 11  # 1/62 > 1/62? no: 11 has 1/62, 13 has 1/62 -> id tie-break
    assert got[(0, 4)][0] == 13


def test_rrf_fuse_weights_and_gates(spark):
    a = spark.createDataFrame([(0, 1, 1)], "query_id long, doc_id long, rank int")
    b = spark.createDataFrame([(0, 2, 1)], "query_id long, doc_id long, rank int")
    out = {r.doc_id: r.rrf for r in retrieval.rrf_fuse([a, b], weights=[2.0, 1.0]).collect()}
    assert out[1] == round(2.0 / 61, 6) and out[2] == round(1.0 / 61, 6)
    with pytest.raises(ValueError, match="at least one"):
        retrieval.rrf_fuse([])
    with pytest.raises(ValueError, match="length mismatch"):
        retrieval.rrf_fuse([a], weights=[1.0, 2.0])


def test_facet_counts(spark):
    results = spark.createDataFrame(
        [
            (0, 10), (0, 11), (0, 12),
            (0, 10),            # duplicate result row: counted once
            (1, 11),
            (2, 99),            # doc missing from metadata: contributes nothing
        ],
        "query_id long, doc_id long",
    )
    meta = spark.createDataFrame(
        [
            (10, "en", "web"),
            (11, "de", "web"),
            (12, "en", None),   # NULL facet value -> '(null)' bucket
            (13, "fr", "book"), # not in any result: never counted
        ],
        "doc_id long, lang string, source string",
    )
    got = {
        (r["query_id"], r["facet"], r["value"]): r["n_docs"]
        for r in retrieval.facet_counts(results, meta, ["lang", "source"]).collect()
    }
    assert got == {
        (0, "lang", "en"): 2,
        (0, "lang", "de"): 1,
        (0, "source", "web"): 2,
        (0, "source", "(null)"): 1,
        (1, "lang", "de"): 1,
        (1, "source", "web"): 1,
    }
    # single facet works; empty facet list refuses
    one = retrieval.facet_counts(results, meta, ["lang"])
    assert {r["facet"] for r in one.collect()} == {"lang"}
    with pytest.raises(ValueError):
        retrieval.facet_counts(results, meta, [])


def test_collapse_results(spark):
    results = spark.createDataFrame(
        [
            (0, 10, 5.0), (0, 11, 4.0), (0, 12, 3.0), (0, 13, 2.0), (0, 14, 1.5),
            (1, 10, 2.0), (1, 13, 2.0),    # score tie: doc_id breaks it
        ],
        "query_id long, doc_id long, bm25 double",
    )
    meta = spark.createDataFrame(
        [
            (10, "web"), (11, "web"),      # same group: 11 collapses under 10
            (12, "book"),
            (13, None),                     # NULL group: singleton
            # 14 missing from meta entirely: singleton, still returned
        ],
        "doc_id long, source string",
    )
    got = {
        (r["query_id"], r["rank"]): (r["group_value"], r["doc_id"], r["bm25"])
        for r in retrieval.collapse_results(results, meta, "source", k=10).collect()
    }
    assert got[(0, 1)] == ("web", 10, 5.0)
    assert got[(0, 2)] == ("book", 12, 3.0)
    assert got[(0, 3)] == ("(doc:13)", 13, 2.0)
    assert got[(0, 4)] == ("(doc:14)", 14, 1.5)
    assert len([q for q, _ in got if q == 0]) == 4          # 11 collapsed away
    # tie on score -> lower doc_id wins rank 1
    assert got[(1, 1)][1] == 10 and got[(1, 2)][1] == 13
    # k truncates after collapsing
    k2 = retrieval.collapse_results(results, meta, "source", k=2)
    assert k2.filter("query_id = 0").count() == 2


def test_result_snippets(spark):
    docs = spark.createDataFrame(
        [
            # best window: positions 6..8 hold both terms twice
            (1, "x x x alpha x x alpha beta alpha x x x"),
            (2, "beta y y y y y y y y y y y y y y alpha"),  # far apart: single-hit window
            (3, "no hits here"),
        ],
        "doc_id long, text string",
    )
    results = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "query_id long, doc_id long"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in retrieval.result_snippets(
            results, docs, [(0, "alpha beta")], window=4
        ).collect()
    }
    # doc 1: anchor at pos 6 covers alpha(6), beta(7), alpha(8) = 3 hits
    assert got[1]["snippet_start"] == 6 and got[1]["n_hits"] == 3
    assert got[1]["snippet"] == "**alpha** **beta** **alpha** x"
    # doc 2: both terms too far apart for one window -> earliest 1-hit anchor
    assert got[2]["snippet_start"] == 0 and got[2]["n_hits"] == 1
    assert got[2]["snippet"].startswith("**beta**")
    # doc 3: zero hits -> no row
    assert 3 not in got
    # snippet clipped at doc end
    assert len(got[2]["snippet"].split()) == 4
    with pytest.raises(ValueError):
        retrieval.result_snippets(results, docs, [(0, "alpha")], window=0)


def test_proximity_search_min_cover(spark):
    rows = [
        (0, "alpha beta gamma"),                     # adjacent block -> span 3
        (1, "gamma x alpha y beta"),                 # all terms, span 5
        (2, "alpha x x x beta gamma"),               # best window = "beta gamma"? no: needs alpha -> span 6
        (3, "alpha beta only"),                      # missing gamma -> excluded
        (4, "beta gamma alpha beta gamma"),          # reordered adjacent -> span 3
        (5, "alpha alpha beta x gamma alpha beta gamma"),  # tail block -> span 3
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in retrieval.proximity_search(
            corpus, [(0, "alpha beta gamma")]
        ).collect()
    }
    assert set(out) == {0, 1, 2, 4, 5}  # doc 3 lacks gamma
    assert out[0]["min_span"] == 3 and out[0]["proximity"] == 1.0
    assert out[4]["min_span"] == 3 and out[5]["min_span"] == 3
    assert out[1]["min_span"] == 5
    assert out[2]["min_span"] == 6
    # rank: span asc then doc_id asc -> 0, 4, 5 first (all span 3)
    assert (out[0]["rank"], out[4]["rank"], out[5]["rank"]) == (1, 2, 3)
    assert out[1]["proximity"] == pytest.approx(round(3 / 5, 6))


def test_proximity_search_order_free_and_duplicates(spark):
    corpus = spark.createDataFrame(
        [(0, "stop go"), (1, "go x stop")], "doc_id long, text string"
    )
    # word order in the QUERY is irrelevant, duplicate words collapse
    a = retrieval.proximity_search(corpus, [(0, "go stop"), (1, "stop go go")]).collect()
    by = {(r["query_id"], r["doc_id"]): r["min_span"] for r in a}
    assert by[(0, 0)] == 2 and by[(0, 1)] == 3
    assert by[(1, 0)] == 2 and by[(1, 1)] == 3


def test_proximity_search_single_term_and_max_span(spark):
    corpus = spark.createDataFrame(
        [(0, "solo word here"), (1, "far a a a a a away far")],
        "doc_id long, text string",
    )
    one = retrieval.proximity_search(corpus, [(0, "solo")]).collect()
    assert len(one) == 1 and one[0]["min_span"] == 1 and one[0]["proximity"] == 1.0
    # "far away": doc 1 span 3 ("away far" tail window is away..far = pos 6..7 -> 2)
    spans = {
        r["doc_id"]: r["min_span"]
        for r in retrieval.proximity_search(corpus, [(0, "far away")]).collect()
    }
    assert spans == {1: 2}
    # max_span below the best window drops the doc entirely
    assert (
        retrieval.proximity_search(corpus, [(0, "far away")], max_span=1).count() == 0
    )
    with pytest.raises(ValueError):
        retrieval.proximity_search(corpus, [(0, "x")], max_span=0)


def _impact_py(rows, k1=1.2, b=0.75):
    """Pure-python BM25 impact table: {(term, doc): (tf, impact)}."""
    import math
    from collections import Counter

    toks = {i: t.split() for i, t in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = Counter()
    tf = {}
    for i, ts in toks.items():
        c = Counter(ts)
        for w, f in c.items():
            df[w] += 1
            tf[(w, i)] = f
    out = {}
    for (w, i), f in tf.items():
        idf = math.log(1 + (n - df[w] + 0.5) / (df[w] + 0.5))
        imp = idf * f * (k1 + 1) / (f + k1 * (1 - b + b * len(toks[i]) / avgdl))
        out[(w, i)] = (f, round(imp, 6))
    return out


def test_static_index_prune_brute(spark):
    rows = [
        (0, "apple apple apple banana"),
        (1, "apple banana banana cherry"),
        (2, "apple cherry"),
        (3, "banana banana banana banana"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    full = retrieval.static_index_prune(corpus, m=10).collect()
    want = _impact_py(rows)
    assert {(r["term"], r["doc_id"]) for r in full} == set(want)
    for r in full:
        wf, wi = want[(r["term"], r["doc_id"])]
        assert (r["tf"], r["impact"]) == (wf, pytest.approx(wi, abs=1e-6))
    # rank is per-term by (impact desc, doc asc); m=1 keeps each term's best
    pruned = retrieval.static_index_prune(corpus, m=1).collect()
    by_term = {r["term"]: r for r in pruned}
    assert len(pruned) == len(by_term) == 3
    for term, r in by_term.items():
        best = max(
            ((i, v[1]) for (w, i), v in want.items() if w == term),
            key=lambda x: (x[1], -x[0]),
        )
        assert (r["doc_id"], r["rank"]) == (best[0], 1), term
    with pytest.raises(ValueError):
        retrieval.static_index_prune(corpus, m=0)


def test_static_index_prune_keeps_retrieval_head(spark):
    # docs 0-2 are heavy in "needle"; docs 3-9 mention it once in long docs
    rows = [(i, "needle " * (5 - i) + "filler" + str(i)) for i in range(3)] + [
        (i, "needle " + " ".join(f"pad{i}_{j}" for j in range(20))) for i in range(3, 10)
    ]
    corpus = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    pruned = retrieval.static_index_prune(corpus, m=3)
    kept = {r["doc_id"] for r in pruned.filter(F.col("term") == "needle").collect()}
    assert kept == {0, 1, 2}  # the high-impact head survives, the tail is cut


def test_static_index_prune_plan_has_partial_window_limit(spark):
    corpus = spark.createDataFrame(
        [(i, f"w{i} common") for i in range(8)], "doc_id long, text string"
    )
    plan = (
        retrieval.static_index_prune(corpus, m=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines = plan.splitlines()
    partial = [i for i, l in enumerate(lines)
               if "WindowGroupLimit [term" in l and "Partial" in l]
    exchange = [i for i, l in enumerate(lines)
                if "Exchange hashpartitioning(term" in l]
    assert partial and exchange, plan
    assert min(exchange) < max(partial), plan


def _prf_py(rows, queries, k, r, e, lam, k1=1.2, b=0.75):
    """Pure-python twin of retrieval.prf_search (same rounding points)."""
    import math
    from collections import Counter, defaultdict

    toks = {i: t.split() for i, t in rows}
    n = len(rows)
    avgdl = sum(map(len, toks.values())) / n
    tfd, dfc = {}, Counter()
    for i, ts in toks.items():
        for w, f in Counter(ts).items():
            tfd[(w, i)] = f
            dfc[w] += 1

    def impact(w, i):
        idf = math.log(1 + (n - dfc[w] + 0.5) / (dfc[w] + 0.5))
        f = tfd[(w, i)]
        den = f + k1 * (1 - b + b * len(toks[i]) / avgdl)
        return round(idf * f * (k1 + 1) / den, 6)

    out = {}
    for qid, q in queries:
        terms = sorted({w for w in q.split() if w})
        s1 = {
            i: round(sum(impact(w, i) for w in terms if (w, i) in tfd), 6)
            for i in toks
            if any((w, i) in tfd for w in terms)
        }
        fb = sorted(s1.items(), key=lambda kv: (-kv[1], kv[0]))[:r]
        wts = defaultdict(float)
        for i, s in fb:
            for w in set(toks[i]):
                wts[w] += tfd[(w, i)] / len(toks[i]) * s
        wts = {w: round(v, 6) for w, v in wts.items() if w not in terms}
        exp = sorted(wts.items(), key=lambda kv: (-kv[1], kv[0]))[:e]
        weights = {w: 1.0 for w in terms}
        if exp:
            mx = max(v for _, v in exp)
            for w, v in exp:
                weights[w] = round(lam * v / mx, 6)
        s2 = {}
        for i in toks:
            hit = [w for w in weights if (w, i) in tfd]
            if hit:
                s2[i] = round(sum(impact(w, i) * weights[w] for w in hit), 6)
        ranked = sorted(s2.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = [(rk + 1, i, s) for rk, (i, s) in enumerate(ranked)]
    return out


PRF_ROWS = [
    (0, "apple banana cherry"),
    (1, "apple banana"),
    (2, "banana cherry date"),       # no query term: reachable only via PRF
    (3, "unrelated words only"),
    (4, "apple apple date"),
    (5, "cherry date elderberry"),
    (6, "apple elderberry"),
    (7, "banana banana cherry date"),
]
PRF_QUERIES = [(0, "apple"), (1, "date cherry"), (2, "zz_absent"), (3, "apple apple")]


def test_prf_search_brute(spark):
    corpus = spark.createDataFrame(PRF_ROWS, "doc_id long, text string")
    got = retrieval.prf_search(
        corpus, PRF_QUERIES, k=6, r=3, e=2, lam=0.5
    ).collect()
    want = _prf_py(PRF_ROWS, PRF_QUERIES, k=6, r=3, e=2, lam=0.5)
    by_q = {}
    for rr in got:
        by_q.setdefault(rr["query_id"], []).append(rr)
    assert set(by_q) == {qid for qid, rows in want.items() if rows}
    for qid, rows in by_q.items():
        rows.sort(key=lambda rr: rr["rank"])
        assert [(rr["rank"], rr["doc_id"]) for rr in rows] == [
            (rk, i) for rk, i, _ in want[qid]
        ], qid
        for rr, (_, _, s) in zip(rows, want[qid]):
            assert rr["score"] == pytest.approx(s, abs=2e-6)
    # absent-token query returns nothing; dup-word query == single-word query
    assert 2 not in by_q
    assert [(rr["rank"], rr["doc_id"]) for rr in by_q[3]] == [
        (rr["rank"], rr["doc_id"]) for rr in by_q[0]
    ]


def test_prf_search_expansion_reaches_new_docs(spark):
    corpus = spark.createDataFrame(PRF_ROWS, "doc_id long, text string")
    first_pass = retrieval.static_index_prune(corpus, m=100)  # smoke: shared census
    assert first_pass.count() > 0
    got = {
        r["doc_id"]
        for r in retrieval.prf_search(
            corpus, [(0, "apple")], k=8, r=3, e=3, lam=0.5
        ).collect()
    }
    assert 2 in got        # no "apple", pulled in by expansion terms
    assert 3 not in got    # shares nothing with query or expansion
    with pytest.raises(ValueError):
        retrieval.prf_search(corpus, [(0, "x")], r=0)
    with pytest.raises(ValueError):
        retrieval.prf_search(corpus, [(0, "x")], lam=-0.1)


def test_tiered_topk_exact_regardless_of_m(spark):
    corpus = spark.createDataFrame(PRF_ROWS, "doc_id long, text string")
    queries = [(0, "apple"), (1, "banana cherry"), (2, "date elderberry apple")]

    def strip(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in df.collect()
        )

    # m=1 forces heavy pruning; m=1000 prunes nothing — output must be
    # IDENTICAL (the fallback pass re-scores any query pruning touched)
    full = strip(retrieval.tiered_topk(corpus, queries, m=1000, k=5))
    assert strip(retrieval.tiered_topk(corpus, queries, m=1, k=5)) == full
    assert strip(retrieval.tiered_topk(corpus, queries, m=3, k=5)) == full
    with pytest.raises(ValueError):
        retrieval.tiered_topk(corpus, queries, m=0)


def test_tiered_topk_certificate_flags(spark):
    # "hot" appears in 4 docs, "rare" in 1
    corpus = spark.createDataFrame(
        [(i, "hot filler" + str(i)) for i in range(4)] + [(9, "rare hot")],
        "doc_id long, text string",
    )
    out = retrieval.tiered_topk(
        corpus, [(0, "rare"), (1, "hot"), (2, "rare hot"), (3, "zz_absent")], m=2, k=10
    ).collect()
    flags = {}
    for r in out:
        flags.setdefault(r["query_id"], set()).add(r["tier1"])
    assert flags[0] == {True}    # df(rare)=1 <= 2: served from tier 1
    assert flags[1] == {False}   # df(hot)=5 > 2: full fallback
    assert flags[2] == {False}   # any hot term poisons the certificate
    assert 3 not in flags        # absent term matches nothing


def _ordered_py(rows, queries, max_gap=None):
    """Brute-force ordered-window twin: enumerate every position combo."""
    import itertools

    toks = {i: t.split() for i, t in rows}
    out = {}
    for qid, q in queries:
        terms = [t for t in q.split() if t]
        res = {}
        for i, ts in toks.items():
            slots = [[p for p, w in enumerate(ts) if w == term] for term in terms]
            if any(not ps for ps in slots):
                continue
            best = None
            for combo in itertools.product(*slots):
                ok = all(
                    combo[j + 1] > combo[j]
                    and (max_gap is None or combo[j + 1] - combo[j] <= max_gap)
                    for j in range(len(combo) - 1)
                )
                if ok:
                    span = combo[-1] - combo[0] + 1
                    best = span if best is None else min(best, span)
            if best is not None:
                res[i] = best
        out[qid] = res
    return out


OW_ROWS = [
    (0, "big table scan"),
    (1, "table big scan"),          # wrong order for "big table"
    (2, "big x y table big table"),
    (3, "a b x x x x b c"),
    (4, "a b b x c"),
    (5, "go stop go"),
    (6, "go"),
]
OW_QUERIES = [(0, "big table"), (1, "a b c"), (2, "go go"), (3, "scan big")]


def test_ordered_window_brute(spark):
    corpus = spark.createDataFrame(OW_ROWS, "doc_id long, text string")
    for gap in (None, 2):
        got = {
            (r["query_id"], r["doc_id"]): r["min_span"]
            for r in retrieval.ordered_window_search(
                corpus, OW_QUERIES, max_gap=gap
            ).collect()
        }
        want = {
            (qid, i): s
            for qid, res in _ordered_py(OW_ROWS, OW_QUERIES, max_gap=gap).items()
            for i, s in res.items()
        }
        assert got == want, gap
    # order sensitivity: "big table" hits docs 0 and 2, never doc 1
    spans = _ordered_py(OW_ROWS, OW_QUERIES)[0]
    assert 1 not in spans and spans[0] == 2 and spans[2] == 2


def test_ordered_window_gap_dead_end_regression(spark):
    # a=0; b at 1 and 2 (both within gap 2 of a); c at 4. The EARLIEST
    # b (1) cannot reach c (gap 3) — only b=2 chains. A greedy min-next
    # implementation returns no match; the exact answer is span 5.
    corpus = spark.createDataFrame([(0, "a b b x c")], "doc_id long, text string")
    out = retrieval.ordered_window_search(
        corpus, [(0, "a b c")], max_gap=2
    ).collect()
    assert len(out) == 1 and out[0]["min_span"] == 5
    # and max_gap=1 is strict adjacency: no match here
    assert (
        retrieval.ordered_window_search(corpus, [(0, "a b c")], max_gap=1).count()
        == 0
    )
    with pytest.raises(ValueError):
        retrieval.ordered_window_search(corpus, [(0, "a")], max_gap=0)


# ---------------------------------------------------------------------------
# Zipfian stress fixture (VERDICT r3 ask #5): tiered/champion serving's
# reason to exist is a Zipfian head — the oracle/bench corpus has
# near-uniform dfs, so these tests pin tier populations and the
# pruned-store win on a corpus with a real head.
# ---------------------------------------------------------------------------

_ZIPF_N, _ZIPF_V, _ZIPF_LEN = 600, 400, 30


def _zipf_texts(seed: int = 11, s: float = 1.2):
    """Deterministic Zipf(s) token streams: rank-k word w{k} has
    P ∝ 1/k^s (numpy zipf draw capped at the vocab size)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    texts = []
    for _ in range(_ZIPF_N):
        ks = np.minimum(rng.zipf(s, size=_ZIPF_LEN), _ZIPF_V)
        texts.append(" ".join(f"w{int(k):04d}" for k in ks))
    return texts


@pytest.fixture(scope="module")
def zipf_docs(spark):
    return spark.createDataFrame(
        list(enumerate(_zipf_texts())), "doc_id long, text string"
    ).cache()


def test_tiered_topk_zipf_head(spark, zipf_docs):
    """On a Zipfian vocabulary the champion tier must do the serving:
    ≥80% of a tail-skewed query load carries the exactness certificate
    (every term df ≤ m) and never touches the full postings, the head
    terms' champion lists are exactly m deep, and the output is STILL
    exact full BM25 for every query (fallback re-scores the hot ones)."""
    dfs = {
        r["term"]: r["n"]
        for r in zipf_docs.select(
            F.explode(F.array_distinct(F.split("text", " "))).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    m = 60
    head = sorted(t for t, n in dfs.items() if n > m)
    tail = sorted(t for t, n in dfs.items() if 2 <= n <= m)
    assert len(head) >= 5, "fixture must have a real head"
    assert len(tail) >= 100
    # 40 tail-only queries + 10 queries poisoned with one head term
    queries = [(i, f"{tail[3 * i]} {tail[3 * i + 1]}") for i in range(40)]
    queries += [
        (40 + i, f"{head[i % len(head)]} {tail[5 * i + 2]}") for i in range(10)
    ]
    out = retrieval.tiered_topk(zipf_docs, queries, m=m, k=10).collect()
    tier1_by_q = {}
    for r in out:
        tier1_by_q.setdefault(r["query_id"], set()).add(r["tier1"])
    assert all(len(v) == 1 for v in tier1_by_q.values())
    flags = {q: v.pop() for q, v in tier1_by_q.items()}
    served_tier1 = sum(flags.values()) / len(flags)
    assert served_tier1 >= 0.8, served_tier1
    # the certificate is exactly the df predicate
    for qid, q in queries:
        if qid not in flags:
            continue
        want = all(dfs.get(t, 0) <= m for t in q.split())
        assert flags[qid] == want, (qid, q)
    # champion-list population: every head term's pruned tier holds
    # exactly m postings
    pruned = retrieval.static_index_prune(zipf_docs, m=m)
    pops = {
        r["term"]: r["n"]
        for r in pruned.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    for t in head:
        assert pops[t] == m, t
    # exactness: tiered output == prune-nothing output for ALL queries
    full = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in retrieval.tiered_topk(
            zipf_docs, queries, m=_ZIPF_N + 1, k=10
        ).collect()
    )
    got = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in out)
    assert got == full


def test_pruned_store_wand_beats_full_on_zipf(spark, zipf_docs, tmp_path):
    """Store-level champion lists (build.prune_store): WAND over the
    m-pruned segment store answers tail-term queries BIT-IDENTICALLY to
    the full store (unpruned lists keep their idf: n_docs pinned via
    lineage, doc_len/avgdl unchanged) while carrying strictly less
    posting mass — the offline complement of block-max WAND, measured
    by the build's own lineage metrics rather than wall clock."""
    import json
    import os

    from tiny_search_engine_spark.build import BuildConfig, build_index, prune_store
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import QueryEngine

    rows = [
        (f"r{i // 50}", f"f{i}.txt", "c0", "code", t)
        for i, t in enumerate(_zipf_texts())
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    m = 50
    full = build_index(
        spark, src, str(tmp_path / "full"),
        BuildConfig(tokenizer="ws", write_tokens=False),
    )
    pruned = prune_store(spark, full, str(tmp_path / "pruned"), m=m)
    lf = json.load(open(os.path.join(full.lineage_path, "postings.json")))
    lp = json.load(open(os.path.join(pruned.lineage_path, "postings.json")))
    # the win: strictly less posting mass and bytes on disk
    assert lp["n_postings"] < lf["n_postings"] * 0.6, (
        lp["n_postings"], lf["n_postings"])
    assert lp["bytes_total"] < lf["bytes_total"]
    # N preserved → unpruned-term idf identical
    assert pruned.meta()["n_docs"] == full.meta()["n_docs"]
    assert pruned.meta()["avg_doc_len"] == full.meta()["avg_doc_len"]

    dfs = {
        r["term"]: r["df"]
        for r in full.term_stats(spark).select("term", "df").collect()
    }
    tail = sorted(t for t, n in dfs.items() if 2 <= n <= m)
    head = sorted(t for t, n in dfs.items() if n > m)
    tail_queries = [(i, f"{tail[3 * i]} {tail[3 * i + 1]}") for i in range(20)]
    head_queries = [(i, f"{head[i % len(head)]}") for i in range(5)]
    qe_full = QueryEngine(spark, full, QueryConfig(profile="standard"))
    qe_pruned = QueryEngine(spark, pruned, QueryConfig(profile="standard"))

    def strip(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["bm25"], 6))
            for r in df.collect()
        )

    # tail queries: provably exact (no list they touch lost a posting)
    assert strip(qe_pruned.wand_topk(tail_queries, k=10)) == strip(
        qe_full.wand_topk(tail_queries, k=10)
    )
    # head queries: lossy by design — pin a recall floor, not equality
    f = {(q, d) for q, _, d, _ in strip(qe_full.wand_topk(head_queries, k=10))}
    p = {(q, d) for q, _, d, _ in strip(qe_pruned.wand_topk(head_queries, k=10))}
    assert len(f & p) / len(f) >= 0.4


@pytest.fixture(scope="module")
def tiered_stores(spark, tmp_path_factory):
    """A full ws-tokenized store over a Zipf corpus, its prune_store at
    m=50, and the full store's df per term: (full, pruned, m, dfs)."""
    from tiny_search_engine_spark.build import BuildConfig, build_index, prune_store

    tmp = tmp_path_factory.mktemp("tiered")
    rows = [
        (f"r{i // 50}", f"f{i}.txt", "c0", "code", t)
        for i, t in enumerate(_zipf_texts(seed=23))
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    m = 50
    full = build_index(
        spark, src, str(tmp / "full"),
        BuildConfig(tokenizer="ws", write_tokens=False),
    )
    pruned = prune_store(spark, full, str(tmp / "pruned"), m=m)
    dfs = {
        r["term"]: r["df"]
        for r in full.term_stats(spark).select("term", "df").collect()
    }
    return full, pruned, m, dfs


def _tiered_batches(dfs: dict, m: int) -> dict:
    """Named query batches over the tiered_stores corpus."""
    tail = sorted(t for t, n in dfs.items() if 2 <= n <= m)
    head = sorted(t for t, n in dfs.items() if n > m)
    cold = [(i, f"{tail[3 * i]} {tail[3 * i + 1]}") for i in range(16)]
    hot = [(100 + i, f"{head[i % len(head)]} {tail[60 + i]}") for i in range(4)]
    return {
        "all_tier1": cold,
        "all_fallback": hot,
        "mixed": cold + hot + [(200, "zz_absent_term")],
        "empty_or_absent": [(300, ""), (301, "zz_absent_term"), (302, "   ")],
        # the last text with terms decides a qid's tier and its terms
        "dup_qid": [(400, hot[0][1]), (400, cold[0][1]),
                    (401, cold[1][1]), (401, hot[1][1]), (402, cold[2][1]),
                    (403, hot[2][1]), (403, "")],
    }


def _rows_by_rank(rows) -> dict:
    return {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["bm25"], 9))
        for r in rows
    }


def test_tiered_wand_topk_store_level(spark, tiered_stores):
    """query.tiered_wand_topk — the production composition of
    prune_store and WAND: tail-certificate queries are served from the
    compacted store BIT-IDENTICALLY to full-store WAND, hot-term
    queries fall back, and the merged output equals full-store WAND for
    EVERY query (store twin of retrieval.tiered_topk's contract)."""
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import QueryEngine, tiered_wand_topk

    full, pruned, m, dfs = tiered_stores
    queries = _tiered_batches(dfs, m)["mixed"]
    cfg = QueryConfig(profile="standard", compat="fixed")
    got = tiered_wand_topk(spark, full, pruned, queries, k=10, cfg=cfg).collect()
    flags = {}
    for r in got:
        flags.setdefault(r["query_id"], set()).add(r["tier1"])
    assert all(len(v) == 1 for v in flags.values())
    # certificate routing: every tail query tier1, every head query not
    for qid in range(16):
        assert flags[qid] == {True}, qid
    for qid in range(100, 104):
        assert flags[qid] == {False}, qid
    # the merged output IS full-store WAND, row for row
    want = _rows_by_rank(QueryEngine(spark, full, cfg).wand_topk(queries, k=10).collect())
    assert _rows_by_rank(got) == want
    # a non-pruned store is rejected (no prune_m lineage)
    with pytest.raises(ValueError, match="prune_m"):
        tiered_wand_topk(spark, full, full, queries, k=10, cfg=cfg)


def test_batch_fan_follows_posting_volume(spark):
    """The WAND fan: one doc group per POSTINGS_PER_DOC_GROUP postings of
    the batch's terms, pow2, capped at the session fan."""
    from tiny_search_engine_spark.query import (
        POSTINGS_PER_DOC_GROUP as C,
        _batch_fan,
        _session_fan,
    )

    cap = _session_fan(spark)
    assert [_batch_fan(spark, n) for n in (0, 1, C)] == [1, 1, 1]
    assert [_batch_fan(spark, n) for n in (C + 1, 2 * C, 2 * C + 1)] == [2, 2, 4]
    assert _batch_fan(spark, 1000 * C) == cap == 8  # local[4]


def _score_stage_tasks(sc, group: str) -> list[int]:
    """Tasks of each WAND score stage a job group ran: the second stage of
    every multi-stage job (postings scan and route, per-group score, then
    the top-k window unless the fan is 1; a job's stage ids follow its
    plan order). The census lookup is a one-stage job and does not count."""
    st = sc.statusTracker()
    out = []
    for j in sorted(st.getJobIdsForGroup(group)):
        stages = sorted(st.getJobInfo(j).stageIds)
        if len(stages) > 1:
            out.append(st.getStageInfo(stages[1]).numTasks)
    return out


def test_wand_topk_fan_follows_batch(spark, tiny_store, monkeypatch):
    """wand_topk sizes its doc-group fan to the batch, as tiered does: a
    batch whose Σ df is under POSTINGS_PER_DOC_GROUP scores in one doc
    group (two score tasks: the repartition runs two per group), a batch
    over it in more. A batch without terms returns no rows and submits
    no Spark job; a batch of absent terms returns no rows."""
    from tiny_search_engine_spark import query
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import (
        QueryEngine,
        _batch_fan,
        _query_term_census,
        _query_terms,
    )
    from tiny_search_engine_spark.synth import make_queries

    eng = QueryEngine(spark, tiny_store, QueryConfig(profile="standard", compat="fixed"))
    big = list(enumerate(make_queries(30, seed=42)))
    sigma = sum(_query_term_census(spark, tiny_store, _query_terms(big, "code")).values())
    rare = (
        tiny_store.term_stats(spark).filter(F.col("df") >= 2)
        .orderBy("df", "term").first()
    )
    monkeypatch.setattr(query, "POSTINGS_PER_DOC_GROUP", sigma // 4)
    assert rare["df"] <= sigma // 4 < sigma
    sc = spark.sparkContext

    def run(name, batch):
        sc.setJobGroup(name, name)
        try:
            rows = eng.wand_topk(batch, k=5).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return rows, sc.statusTracker().getJobIdsForGroup(name)

    rows, _ = run("fan-small", [(0, rare["term"])])
    assert len(rows) == min(5, rare["df"])
    assert _score_stage_tasks(sc, "fan-small") == [2]
    rows, _ = run("fan-big", big)
    assert rows
    assert _batch_fan(spark, sigma) > 1
    assert _score_stage_tasks(sc, "fan-big") == [2 * _batch_fan(spark, sigma)]
    for name, batch in (("fan-empty", []), ("fan-blank", [(0, ""), (1, "   ")])):
        rows, jobs = run(name, batch)
        assert rows == [] and list(jobs) == [], name
    rows, _ = run("fan-absent", [(0, "zzqx_absent_term"), (1, "qqzx")])
    assert rows == []


def test_wand_topk_replicated_rows_equal_exact(spark, tiered_stores):
    """On a store built with the default postings_per_shard every posting
    row is one shard, so at query_doc_fan=8 each row is replicated to all
    eight doc groups and masked to each group's docs: wand_topk still
    equals bm25_topk row for row (ties within tolerance) and equals its
    own fan-1 rows exactly."""
    from helpers import assert_ranked_equal

    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import QueryEngine

    full, _, m, dfs = tiered_stores
    shards = full.postings(spark).select("n_shards").distinct().collect()
    assert {r["n_shards"] for r in shards} == {1}
    queries = _tiered_batches(dfs, m)["mixed"]

    def engine(fan):
        return QueryEngine(spark, full, QueryConfig(
            profile="standard", compat="fixed", query_doc_fan=fan))

    got = engine(8).wand_topk(queries, k=10).collect()
    assert _rows_by_rank(got) == _rows_by_rank(engine(1).wand_topk(queries, k=10).collect())
    want = engine(None).bm25_topk(queries, k=10).collect()
    assert {(r["query_id"], r["rank"]) for r in got} == {(r["query_id"], r["rank"]) for r in want}
    by_q = {}
    for side, rows in (("got", got), ("want", want)):
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault((side, r["query_id"]), []).append((r["doc_id"], r["bm25"]))
    for qid, _ in queries:
        assert_ranked_equal(by_q.get(("got", qid), []), by_q.get(("want", qid), []), ctx=f"q{qid}")


@pytest.mark.parametrize("fan", [1, 2, 8, None])
def test_tiered_wand_topk_parity_across_fans_and_batches(spark, tiered_stores, fan):
    """Both tiers run as one plan: at every doc-group fan (None = sized to
    the batch) and for every batch shape, the rows equal full-store
    wand_topk row for row, and each query's tier1 flag is the df ≤ m
    certificate of its last text with terms."""
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import QueryEngine, tiered_wand_topk
    from tiny_search_engine_spark.tokenizer import tokenize_with_stats

    full, pruned, m, dfs = tiered_stores
    df_by_sign = {
        r["term_sign"]: r["df"]
        for r in full.term_stats(spark).select("term_sign", "df").collect()
    }
    base = QueryConfig(profile="standard", compat="fixed")
    cfg = QueryConfig(profile="standard", compat="fixed", query_doc_fan=fan)
    for name, queries in _tiered_batches(dfs, m).items():
        got = tiered_wand_topk(spark, full, pruned, queries, k=10, cfg=cfg).collect()
        want = QueryEngine(spark, full, base).wand_topk(queries, k=10).collect()
        assert _rows_by_rank(got) == _rows_by_rank(want), name
        last = {}
        for qid, q in queries:
            if tokenize_with_stats(q, "ws")[2] or qid not in last:
                last[qid] = q
        cert = {
            qid: all(df_by_sign.get(s, 0) <= m for s in tokenize_with_stats(q, "ws")[2])
            for qid, q in last.items()
        }
        for r in got:
            assert r["tier1"] == cert[r["query_id"]], (name, r["query_id"])
        if name == "empty_or_absent":
            assert got == []
        if name == "dup_qid":
            assert cert == {400: True, 401: False, 402: True, 403: False}
            assert {r["query_id"] for r in got} == {400, 401, 402, 403}


def test_tiered_wand_topk_opens_stores_once(spark, tiered_stores):
    """A second tiered call on the same SegmentStore objects reuses their
    opened tables: it submits fewer Spark jobs than the first (no file
    listing or schema job), and returns the same rows."""
    from tiny_search_engine_spark.build import SegmentStore
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import tiered_wand_topk

    full0, pruned0, m, dfs = tiered_stores
    full, pruned = SegmentStore(full0.root), SegmentStore(pruned0.root)
    queries = _tiered_batches(dfs, m)["mixed"]
    cfg = QueryConfig(profile="standard", compat="fixed")
    sc = spark.sparkContext
    jobs, rows = [], []
    try:
        for call in ("first", "second"):
            sc.setJobGroup(f"tiered-open-{call}", call)
            rows.append(tiered_wand_topk(spark, full, pruned, queries, k=10, cfg=cfg).collect())
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"tiered-open-{call}")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs[1] < jobs[0], jobs
    assert _rows_by_rank(rows[0]) == _rows_by_rank(rows[1])


def test_segment_store_opened_sees_rebuilt_table(spark, tmp_path):
    """A held SegmentStore whose tables are rebuilt into the same root
    reads the new rows through opened(), not a stale file index."""
    import shutil

    from tiny_search_engine_spark.build import BuildConfig, SegmentStore, build_index
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import QueryEngine

    root = str(tmp_path / "store")
    cfg = BuildConfig(tokenizer="ws", write_tokens=False)

    def build(texts):
        shutil.rmtree(root, ignore_errors=True)
        src = spark.createDataFrame(
            [("r", f"f{i}", "c", "code", t) for i, t in enumerate(texts)],
            "repo string, path string, commit string, lang string, content string",
        )
        build_index(spark, src, root, cfg)

    def terms(df):
        return sorted(r["term"] for r in df.select("term").collect())

    build(["alpha beta", "beta gamma"])
    held = SegmentStore(root)
    assert terms(held.opened(spark, "term_stats")) == ["alpha", "beta", "gamma"]
    qcfg = QueryConfig(profile="standard", compat="fixed")
    assert QueryEngine(spark, held, qcfg).wand_topk([(0, "delta")], k=5).collect() == []
    build(["delta epsilon", "zeta eta", "theta"])
    assert terms(held.opened(spark, "term_stats")) == [
        "delta", "epsilon", "eta", "theta", "zeta"
    ]
    got = QueryEngine(spark, held, qcfg).wand_topk([(0, "delta")], k=5).collect()
    fresh = QueryEngine(spark, SegmentStore(root), qcfg).wand_topk([(0, "delta")], k=5)
    assert len(got) == 1
    assert _rows_by_rank(got) == _rows_by_rank(fresh.collect())


def test_wand_reads_pre_v2_store_without_idf(spark, tiered_stores, tmp_path):
    """A store whose postings have no idf column (written before idf
    moved into the posting rows) is scored through the broadcast
    term_stats idf join: wand_topk, and tiered_wand_topk with it as the
    full tier, return the same rows as on the original store."""
    import shutil

    from tiny_search_engine_spark.build import SegmentStore
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import QueryEngine, tiered_wand_topk

    full, pruned, m, dfs = tiered_stores
    old = SegmentStore(str(tmp_path / "pre_v2"))
    shutil.copytree(full.root, old.root)
    shutil.rmtree(old.postings_path)
    full.postings(spark).drop("idf").write.partitionBy("bucket").parquet(old.postings_path)
    assert "idf" not in old.postings(spark).columns
    cfg = QueryConfig(profile="standard", compat="fixed")
    queries = _tiered_batches(dfs, m)["mixed"]
    want = QueryEngine(spark, full, cfg).wand_topk(queries, k=10).collect()
    got = QueryEngine(spark, old, cfg).wand_topk(queries, k=10).collect()
    assert want and sorted(got) == sorted(want)
    want_t = tiered_wand_topk(spark, full, pruned, queries, k=10, cfg=cfg).collect()
    got_t = tiered_wand_topk(spark, old, pruned, queries, k=10, cfg=cfg).collect()
    assert not all(r["tier1"] for r in want_t)  # the fallback tier is reached
    assert sorted(got_t) == sorted(want_t)


def test_prune_store_reuse_out_dir(spark, zipf_docs, tmp_path):
    """Re-pruning into the SAME out_dir with a different m must not
    serve stale stages: prune_store wipes the derived store up front, so
    the second prune's postings/lineage reflect the new m (regression:
    resume=True used to keep the old _SUCCESS-marked term_stats/postings
    against the new doc_term)."""
    import json
    import os

    from tiny_search_engine_spark.build import BuildConfig, build_index, prune_store

    rows = [
        (f"r{i // 50}", f"f{i}.txt", "c0", "code", t)
        for i, t in enumerate(_zipf_texts(seed=31))
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    full = build_index(
        spark, src, str(tmp_path / "full"),
        BuildConfig(tokenizer="ws", write_tokens=False),
    )
    out = str(tmp_path / "pruned")
    p1 = prune_store(spark, full, out, m=200)
    n1 = json.load(open(os.path.join(p1.lineage_path, "postings.json")))["n_postings"]
    p2 = prune_store(spark, full, out, m=20)
    n2 = json.load(open(os.path.join(p2.lineage_path, "postings.json")))["n_postings"]
    assert n2 < n1, (n1, n2)
    assert p2.meta()["prune_m"] == 20
    # collection stats stay pinned to the source on both prunes
    assert p2.meta()["n_docs"] == full.meta()["n_docs"]
    assert p2.meta()["avg_doc_len"] == full.meta()["avg_doc_len"]
    # per-term lists in the re-pruned store are really <= 20
    dt = p2.doc_term(spark)
    from pyspark.sql import functions as F2

    mx = dt.groupBy("term_sign").count().agg(F2.max("count")).collect()[0][0]
    assert mx <= 20, mx


def test_choose_tier_m_hits_target_on_zipf(spark, zipf_docs):
    """choose_tier_m derives m from a target tier-1 rate over the query
    log: the returned m must achieve >= target tier-1 fraction under
    tiered_topk (guaranteed — it is the exact per-query max-df
    quantile), and m-1 must NOT (minimality), on the Zipf fixture's
    tail-skewed, 10%-head-poisoned load."""
    dfs = {
        r["term"]: r["n"]
        for r in zipf_docs.select(
            F.explode(F.array_distinct(F.split("text", " "))).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    head = sorted(t for t, n in dfs.items() if n > 60)
    tail = sorted(t for t, n in dfs.items() if 2 <= n <= 60)
    queries = [(i, f"{tail[3 * i]} {tail[3 * i + 1]}") for i in range(40)]
    queries += [
        (40 + i, f"{head[i % len(head)]} {tail[5 * i + 2]}") for i in range(10)
    ]
    target = 0.8
    m = retrieval.choose_tier_m(zipf_docs, queries, target_tier1=target)
    maxdfs = sorted(
        max(dfs.get(t, 0) for t in q.split()) for _, q in queries
    )
    frac_at = lambda mm: sum(1 for v in maxdfs if v <= mm) / len(maxdfs)
    assert frac_at(m) >= target, (m, frac_at(m))
    assert m == 1 or frac_at(m - 1) < target, (m, frac_at(m - 1))
    # and the serving path agrees with the prediction
    out = retrieval.tiered_topk(zipf_docs, queries, m=m, k=10)
    flags = {
        r["query_id"]: r["tier1"]
        for r in out.select("query_id", "tier1").distinct().collect()
    }
    served = sum(flags.values()) / len(flags)
    assert served >= target, served
    # the tail-only slice should be servable with a SMALL m: the helper
    # must not return a head-sized depth
    assert m <= max(dfs[t] for t in tail)


def test_choose_prune_m_store_level(spark, tiny_store, tmp_path):
    """Store-level choose_prune_m: prune_store at the returned m serves
    >= target of the query log tier-1 under tiered_wand_topk, with
    results still exact full BM25."""
    from tiny_search_engine_spark.build import prune_store
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import (
        QueryEngine,
        choose_prune_m,
        tiered_wand_topk,
    )
    from tiny_search_engine_spark.synth import make_queries

    qs = [(i, q) for i, q in enumerate(make_queries(30, seed=11))]
    target = 0.7
    m = choose_prune_m(spark, tiny_store, qs, target_tier1=target)
    pruned = prune_store(spark, tiny_store, str(tmp_path / "pr"), m=m)
    qcfg = QueryConfig(profile="standard", compat="fixed")
    served = tiered_wand_topk(spark, tiny_store, pruned, qs, k=10, cfg=qcfg)
    rows = served.collect()
    # the >= target guarantee is over the WHOLE query log (queries with
    # zero result rows are still routed); replay the certificate
    from tiny_search_engine_spark.tokenizer import tokenize_with_stats

    mode = tiny_store.meta()["tokenizer"]
    df_map = {
        r["term_sign"]: r["df"]
        for r in tiny_store.term_stats(spark).select("term_sign", "df").collect()
    }
    cert = {
        qid: all(
            df_map.get(s, 0) <= m for s in tokenize_with_stats(q, mode)[2]
        )
        for qid, q in qs
    }
    frac = sum(cert.values()) / len(cert)
    assert frac >= target, (m, frac)
    # and the serving flags agree with the certificate where rows exist
    flags = {}
    for r in rows:
        flags.setdefault(r["query_id"], r["tier1"])
    for qid, fl in flags.items():
        assert fl == cert[qid], (qid, fl)
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["bm25"], 9))
        for r in QueryEngine(spark, tiny_store, qcfg).wand_topk(qs, k=10).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["bm25"], 9))
        for r in rows
    }
    assert got == want
