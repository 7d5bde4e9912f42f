"""Small-surface parity: A2 config parser, D11 significant-digit rounding,
C8 highlight, E-table scalar equivalences."""

import math

from tiny_search_engine_spark.config_file import ConfigFile
from tiny_search_engine_spark.features import export_feature_map, round_sig


def test_config_file_parsing(tmp_path):
    p = tmp_path / "sys.conf"
    p.write_text(
        "# comment\n"
        "INDEX_FILE : ./index/url.list.utf8\n"
        "MAX_RESULT_NUM : 20\n"
        "THRESHOLD:0.75\n"
        "FLAG : true\n"
        "MAX_RESULT_NUM : 30\n"  # later duplicate wins
        "no_colon_line\n"
    )
    c = ConfigFile(str(p))
    assert c.get_str("INDEX_FILE") == "./index/url.list.utf8"
    assert c.get_int("MAX_RESULT_NUM") == 30
    assert c.get_float("THRESHOLD") == 0.75
    assert c.get_bool("FLAG") is True
    assert c.get_int("MISSING", 7) == 7
    assert c.get_int("INDEX_FILE", 9) == 9  # unparsable → default


def test_round_sig_is_significant_digits():
    # the reference rounds to 3 SIGNIFICANT digits (math_util.h:153-159),
    # not 3 decimals: 0.0123456 → 0.0123, 123.456 → 123
    assert round_sig(0.0123456) == 0.0123
    assert round_sig(123.456) == 123.0
    assert round_sig(0.000999999) == 0.001
    assert round_sig(-5.6789) == -5.68
    assert round_sig(0.0) == 0.0
    assert math.isinf(round_sig(float("inf")))


def test_export_feature_map():
    out = export_feature_map({"F_QU_BM25": 12.3456, "F_QU_VSM": 0.98765})
    assert out == {"F_QU_BM25": 12.3, "F_QU_VSM": 0.988}


def test_highlight(spark):
    from tiny_search_engine_spark.query import ANSI_NONE, ANSI_RED, highlight

    df = spark.createDataFrame(
        [(1, "def merge(index): return index")], "doc_id long, content string"
    )
    out = highlight(df, "merge index").collect()[0]["content_highlighted"]
    assert f"{ANSI_RED}merge{ANSI_NONE}" in out
    assert out.count(f"{ANSI_RED}index{ANSI_NONE}") == 2
    assert "def" in out and f"{ANSI_RED}def" not in out


def test_scalar_surface_equivalents(spark):
    """E-table spot checks (SURVEY.md §2 E): Spark builtins match the
    reference's scalar semantics."""
    from pyspark.sql import functions as F

    row = (
        spark.createDataFrame([("Hello", "kitten", "sitting", "日本語abc")], "a string, b string, c string, u string")
        .select(
            F.lower("a").alias("lo"),
            F.levenshtein("b", "c").alias("ed"),
            F.length("u").alias("chars"),  # unicode chars, not bytes
            F.xxhash64(F.lower(F.lit("ABC"))).alias("sign"),
        )
        .collect()[0]
    )
    assert row["lo"] == "hello"
    assert row["ed"] == 3
    assert row["chars"] == 6
    from tiny_search_engine_spark.hashing import term_sign

    assert row["sign"] == term_sign("ABC") == term_sign("abc")


def test_ltr_rerank_linear_model(spark):
    """D12 plumbing: feature.conf densification order + batch predict +
    model-score re-sort (xgboost itself is import-gated like the
    reference's #ifdef XGBOOST default-off)."""
    import numpy as np
    import pytest

    from tiny_search_engine_spark import ltr

    # default = the reference's EFFECTIVE mapping: fid by accepted-line
    # order (xgboost_mgr.cpp:74-76, the stoi on the id column is
    # commented out) — 32 dense columns 0..31
    ids = ltr.load_feature_conf()
    assert len(ids) == 32  # uncommented feature.conf entries
    assert sorted(ids.values()) == list(range(32))
    assert ids["F_Q_LEN"] == 0 and ids["F_QU_BM25"] == 30
    # the commented-out file-id semantics stay available for comparison
    fids = ltr.load_feature_conf(use_line_order=False)
    assert fids["F_QU_BM25"] == 4 and fids["F_Q_LEN"] == 37

    row = ltr.featurize({"F_QU_BM25": 2.5, "F_QU_VSM": 0.5, "F_UNKNOWN": 9.0}, ids)
    assert row.shape == (32,)
    assert row[30] == 2.5 and row[29] == 0.5 and row.sum() == 3.0

    rows = [
        (0, 1, {"F_QU_BM25": 2.0, "F_QU_VSM": 0.5}),
        (0, 2, {"F_QU_BM25": 1.0, "F_QU_VSM": 0.9}),
        (1, 3, {"F_QU_BM25": 3.0}),
    ]
    df = spark.createDataFrame(rows, "query_id long, doc_id long, features map<string,double>")
    w = np.zeros(32)
    w[ids["F_QU_BM25"]] = 1.0
    w[ids["F_QU_VSM"]] = 10.0
    out = ltr.rerank(df, ltr.LinearModel(weights=w), ids).collect()
    got = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["final_score"], 6)) for r in out}
    assert got[(0, 1)] == (2, 10.0)  # 1.0*1 + 0.9*10
    assert got[(0, 2)] == (1, 7.0)
    assert got[(1, 1)] == (3, 3.0)

    with pytest.raises(ImportError):
        ltr.try_load_xgboost("/nonexistent")


def test_ltr_rerank_nan_feature_equals_missing_key(spark):
    """An explicit NaN feature value scores like an absent key (0.0),
    both where the batch has real values for that feature and where it
    has none."""
    import numpy as np

    from tiny_search_engine_spark import ltr

    ids = ltr.load_feature_conf()
    nan = float("nan")
    rows = [
        (0, 1, {"F_QU_BM25": 2.0, "F_QU_VSM": nan}),
        (0, 2, {"F_QU_BM25": 2.0}),
        (1, 3, {"F_QU_BM25": 1.0, "F_QU_VSM": 0.5}),
        (1, 4, {"F_QU_BM25": 1.0, "F_QU_VSM": nan}),
        (1, 5, {"F_QU_BM25": 1.0}),
    ]
    df = spark.createDataFrame(rows, "query_id long, doc_id long, features map<string,double>")
    w = np.zeros(32)
    w[ids["F_QU_BM25"]] = 1.0
    w[ids["F_QU_VSM"]] = 10.0
    got = {
        r["doc_id"]: r["final_score"]
        for r in ltr.rerank(df, ltr.LinearModel(weights=w), ids).collect()
    }
    assert got[1] == got[2] == 2.0
    assert got[4] == got[5] == 1.0
    assert got[3] == 6.0


REF_MODEL = "/root/reference/dict/xgb.ltr.model"


def test_ltr_reference_model_loads_and_scores():
    """D12 with the reference's SHIPPED model: the pure-python legacy
    xgboost binary reader parses dict/xgb.ltr.model and scores golden
    feature vectors; pinned values guard the parse layout and the
    missing-as-default-child traversal (missing=0.0, the xgboost_mgr
    constructor default)."""
    import os

    import numpy as np
    import pytest

    from tiny_search_engine_spark import ltr

    if not os.path.exists(REF_MODEL):
        pytest.skip("reference model absent")
    m = ltr.load_xgb_model(REF_MODEL)
    assert m.name_obj == "rank:pairwise" and m.name_gbm == "gbtree"
    assert m.base_score == pytest.approx(0.5)
    assert len(m.trees) == 500 and set(m.tree_info) == {0}
    assert m.num_feature == 33  # 32 conf columns + one always-missing id
    # every split feature must exist in the trained layout
    for t in m.trees:
        internal = t.cleft != -1
        if internal.any():
            assert int(t.split_index[internal].max()) < m.num_feature
    # pairwise ranking can't use within-query-constant features: F_Q_LEN
    # (line-order id 0) is never split on — the strongest structural
    # evidence that the line-order mapping is the trained layout
    ids = ltr.load_feature_conf()
    assert not any(
        (t.split_index[t.cleft != -1] == ids["F_Q_LEN"]).any() for t in m.trees
    )
    # golden feature vectors → pinned margins (computed once with this
    # reader; regression pin for parse layout + traversal semantics)
    fm_good = {"F_QU_BM25": 0.5, "F_QU_VSM": 0.95, "F_QU_PROXIMITY": 0.81,
               "F_QU_TERM_CNT_CQR": 1.0, "F_QU_STR_LCSEQ_OVER_Q": 0.8,
               "F_Q_TERM_CNT": 3.0, "F_U_TERM_CNT": 8.0, "F_U_LEN": 20.0}
    fm_bad = {"F_QU_BM25": 0.12, "F_QU_VSM": 0.3, "F_QU_PROXIMITY": 0.2,
              "F_QU_MISS": 0.5, "F_QU_EXTRA": 2.0, "F_Q_TERM_CNT": 3.0,
              "F_U_TERM_CNT": 30.0, "F_U_LEN": 60.0}
    X = np.stack([ltr.featurize(fm_good, ids), ltr.featurize(fm_bad, ids)])
    p = m.predict(X)
    assert p[0] == pytest.approx(-0.478586, abs=1e-6)
    assert p[1] == pytest.approx(-0.581189, abs=1e-6)
    assert p[0] > p[1]  # the better match outranks the worse one
    # all-missing row: pure default-child routing, still finite
    p0 = m.predict(np.zeros((1, 32)))
    assert np.isfinite(p0[0])


def test_ltr_reference_model_reranks_engine_features(spark, tiny_store):
    """End-to-end D12: engine feature maps (search(emit_features=True),
    the D11 export) scored by the shipped model through the distributed
    rerank path; the distributed scores must equal the driver-side
    featurize+predict replay exactly, and the rerank order must follow
    (final_score desc, doc_id asc) — table.cpp:669-691 with XGBOOST on."""
    import os

    import numpy as np
    import pytest

    from tiny_search_engine_spark import ltr
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.query import QueryEngine
    from tiny_search_engine_spark.synth import make_queries

    if not os.path.exists(REF_MODEL):
        pytest.skip("reference model absent")
    m = ltr.load_xgb_model(REF_MODEL)
    ids = ltr.load_feature_conf()
    queries = [(i, q) for i, q in enumerate(make_queries(6, seed=42))]
    eng = QueryEngine(
        spark, tiny_store,
        QueryConfig(profile="standard", compat="reference", emit_features=True),
    )
    feats = eng.search(queries, k=8).select("query_id", "doc_id", "features")
    out = ltr.rerank(feats, m, ids).collect()
    assert out
    # distributed == driver-side replay, bit-level
    for r in out:
        want = float(m.predict(ltr.featurize(dict(r["features"]), ids)[None, :])[0])
        assert r["final_score"] == pytest.approx(want, abs=0), (
            r["query_id"], r["doc_id"])
    # rank order is the model-score order with the doc_id tiebreak
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], -r["final_score"], r["doc_id"]))
    for qid, rows in by_q.items():
        rows.sort()
        assert [t[0] for t in rows] == list(range(1, len(rows) + 1)), qid
        assert rows == sorted(rows, key=lambda t: (t[1], t[2])), qid
