"""Fast-path build (fused map-side tokenize+reduce, no token table) must
produce the same term_stats, doc stats, and postings as the parity-path
build over the same corpus."""

import math

import pytest

from tiny_search_engine_spark.build import BuildConfig, build_index
from tiny_search_engine_spark.compress import decode_posting
from tiny_search_engine_spark.synth import make_stopwords, source_files

N = 150


def _postings(spark, store):
    out = {}
    for r in store.postings(spark).collect():
        d, t, dl = decode_posting(bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), bytes(r["dl_bytes"]))
        out.setdefault(r["term_sign"], []).extend(zip(d.tolist(), t.tolist(), dl.tolist()))
    return {k: sorted(v) for k, v in out.items()}


def test_fast_path_equals_parity_path(spark, tmp_path):
    src = source_files(spark, N, seed=31)
    stop = frozenset(make_stopwords())
    slow = build_index(
        spark, src, str(tmp_path / "slow"), BuildConfig(stopwords=stop, write_tokens=True)
    )
    fast = build_index(
        spark, src, str(tmp_path / "fast"), BuildConfig(stopwords=stop, write_tokens=False)
    )
    ts_s = {r["term_sign"]: (r["df"], r["ttf"], r["idf"]) for r in slow.term_stats(spark).collect()}
    ts_f = {r["term_sign"]: (r["df"], r["ttf"], r["idf"]) for r in fast.term_stats(spark).collect()}
    assert ts_s == ts_f
    assert _postings(spark, slow) == _postings(spark, fast)
    ds_s = {r["doc_id"]: r for r in slow.docs(spark).collect()}
    ds_f = {r["doc_id"]: r for r in fast.docs(spark).collect()}
    assert set(ds_s) == set(ds_f)
    for k in ds_s:
        assert ds_s[k]["doc_len"] == ds_f[k]["doc_len"]
        assert ds_s[k]["n_terms"] == ds_f[k]["n_terms"]
        assert math.isclose(ds_s[k]["vec_module"], ds_f[k]["vec_module"], rel_tol=1e-9)
        assert math.isclose(ds_s[k]["wei_sum"], ds_f[k]["wei_sum"], rel_tol=1e-9)
    assert slow.meta()["avg_doc_len"] == fast.meta()["avg_doc_len"]
    assert fast.meta()["write_tokens"] is False


@pytest.mark.parametrize("write_tokens", [False, True])
def test_build_with_pre_term_sign(spark, tmp_path, write_tokens):
    """BuildConfig.write_pre_term_sign adds the adjacency column to the
    stored doc_term and changes nothing else (query paths ignore it) —
    on BOTH the fused fast path and the tokens-table parity path."""
    from tiny_search_engine_spark.build import BuildConfig, build_index
    from tiny_search_engine_spark.synth import source_files
    from tiny_search_engine_spark.tokenizer import tokenize_with_stats
    from tiny_search_engine_spark.hashing import doc_sign
    from tiny_search_engine_spark.synth import source_files_local

    src = source_files(spark, 40, seed=3)
    store = build_index(
        spark, src, str(tmp_path / f"st{int(write_tokens)}"),
        BuildConfig(write_tokens=write_tokens, write_pre_term_sign=True),
    )
    dt = store.doc_term(spark)
    assert "pre_term_sign" in dt.columns
    got = {
        (r["doc_id"], r["term_sign"]): r["pre_term_sign"]
        for r in dt.select("doc_id", "term_sign", "pre_term_sign").collect()
    }
    checked = 0
    for d in source_files_local(40, seed=3):
        did = doc_sign(d["repo"], d["path"], d["commit"])
        _t, _d, tm = tokenize_with_stats(d["content"], "code")
        for s, ent in tm.items():
            assert got[(did, s)] == ent[3], (did, s)
            checked += 1
    assert checked > 100


def test_prune_store_refuses_non_store_dir(spark, tmp_path):
    """prune_store must not rmtree an arbitrary non-store directory
    (a mistyped --out); force=True overrides explicitly."""
    from tiny_search_engine_spark.build import prune_store

    src = source_files(spark, 60, seed=13)
    store = build_index(spark, src, str(tmp_path / "src"), BuildConfig())
    victim = tmp_path / "precious"
    victim.mkdir()
    (victim / "data.txt").write_text("do not delete")
    with pytest.raises(ValueError, match="refusing to wipe"):
        prune_store(spark, store, str(victim), m=5)
    assert (victim / "data.txt").exists()
    out = prune_store(spark, store, str(victim), m=5, force=True)
    assert out.postings(spark).count() > 0
    # re-prune over the (now) store dir needs no force
    out2 = prune_store(spark, store, str(victim), m=5)
    assert out2.postings(spark).count() > 0
