"""Index-build parity: the Spark segment store must equal the golden model
on term stats, postings, doc stats, and the per-row sha256 invariant."""

import hashlib
import json
import math
import os

import numpy as np
from pyspark.sql import functions as F

from tiny_search_engine_spark.compress import decode_posting


def test_term_stats_parity(spark, tiny_store, tiny_golden):
    got = {
        r["term_sign"]: r
        for r in tiny_store.term_stats(spark).collect()
    }
    want = tiny_golden.term_stats_rows()
    assert len(got) == len(want)
    for sign, term, term_len, df, ttf, idf in want:
        g = got[sign]
        assert g["term"].lower() == term.lower(), term
        assert g["term_len"] == term_len
        assert g["df"] == df, term
        assert g["ttf"] == ttf, term
        assert math.isclose(g["idf"], idf, rel_tol=1e-12), (term, g["idf"], idf)


def test_postings_parity_and_sharding(spark, tiny_store, tiny_golden):
    rows = tiny_store.postings(spark).collect()
    got: dict[int, list] = {}
    for r in rows:
        d, t, dl = decode_posting(bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), bytes(r["dl_bytes"]))
        assert (d[:-1] < d[1:]).all()  # strictly sorted within shard
        assert r["n_docs"] == len(d)
        got.setdefault(r["term_sign"], []).extend(zip(d.tolist(), t.tolist()))
    want = tiny_golden.postings_rows()
    assert set(got) == set(want)
    n_sharded = 0
    shard_counts: dict[int, int] = {}
    for r in rows:
        shard_counts[r["term_sign"]] = shard_counts.get(r["term_sign"], 0) + 1
    for sign, plist in want.items():
        assert sorted(got[sign]) == sorted(plist), sign
        if shard_counts[sign] > 1:
            n_sharded += 1
    # skew splitting actually engaged for heavy terms at this tiny shard cap
    assert n_sharded > 0


def test_doc_stats_parity(spark, tiny_store, tiny_golden):
    got = {r["doc_id"]: r for r in tiny_store.docs(spark).collect()}
    want = tiny_golden.doc_stats_rows()
    assert len(got) == len(want)
    for doc_id, doc_len, n_terms, vec_module, wei_sum in want:
        g = got[doc_id]
        assert g["doc_len"] == doc_len
        assert g["n_terms"] == n_terms
        assert math.isclose(g["vec_module"], vec_module, rel_tol=1e-9)
        assert math.isclose(g["wei_sum"], wei_sum, rel_tol=1e-9)


def test_meta_and_avg_doc_len(tiny_store, tiny_golden):
    meta = tiny_store.meta()
    assert meta["n_docs"] == len(tiny_golden.docs)
    assert math.isclose(meta["avg_doc_len"], tiny_golden.avg_doc_len, rel_tol=1e-12)


def test_content_sha256_invariant(spark, tiny_store, tiny_corpus):
    got = {
        r["doc_id"]: r["content_sha256"]
        for r in tiny_store.docs(spark).select("doc_id", "content_sha256").collect()
    }
    from tiny_search_engine_spark.hashing import doc_sign

    for d in tiny_corpus:
        ds = doc_sign(d["repo"], d["path"], d["commit"])
        assert got[ds] == hashlib.sha256(d["content"].encode()).hexdigest()


def test_lineage_written(tiny_store):
    stages = {"docs_raw", "tokens", "doc_term", "term_stats", "doc_stats", "postings", "build"}
    present = {f[:-5] for f in os.listdir(tiny_store.lineage_path) if f.endswith(".json")}
    assert stages <= present
    with open(os.path.join(tiny_store.lineage_path, "postings.json")) as f:
        pl = json.load(f)
    assert pl["n_postings"] > 0
    assert pl["skew_factor"] >= 1.0
    assert len(pl["per_bucket"]) > 0


def test_stopwords_absent_from_postings(spark, tiny_store, stopwords):
    from tiny_search_engine_spark.hashing import term_sign

    signs = [term_sign(w) for w in stopwords]
    assert (
        tiny_store.postings(spark).filter(F.col("term_sign").isin(signs)).count() == 0
    )
    assert (
        tiny_store.term_stats(spark).filter(F.col("term_sign").isin(signs)).count() == 0
    )


def test_sorted_run_postings_match_driver_encoding(spark, stopwords, tmp_path):
    """The sort-based posting build (shuffle + sortWithinPartitions +
    contiguous-run encode) equals, bit for bit and for every
    (term_sign, shard) list, compress.encode_posting run on the driver
    over the store's own doc_term (stopwords removed, shards recomputed
    with range_shard). A 7-row Arrow batch forces the encoder's
    cross-batch carry; 64 postings per shard forces multi-shard lists."""
    from collections import defaultdict

    from tiny_search_engine_spark.build import BuildConfig, build_index
    from tiny_search_engine_spark.compress import encode_posting, range_shard
    from tiny_search_engine_spark.hashing import term_sign
    from tiny_search_engine_spark.synth import source_files

    src = source_files(spark, 120, seed=42)
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        cfg = BuildConfig(
            tokenizer="code",
            stopwords=frozenset(stopwords),
            postings_per_shard=64,
            block_size=16,
            write_tokens=False,
        )
        store = build_index(spark, src, str(tmp_path / "store"), cfg)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)

    stop = {term_sign(w) for w in stopwords}
    stats = {
        r["term_sign"]: (r["n_shards"], r["idf"])
        for r in store.term_stats(spark).collect()
    }
    lists = defaultdict(list)
    for r in store.doc_term(spark).select("term_sign", "doc_id", "tf", "doc_len").collect():
        if r["term_sign"] not in stop:
            lists[r["term_sign"]].append((r["doc_id"], r["tf"], r["doc_len"]))
    want = {}
    for ts, rows in lists.items():
        rows.sort()  # doc_id ascending, as the partition sort delivers it
        d, t, dl = (np.array(c, dtype=np.int64) for c in zip(*rows))
        n_shards, idf = stats[ts]
        shard = range_shard(d, n_shards)
        for sh in np.unique(shard):
            sel = shard == sh
            enc = encode_posting(d[sel], t[sel], dl[sel], block_size=16, presorted=True)
            want[(ts, int(sh))] = (
                enc.doc_bytes, enc.tf_bytes, enc.dl_bytes, enc.n_docs,
                enc.block_last, enc.block_max_tf, enc.block_min_dl,
                n_shards, idf,
            )
    got = {
        (r["term_sign"], r["shard"]): (
            bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), bytes(r["dl_bytes"]),
            r["n_docs"], list(r["block_last"]), list(r["block_max_tf"]),
            list(r["block_min_dl"]), r["n_shards"], r["idf"],
        )
        for r in store.postings(spark).collect()
    }
    assert got == want
    # the settings did reach the paths they are meant to force
    assert any(sh > 0 for _, sh in got)  # multi-shard lists
    assert any(v[3] > 16 for v in got.values())  # multi-block, multi-batch runs
