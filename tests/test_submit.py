"""spark-submit --py-files packaging + jobs CLI (north rule: the job runs
via spark-submit --py-files on multi-executor clusters).

The heavy test launches a REAL spark-submit child at local[2] with the
package shipped ONLY via --py-files (cwd outside the repo, so an import
that accidentally relies on the checkout would fail), builds a store from
a parquet source, then queries it — the exact production invocation shape.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from tiny_search_engine_spark.jobs import _read_queries, table_io
from tiny_search_engine_spark.synth import source_files


def test_read_queries_formats(tmp_path):
    p = tmp_path / "q.tsv"
    p.write_text("7\tbinary search tree\nplain query line\n\n42\tx\n", encoding="utf-8")
    assert _read_queries(str(p)) == [
        (7, "binary search tree"),
        (1, "plain query line"),
        (42, "x"),
    ]


def test_table_io_parquet_and_tsv(spark, tmp_path):
    src = source_files(spark, 50, seed=1)
    pq = str(tmp_path / "src.parquet")
    src.write.parquet(pq)
    got = table_io(spark, pq)
    assert set(got.columns) == {"repo", "path", "commit", "lang", "content"}
    assert got.count() == 50

    tsv = tmp_path / "corpus.tsv"
    tsv.write_text(
        "q\told title\thttp://u1\t0\nq\tnew title\thttp://u1\t0\nq\tother doc\thttp://u2\t1\n",
        encoding="utf-8",
    )
    rows = {r.path: r.content for r in table_io(spark, f"tsv:{tsv}").collect()}
    # last version wins for the CLI build path
    assert rows == {"http://u1": "new title", "http://u2": "other doc"}

    with pytest.raises(ValueError, match="unknown source scheme"):
        table_io(spark, "bogus:whatever")


def test_make_pyfiles_deterministic(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_pyfiles import build_zip

    z1, z2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    entries = build_zip(z1)
    build_zip(z2)
    assert open(z1, "rb").read() == open(z2, "rb").read()
    assert "tiny_search_engine_spark/jobs.py" in entries
    assert all(e.endswith(".py") for e in entries)
    with zipfile.ZipFile(z1) as z:
        assert "tiny_search_engine_spark/query.py" in z.namelist()


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    """Build + query through a real spark-submit child with --py-files."""
    pq = str(tmp_path / "src.parquet")
    source_files(spark, 200, seed=42).write.parquet(pq)

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_pyfiles import build_zip

    zip_path = str(tmp_path / "tse.zip")
    build_zip(zip_path)
    qfile = tmp_path / "q.tsv"
    qfile.write_text("0\tdef main\n1\treturn result\n", encoding="utf-8")
    store = str(tmp_path / "store")
    hits = str(tmp_path / "hits.parquet")

    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK")}
    env["PYSPARK_PYTHON"] = sys.executable
    # cwd OUTSIDE the repo: the package must come from --py-files alone
    common = [
        "spark-submit",
        "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", zip_path,
        os.path.join(REPO, "scripts", "tse_job.py"),
    ]
    r = subprocess.run(
        common + ["build", "--source", pq, "--out", store, "--verify-sha256"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["n_docs"] == 200
    assert summary["sha256_mismatches"] == 0

    r = subprocess.run(
        common + ["query", "--store", store, "--queries", str(qfile),
                  "--k", "5", "--out", hits],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    res = spark.read.parquet(hits)
    assert set(res.columns) >= {"query_id", "rank", "doc_id", "bm25"}
    assert res.count() > 0
    assert res.select("query_id").distinct().count() == 2


def test_select_subcommand(spark, tmp_path, capsys):
    """`tse_job select`: DSIR-select k docs from a raw source toward a
    target source; output parquet carries (rank, log_weight); same salt
    reselects identically, a different salt does not."""
    from tiny_search_engine_spark.jobs import main_select

    raw_pq = str(tmp_path / "raw.parquet")
    tgt_pq = str(tmp_path / "tgt.parquet")
    src = source_files(spark, 120, seed=3)
    src.write.parquet(raw_pq)
    # target = a deterministic slice of the corpus (what we want more of)
    src.limit(30).write.parquet(tgt_pq)

    out1 = str(tmp_path / "sel1")
    rc = main_select([
        "--source", raw_pq, "--target", tgt_pq, "--k", "25",
        "--n-buckets", "4096", "--out", out1,
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["selected"] == 25 and summary["k"] == 25
    got = spark.read.parquet(out1)
    assert {"repo", "path", "content", "rank", "log_weight"} <= set(got.columns)
    assert got.count() == 25
    ids1 = sorted(r.doc_id for r in got.collect())

    out2 = str(tmp_path / "sel2")
    main_select([
        "--source", raw_pq, "--target", tgt_pq, "--k", "25",
        "--n-buckets", "4096", "--out", out2,
    ])
    assert sorted(r.doc_id for r in spark.read.parquet(out2).collect()) == ids1

    out3 = str(tmp_path / "sel3")
    main_select([
        "--source", raw_pq, "--target", tgt_pq, "--k", "25",
        "--n-buckets", "4096", "--salt", "fold2", "--out", out3,
    ])
    assert sorted(r.doc_id for r in spark.read.parquet(out3).collect()) != ids1


def test_classify_subcommand(spark, tmp_path, capsys):
    """`tse_job classify`: NB-train on a labeled corpus, tag a target
    corpus; output carries (pred_label, log_score) and the JSON summary
    histograms the predictions."""
    from pyspark.sql import functions as F

    from tiny_search_engine_spark.jobs import main_classify

    pq = str(tmp_path / "corpus.parquet")
    src = source_files(spark, 80, seed=5)
    src.write.parquet(pq)
    out = str(tmp_path / "tagged")
    rc = main_classify(["--train", pq, "--source", pq, "--out", out])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["classified"] == 80
    got = spark.read.parquet(out)
    assert {"repo", "path", "lang", "content", "pred_label", "log_score"} <= set(
        got.columns
    )
    assert got.count() == 80
    langs = {r["lang"] for r in src.select("lang").distinct().collect()}
    assert {r["pred_label"] for r in got.collect()} <= langs
    # per-language keyword vocab (synth._KEYWORDS) makes self-trained NB
    # recover the language for most docs
    acc = got.filter(F.col("pred_label") == F.col("lang")).count() / 80
    assert acc >= 0.6, acc


def test_prune_subcommand(spark, tmp_path, capsys):
    """`tse_job prune`: store-to-store static pruning — summary reports
    the posting-mass reduction, the pruned store serves WAND, and a
    tail-term query (df <= m) returns results identical to the source
    store."""
    from tiny_search_engine_spark.build import BuildConfig, build_index
    from tiny_search_engine_spark.config import QueryConfig
    from tiny_search_engine_spark.jobs import main_prune
    from tiny_search_engine_spark.query import QueryEngine

    src = source_files(spark, 150, seed=13)
    full = build_index(
        spark, src, str(tmp_path / "full"),
        BuildConfig(write_tokens=False),
    )
    out = str(tmp_path / "pruned")
    rc = main_prune(["--store", full.root, "--out", out, "--m", "40"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["pruned_n_postings"] < summary["source_n_postings"]
    assert summary["n_docs"] == full.meta()["n_docs"]
    # pick a genuinely-tail term and pin bit-identical serving
    ts = full.term_stats(spark)
    term = (
        ts.filter("df >= 3 AND df <= 40").orderBy("term_sign").first()["term"]
    )
    from tiny_search_engine_spark.build import SegmentStore

    qe_f = QueryEngine(spark, full, QueryConfig(profile="standard"))
    qe_p = QueryEngine(spark, SegmentStore(out), QueryConfig(profile="standard"))
    rf = [(r["rank"], r["doc_id"], r["bm25"]) for r in qe_f.wand_topk([(0, term)], k=10).collect()]
    rp = [(r["rank"], r["doc_id"], r["bm25"]) for r in qe_p.wand_topk([(0, term)], k=10).collect()]
    assert rf and sorted(rf) == sorted(rp)


def test_prune_subcommand_auto_m_and_incremental(spark, tmp_path, capsys):
    """`tse_job prune --auto-m-queries/--target-tier1` derives m from the
    workload (choose_prune_m), and `--incremental --prev --delta-ids`
    routes through prune_store_incremental, inheriting the previous
    store's m and snapshot (and refusing --m / --auto-m-queries /
    --target-tier1, which it could not honour)."""
    from tiny_search_engine_spark.build import (
        BuildConfig,
        SegmentStore,
        build_index,
        with_doc_id,
    )
    from tiny_search_engine_spark.jobs import main_prune
    from tiny_search_engine_spark.query import choose_prune_m
    from tiny_search_engine_spark.synth import make_queries

    src_df = source_files(spark, 120, seed=29)
    full = build_index(
        spark, src_df, str(tmp_path / "full"), BuildConfig(write_tokens=False)
    )
    qfile = tmp_path / "q.tsv"
    qfile.write_text(
        "".join(f"{i}\t{q}\n" for i, q in enumerate(make_queries(20, seed=3)))
    )
    out = str(tmp_path / "pruned")
    rc = main_prune([
        "--store", full.root, "--out", out,
        "--auto-m-queries", str(qfile), "--target-tier1", "0.75",
    ])
    assert rc == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    auto = next(ln for ln in lines if "auto_m" in ln)
    want_m = choose_prune_m(
        spark, full,
        [(i, q) for i, q in enumerate(make_queries(20, seed=3))],
        0.75,
    )
    assert auto["auto_m"] == want_m

    # incremental: extend the corpus, rebuild full, maintain the champion
    more = source_files(spark, 150, seed=29)
    delta = more.join(src_df, ["repo", "path", "commit"], "left_anti")
    full2 = build_index(
        spark, more, str(tmp_path / "full2"), BuildConfig(write_tokens=False)
    )
    dpath = str(tmp_path / "delta_ids")
    with_doc_id(delta).select("doc_id").write.parquet(dpath)
    out2 = str(tmp_path / "pruned2")
    rc = main_prune([
        "--store", full2.root, "--out", out2,
        "--incremental", "--prev", out, "--delta-ids", dpath,
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["m"] == want_m
    inc = SegmentStore(out2)
    assert inc.meta()["prune_m"] == want_m
    assert inc.meta()["incremental_from"] == out
    assert inc.postings(spark).count() > 0

    # m comes from --prev, so the flags that would choose another m are
    # refused rather than silently ignored — the 0.8 default included
    for extra in (["--m", "4"], ["--auto-m-queries", str(qfile)],
                  ["--target-tier1", "0.8"]):
        with pytest.raises(SystemExit) as exc:
            main_prune([
                "--store", full2.root, "--out", str(tmp_path / "pruned3"),
                "--incremental", "--prev", out, "--delta-ids", dpath, *extra,
            ])
        assert exc.value.code == 2
        assert extra[0] in capsys.readouterr().err
    assert not os.path.exists(tmp_path / "pruned3")
