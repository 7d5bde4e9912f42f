"""spark-submit entry points: the cluster-facing CLI for build and query.

North rule: "run via spark-submit --py-files on multi-executor clusters".
The package ships as a zip (``python scripts/make_pyfiles.py`` →
``dist/tiny_search_engine_spark.zip``) and the thin launcher
``scripts/tse_job.py`` dispatches here:

    spark-submit --master spark://... --py-files dist/tiny_search_engine_spark.zip \
        scripts/tse_job.py build --source iceberg:warehouse.db.repos --out /store

    spark-submit --py-files dist/tiny_search_engine_spark.zip \
        scripts/tse_job.py query --store /store --queries q.tsv --k 20 --out hits.parquet

    spark-submit --py-files dist/tiny_search_engine_spark.zip \
        scripts/tse_job.py grep --source iceberg:warehouse.db.repos \
        --trigram-store /tgstore --build-store --queries needles.tsv --out hits.parquet

    spark-submit --py-files dist/tiny_search_engine_spark.zip \
        scripts/tse_job.py shards --source iceberg:warehouse.db.repos \
        --bpe-merges 32000 --chunk-len 2048 --out /shards

    spark-submit --py-files dist/tiny_search_engine_spark.zip \
        scripts/tse_job.py select --source iceberg:warehouse.db.crawl \
        --target iceberg:warehouse.db.curated --k 1000000000 --out /selected

    spark-submit --py-files dist/tiny_search_engine_spark.zip \
        scripts/tse_job.py classify --train iceberg:warehouse.db.labeled \
        --source iceberg:warehouse.db.crawl --out /tagged

Under spark-submit the session comes from ``getOrCreate()`` so the
submitted ``--master`` / ``--conf`` / ``--num-executors`` are respected
verbatim (that is how the N-vs-4N-executor scaling runs are launched);
standalone invocation (``python -m tiny_search_engine_spark.jobs``) falls
back to the tuned local factory in session.py.

Source formats (``table_io``, the reader the session.py docstring names):
  * ``iceberg:<catalog.db.table>`` / ``table:<name>`` — catalog table via
    ``spark.read.table``; the Iceberg catalog itself is configured with
    ``--conf spark.sql.catalog...`` at submit time (the runtime jars are
    not in this sandbox, so tests exercise the parquet branch — identical
    schema per BASELINE.json input_hint).
  * ``tsv:<path>`` — the reference's TSV corpus
    (sources/tsv_corpus.py; /root/reference/data/test.1w.utf8 shape).
  * anything else — a parquet path with columns
    (repo, path, commit, lang, content).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession


def job_session(app_name: str) -> SparkSession:
    """Session for a submitted job: respect spark-submit's conf when
    present, else the tuned local factory (session.py).

    Detection: spark-submit's PythonRunner starts the gateway JVM first and
    hands the python driver PYSPARK_GATEWAY_PORT — the submitted master /
    --conf / --py-files already live in that JVM, so the builder must NOT
    override them (SparkConf() can't be probed instead: pre-gateway it has
    no spark.master even under spark-submit)."""
    import os

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        spark = SparkSession.builder.appName(app_name).getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        return spark
    from .session import get_spark

    return get_spark(app_name=app_name)


def table_io(spark: SparkSession, source: str) -> DataFrame:
    """Read the source corpus: Iceberg/catalog table, TSV corpus, or
    parquet path (schema per BASELINE.json input_hint)."""
    if ":" in source:
        scheme, rest = source.split(":", 1)
        if scheme in ("iceberg", "table"):
            return spark.read.table(rest)
        if scheme == "tsv":
            # reference-shaped TSV, mapped to the input_hint schema with
            # last-version-wins semantics (the quirk-faithful duplicate-url
            # parity path is sources/tsv_corpus.tsv_index_tables)
            from pyspark.sql import functions as F

            from .sources.tsv_corpus import load_tsv_corpus

            v = load_tsv_corpus(spark, rest)
            return v.filter(F.col("is_last_version")).select(
                F.lit("tsv").alias("repo"),
                F.col("url").alias("path"),
                F.lit("HEAD").alias("commit"),
                F.lit("text").alias("lang"),
                F.col("title").alias("content"),
            )
        if scheme not in ("file", "hdfs", "s3", "s3a", "gs", "abfss"):
            raise ValueError(f"unknown source scheme {scheme!r}")
    return spark.read.parquet(source)


def _read_queries(path: str) -> list[tuple[int, str]]:
    """Query file: ``qid<TAB>query`` per line, or bare queries (qid =
    line number). '-' reads stdin."""
    fh = sys.stdin if path == "-" else open(path, encoding="utf-8")
    out: list[tuple[int, str]] = []
    with fh:
        for i, line in enumerate(fh):
            line = line.rstrip("\n")
            if not line:
                continue
            qid, sep, rest = line.partition("\t")
            if sep and qid.lstrip("-").isdigit():
                out.append((int(qid), rest))
            else:
                out.append((i, line))
    return out


def main_build(argv: list[str]) -> int:
    from .build import BuildConfig, build_index
    from .query import assert_content_sha256

    p = argparse.ArgumentParser(prog="tse_job build")
    p.add_argument("--source", required=True, help="iceberg:<tbl> | table:<tbl> | tsv:<path> | parquet path")
    p.add_argument("--out", required=True, help="segment store directory")
    p.add_argument("--tokenizer", default="code", choices=["code", "ws"])
    p.add_argument("--stopwords", default=None, help="file with one stopword per line")
    p.add_argument("--no-resume", action="store_true", help="ignore completed stages (default: checkpoint-resume)")
    p.add_argument("--write-tokens", action="store_true", help="materialize the positional token table (feature path)")
    p.add_argument("--copy-content", action="store_true", help="copy content into the store (default: id-map only)")
    p.add_argument("--block-size", type=int, default=128)
    p.add_argument("--postings-per-shard", type=int, default=1 << 20)
    p.add_argument("--verify-sha256", action="store_true", help="re-scan the source and assert per-row content sha256 equality")
    a = p.parse_args(argv)

    spark = job_session("tse_build")
    stop: frozenset[str] = frozenset()
    if a.stopwords:
        with open(a.stopwords, encoding="utf-8") as fh:
            stop = frozenset(w.strip() for w in fh if w.strip())
    src = table_io(spark, a.source)
    cfg = BuildConfig(
        tokenizer=a.tokenizer,
        stopwords=stop,
        write_tokens=a.write_tokens,
        copy_content=a.copy_content,
        block_size=a.block_size,
        postings_per_shard=a.postings_per_shard,
    )
    store = build_index(spark, src, a.out, cfg, resume=not a.no_resume)
    meta = store.meta()
    summary = {k: meta[k] for k in ("n_docs", "avg_doc_len", "tokenizer") if k in meta}
    summary["store"] = a.out
    if a.verify_sha256:
        summary["sha256_mismatches"] = assert_content_sha256(spark, store, src)
    print(json.dumps(summary))
    return 0 if summary.get("sha256_mismatches", 0) == 0 else 1


def main_query(argv: list[str]) -> int:
    from .build import SegmentStore
    from .config import QueryConfig
    from .query import QueryEngine

    p = argparse.ArgumentParser(prog="tse_job query")
    p.add_argument("--store", required=True)
    p.add_argument("--queries", required=True, help="qid\\tquery per line ('-' = stdin)")
    p.add_argument("--k", type=int, default=20)
    p.add_argument("--path", default="wand", choices=["wand", "bm25", "search"],
                   help="wand = batched block-max path; bm25 = exact join path; search = full reference funnel")
    p.add_argument("--profile", default="standard", choices=["standard", "reference"])
    p.add_argument("--compat", default="fixed", choices=["fixed", "reference"])
    p.add_argument("--out", default=None, help="parquet dir (or .tsv path); default prints to stdout")
    a = p.parse_args(argv)

    spark = job_session("tse_query")
    eng = QueryEngine(spark, SegmentStore(a.store),
                      QueryConfig(profile=a.profile, compat=a.compat))
    queries = _read_queries(a.queries)
    fn = {"wand": eng.wand_topk, "bm25": eng.bm25_topk, "search": eng.search}[a.path]
    res = fn(queries, k=a.k)
    if a.out is None:
        for row in res.collect():
            print("\t".join(str(v) for v in row))
    elif a.out.endswith(".tsv"):
        res.coalesce(1).write.mode("overwrite").option("sep", "\t").option("header", True).csv(a.out)
    else:
        res.write.mode("overwrite").parquet(a.out)
    return 0


def main_grep(argv: list[str]) -> int:
    """Trigram code search over the source corpus: literal substring (or
    --regex) queries through the rarest-gram prune + exact verify
    (pipeline/codesearch.py). Doc ids are the same natural-key signature
    the index builder uses (build.with_doc_id), so grep hits join against
    a segment store built from the same source."""
    from pyspark.sql import functions as F

    from .build import with_doc_id
    from .pipeline import codesearch as cs

    p = argparse.ArgumentParser(prog="tse_job grep")
    p.add_argument("--source", required=True, help="iceberg:<tbl> | table:<tbl> | tsv:<path> | parquet path")
    p.add_argument("--queries", required=True, help="qid\\tneedle per line ('-' = stdin)")
    p.add_argument("--regex", action="store_true", help="treat queries as regexes (required-literal prune)")
    p.add_argument("--trigram-store", default=None, help="persisted posting index dir (write_trigram_store)")
    p.add_argument("--build-store", action="store_true", help="(re)write --trigram-store from --source first")
    p.add_argument("--buckets", type=int, default=64, help="store bucket count (with --build-store)")
    p.add_argument("--max-grams", type=int, default=8)
    p.add_argument("--no-scan", action="store_true", help="refuse queries that would need a full corpus scan")
    p.add_argument("--snippets", type=int, default=None, metavar="WINDOW",
                   help="literal mode: attach a ±WINDOW-char context snippet to each hit")
    p.add_argument("--out", default=None, help="parquet dir; default prints to stdout")
    a = p.parse_args(argv)

    spark = job_session("tse_grep")
    docs = with_doc_id(table_io(spark, a.source)).select(
        "doc_id", F.col("content").alias("text")
    )
    queries = _read_queries(a.queries)
    opts = {"max_grams": a.max_grams, "allow_scan": not a.no_scan}
    if a.trigram_store:
        if a.build_store:
            cs.write_trigram_store(docs, a.trigram_store, n_buckets=a.buckets)
        fn = cs.search_regex_store if a.regex else cs.search_literal_store
        res = fn(spark, a.trigram_store, docs, queries, **opts)
    else:
        fn = cs.search_regex if a.regex else cs.search_literal
        res = fn(docs, queries, **opts)
    if a.snippets is not None:
        if a.regex:
            raise SystemExit("--snippets needs literal needles (no --regex)")
        res = cs.with_snippets(docs, res, queries, window=a.snippets)
    if a.out is None:
        for row in res.collect():
            print("\t".join(str(v) for v in row))
    else:
        res.write.mode("overwrite").parquet(a.out)
    return 0


def main_shards(argv: list[str]) -> int:
    """Training-shard prep over the source corpus: tokenize (any
    registered mode; --bpe-merges N learns a BPE vocab from the corpus
    first), map to vocabulary ids, pack into fixed-length chunks via the
    distributed prefix sum, and write shard-partitioned parquet
    (pipeline/shards.py). Prints the summary census as JSON."""
    from pyspark.sql import functions as F

    from .build import with_doc_id
    from .pipeline import shards as sh

    p = argparse.ArgumentParser(prog="tse_job shards")
    p.add_argument("--source", required=True, help="iceberg:<tbl> | table:<tbl> | tsv:<path> | parquet path")
    p.add_argument("--out", required=True, help="shard output directory")
    p.add_argument("--tokenizer", default="code", help="registered tokenizer mode (ignored with --bpe-merges)")
    p.add_argument("--bpe-merges", type=int, default=None, metavar="N",
                   help="learn an N-merge BPE vocab from the corpus and tokenize with it")
    p.add_argument("--chunk-len", type=int, default=2048)
    p.add_argument("--chunks-per-shard", type=int, default=256)
    a = p.parse_args(argv)

    spark = job_session("tse_shards")
    docs = with_doc_id(table_io(spark, a.source)).select(
        "doc_id", F.col("content").alias("text")
    )
    mode = a.tokenizer
    if a.bpe_merges is not None:
        from .pipeline import bpe
        from .tokenizer import register_tokenizer

        merges = bpe.learn_bpe(docs, n_merges=a.bpe_merges)
        mode = "bpe_cli"
        register_tokenizer(mode, bpe.BPETokenizer(merges))
    summary = sh.write_training_shards(
        docs,
        a.out,
        tokenizer=mode,
        chunk_len=a.chunk_len,
        chunks_per_shard=a.chunks_per_shard,
    )
    if a.bpe_merges is not None:
        summary["bpe_merges"] = a.bpe_merges
    print(json.dumps(summary))
    return 0


def main_select(argv: list[str]) -> int:
    """DSIR data selection (pipeline/selection.py): score the source
    corpus against a target-distribution corpus and keep the Gumbel-top-k
    resample, written as parquet with (rank, log_weight) attached. The
    selection is reproducible bit-for-bit across clusters and reruns
    (md5-derived weights and noise) — rerunning with the same salt
    reselects the same rows. Prints the summary census as JSON."""
    from pyspark.sql import functions as F

    from .build import with_doc_id
    from .pipeline import selection

    p = argparse.ArgumentParser(prog="tse_job select")
    p.add_argument("--source", required=True, help="iceberg:<tbl> | table:<tbl> | tsv:<path> | parquet path")
    p.add_argument("--target", required=True,
                   help="target-distribution corpus (same schemes) — what the selection should look like")
    p.add_argument("--out", required=True, help="output parquet of selected rows")
    p.add_argument("--k", type=int, required=True, help="number of documents to select")
    p.add_argument("--n-buckets", type=int, default=1 << 20,
                   help="hashed-ngram feature buckets (bounded model size)")
    p.add_argument("--salt", default="dsir", help="resample salt (same salt = same draw)")
    a = p.parse_args(argv)

    spark = job_session("tse_select")
    raw = with_doc_id(table_io(spark, a.source))
    docs = raw.select("doc_id", F.col("content").alias("text"))
    tgt = with_doc_id(table_io(spark, a.target)).select(
        "doc_id", F.col("content").alias("text")
    )
    sel = selection.dsir_select(
        docs, tgt, k=a.k, n_buckets=a.n_buckets, salt=a.salt
    )
    raw.join(sel.select("doc_id", "rank", "log_weight"), "doc_id").write.mode(
        "overwrite"
    ).parquet(a.out)
    n = spark.read.parquet(a.out).count()
    print(json.dumps({"selected": n, "k": a.k, "n_buckets": a.n_buckets,
                      "salt": a.salt, "out": a.out}))
    return 0


def main_classify(argv: list[str]) -> int:
    """Naive Bayes corpus tagging (pipeline/classify.py): train a
    multinomial NB model on a labeled corpus (default label: the
    input_hint schema's ``lang`` column) and classify a target corpus,
    writing source rows + (pred_label, log_score) as parquet. Prints
    the predicted-label histogram as JSON (dictionary-sized)."""
    from pyspark.sql import functions as F

    from .build import with_doc_id
    from .pipeline import classify

    p = argparse.ArgumentParser(prog="tse_job classify")
    p.add_argument("--train", required=True,
                   help="labeled training corpus: iceberg:<tbl> | table:<tbl> | tsv:<path> | parquet path")
    p.add_argument("--source", required=True, help="corpus to classify (same schemes)")
    p.add_argument("--out", required=True, help="output parquet of tagged rows")
    p.add_argument("--label-col", default="lang",
                   help="label column on the training corpus (default: lang)")
    p.add_argument("--alpha", type=float, default=1.0, help="add-alpha smoothing")
    a = p.parse_args(argv)

    spark = job_session("tse_classify")
    train = with_doc_id(table_io(spark, a.train)).select(
        "doc_id", F.col("content").alias("text"), F.col(a.label_col)
    )
    model = classify.nb_train(train, label_col=a.label_col, alpha=a.alpha)
    raw = with_doc_id(table_io(spark, a.source))
    pred = classify.nb_classify(
        raw.select("doc_id", F.col("content").alias("text")), model
    )
    raw.join(pred, "doc_id").write.mode("overwrite").parquet(a.out)
    hist = {
        r["pred_label"]: r["n"]
        for r in spark.read.parquet(a.out)
        .groupBy("pred_label")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(json.dumps({"classified": sum(hist.values()), "labels": hist,
                      "alpha": a.alpha, "out": a.out}))
    return 0


def main_prune(argv: list[str]) -> int:
    """Impact-ordered static pruning of a built store (build.prune_store,
    Carmel et al. 2001): keep each term's top-m postings by rounded BM25
    impact and rebuild the compressed posting store — tail-term WAND
    queries score bit-identically to the source store, hot terms trade
    bounded recall for a ~m/avg_df-sized index.

    ``--m`` is either explicit or derived from a serving workload
    (``--auto-m-queries`` + ``--target-tier1``: query.choose_prune_m's
    exact per-query max-df quantile — the smallest depth guaranteeing
    the target tier-1 rate under tiered_wand_topk). ``--incremental
    --prev <pruned store> --delta-ids <parquet with doc_id>`` maintains
    an existing champion store per delta instead of re-windowing the
    whole vocabulary (build.prune_store_incremental)."""
    import os

    from .build import SegmentStore, prune_store, prune_store_incremental
    from .query import choose_prune_m

    p = argparse.ArgumentParser(prog="tse_job prune")
    p.add_argument("--store", required=True, help="source segment store")
    p.add_argument("--out", required=True, help="pruned store directory")
    p.add_argument("--m", type=int, default=None, help="postings kept per term")
    p.add_argument("--auto-m-queries", default=None,
                   help="derive m from this query log (qid\\tquery per "
                        "line, or bare queries; '-' = stdin)")
    p.add_argument("--target-tier1", type=float, default=None,
                   help="tier-1 rate target for --auto-m-queries (default 0.8)")
    p.add_argument("--incremental", action="store_true",
                   help="maintain an existing pruned store per delta "
                        "(requires --prev and --delta-ids)")
    p.add_argument("--prev", default=None, help="previous pruned store (incremental)")
    p.add_argument("--delta-ids", default=None,
                   help="parquet with the delta doc_id column (incremental)")
    p.add_argument("--k1", type=float, default=1.2)
    p.add_argument("--b", type=float, default=0.75)
    p.add_argument("--force", action="store_true",
                   help="overwrite --out even when it is a non-empty "
                        "directory that is not a segment store")
    a = p.parse_args(argv)
    if a.incremental:
        if not (a.prev and a.delta_ids):
            p.error("--incremental requires --prev and --delta-ids")
        # m is read from --prev: refuse the flags that would choose another
        for flag, val in (("--m", a.m), ("--auto-m-queries", a.auto_m_queries),
                          ("--target-tier1", a.target_tier1)):
            if val is not None:
                p.error(f"{flag} cannot be used with --incremental "
                        "(m comes from the --prev store)")
    target_tier1 = 0.8 if a.target_tier1 is None else a.target_tier1

    spark = job_session("tse_prune")
    src = SegmentStore(a.store)
    if a.incremental:
        delta_ids = spark.read.parquet(a.delta_ids).select("doc_id")
        out = prune_store_incremental(
            spark, src, SegmentStore(a.prev), delta_ids, a.out,
            k1=a.k1, b=a.b, force=a.force,
        )
        a.m = out.meta()["prune_m"]
    else:
        if a.m is None and a.auto_m_queries:
            queries = _read_queries(a.auto_m_queries)
            a.m = choose_prune_m(spark, src, queries, target_tier1)
            print(json.dumps({"auto_m": a.m, "target_tier1": target_tier1}))
        if a.m is None:
            p.error("one of --m / --auto-m-queries is required")
        out = prune_store(spark, src, a.out, m=a.m, k1=a.k1,
                          b=a.b, force=a.force)
    src_lin = os.path.join(src.lineage_path, "postings.json")
    out_lin = os.path.join(out.lineage_path, "postings.json")
    summary = {"store": a.out, "m": a.m, "n_docs": out.meta()["n_docs"]}
    for tag, path in (("source", src_lin), ("pruned", out_lin)):
        if os.path.exists(path):
            with open(path) as fh:
                j = json.load(fh)
            summary[f"{tag}_n_postings"] = j.get("n_postings")
            summary[f"{tag}_bytes_total"] = j.get("bytes_total")
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 0 if argv else 2
    cmd, rest = argv[0], argv[1:]
    if cmd == "build":
        return main_build(rest)
    if cmd == "query":
        return main_query(rest)
    if cmd == "grep":
        return main_grep(rest)
    if cmd == "shards":
        return main_shards(rest)
    if cmd == "select":
        return main_select(rest)
    if cmd == "classify":
        return main_classify(rest)
    if cmd == "prune":
        return main_prune(rest)
    print(f"unknown command {cmd!r} (expected: build | query | grep | shards | select | classify | prune)", file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
