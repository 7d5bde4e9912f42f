"""Index build: source table → parquet/Iceberg segment store.

Spark-first re-expression of the reference's startup build
(/root/reference/src/table.cpp:28-80,147-337): the reference's per-doc
accumulation + deferred batch idf/weight pass maps 1:1 onto Spark's
partial→final aggregation; everything below is declarative DataFrame ops
except tokenization and posting encoding (Arrow-vectorized UDFs).

Scale design (the part the reference has no answer for):

* tokenize is a narrow ``mapInPandas`` — no shuffle.
* per-(doc,term) tf is ONE shuffle (``groupBy(doc_id, term_sign)``); all
  term- and doc-level stats are partial-aggregated map-side first.
* posting build shuffles on **(term_sign, shard)** where shard is the
  doc-RANGE shard (top log2(n_shards) bits of the order-preserving
  unsigned doc_id) and n_shards(term) scales with the
  term's document frequency (census from term_stats). This is the salted
  repartition-by-term with explicit skew splitting for stopword-heavy
  terms: `the`/`return`/`def` get thousands of doc-range shards at scale,
  the long tail gets exactly one — no group ever exceeds
  ``postings_per_shard`` postings regardless of corpus size.
* postings are written partitioned by ``bucket = pmod(term_sign, N)`` so
  query-time term lookups prune partitions at the parquet layer.
* every stage is checkpoint-resumable: a stage whose output dir carries
  Spark's ``_SUCCESS`` marker (+ our ``_lineage.json``) is skipped on
  re-run; a partially-written stage (no marker) is rebuilt.

Stage DAG::

    source ──► docs_raw (id-map+sha) ─► [tokens] ─► doc_term ─► term_stats ─► postings
                                                       │             │
                                                       └─► doc_stats ┘  (+ meta: N, avg_doc_len)

Content bytes are written at most once (``copy_content``) and never
shuffled; every per-stage aggregate (N, avg_doc_len, posting skew metrics)
rides its stage's write action via ``Observation`` — a build is exactly
one job per stage.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .compress import encode_posting
from .config import BuildConfig
from .hashing import DOC_KEY_SEP
from .tokenizer import (
    DOC_TERM_SCHEMA,
    DOC_TERM_SCHEMA_PRE,
    make_doc_term_iterator,
    make_tokenize_iterator,
)

POSTING_BUCKETS = 64  # term-hash write partitions (query-side pruning)


def _utcnow() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


@dataclass
class SegmentStore:
    """Paths + readers for a built index.

    The store never duplicates document content: ``docs_raw`` holds the
    id-map + per-row sha256 (+ content only when
    ``BuildConfig.copy_content``), ``doc_stats`` holds the per-doc scoring
    stats, and ``docs()`` is the lazy join view of the two — at 100 TB the
    content bytes are written at most once and never shuffled."""

    root: str

    @property
    def docs_raw_path(self) -> str:
        return os.path.join(self.root, "docs_raw")

    @property
    def doc_stats_path(self) -> str:
        return os.path.join(self.root, "doc_stats")

    @property
    def tokens_path(self) -> str:
        return os.path.join(self.root, "tokens")

    @property
    def doc_term_path(self) -> str:
        return os.path.join(self.root, "doc_term")

    @property
    def term_stats_path(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def postings_path(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "lineage")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.root, "_meta.json")

    def meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    def docs_raw(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.docs_raw_path)

    def doc_stats(self, spark: SparkSession) -> DataFrame:
        return self._forward(spark, "doc_stats", self.doc_stats_path)

    def docs(self, spark: SparkSession) -> DataFrame:
        """Forward-table view: id-map ⋈ per-doc stats (inner join drops
        token-less docs, like the reference's empty-doc reject,
        /root/reference/src/table.cpp:270). Lazy — consumers that only
        need stats should read ``doc_stats`` directly."""
        return self.docs_raw(spark).join(self.doc_stats(spark), "doc_id")

    def _forward(self, spark: SparkSession, name: str, path: str) -> DataFrame:
        """Read a forward-side table: the doc_id-bucketed catalog table
        when this store was built with BuildConfig.bucket_tables (the
        scan then reports hash partitioning → doc_id-keyed joins/windows
        go exchange-free), else the plain parquet dir."""
        try:
            n = int(self.meta().get("bucket_tables", 0) or 0)
        except (FileNotFoundError, json.JSONDecodeError, ValueError):
            n = 0
        if n > 0:
            return _register_bucketed(spark, self.root, name, path, n)
        return spark.read.parquet(path)

    def tokens(self, spark: SparkSession) -> DataFrame:
        return self._forward(spark, "tokens", self.tokens_path)

    def doc_term(self, spark: SparkSession) -> DataFrame:
        return self._forward(spark, "doc_term", self.doc_term_path)

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.term_stats_path)

    def postings(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.postings_path)


def _stage_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _store_db(spark: SparkSession, root: str) -> str:
    """Per-store catalog database rooted AT the store directory, so
    bucketed forward tables (BuildConfig.bucket_tables) land in the same
    ``<root>/<name>`` dirs plain parquet writes use — a store is one
    self-contained directory either way. The db name is content-free
    (path hash) so two stores never collide in a shared session."""
    import hashlib

    root = os.path.abspath(root)
    token = hashlib.md5(root.encode()).hexdigest()[:10]
    db = f"tse_store_{token}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{root}'")
    return db


def _bucket_ids_on_disk(path: str) -> list[int] | None:
    """Bucket ids encoded in the parquet file names under *path*
    (Spark names bucketed outputs ``part-...-<uuid>_NNNNN.cXXX...``;
    plain writes carry no ``_NNNNN`` suffix). Returns None when the
    directory has no parquet files yet (nothing to cross-check)."""
    import re

    try:
        names = os.listdir(path)
    except OSError:
        return None
    ids: list[int] = []
    seen_parquet = False
    for nm in names:
        if not nm.endswith(".parquet") or nm.startswith(("_", ".")):
            continue
        seen_parquet = True
        m = re.search(r"_(\d{5})\.c\d+", nm)
        ids.append(int(m.group(1)) if m else -1)
    return ids if seen_parquet else None


def _register_bucketed(
    spark: SparkSession, root: str, name: str, path: str, n_buckets: int
) -> DataFrame:
    """Re-register (idempotently) a bucketed forward table written by a
    previous session and return it. Spark's bucket layout is just file
    naming + catalog metadata, so an EXTERNAL ``CLUSTERED BY`` table
    over the existing files restores the scan-reports-hash-partitioning
    property that makes doc_id-keyed joins/windows exchange-free
    (prototype-pinned in tests/test_fast_build.py)."""
    # files-vs-spec cross-check: a bucketed scan materializes exactly
    # n_buckets partitions from the FILENAME bucket ids, so a file with
    # no bucket id (plain write) or id >= n_buckets (written under a
    # larger N) would be silently dropped from every downstream
    # join/query — refuse the registration instead of losing rows
    ids = _bucket_ids_on_disk(path)
    if ids is not None:
        if any(i < 0 for i in ids):
            raise ValueError(
                f"{path}: parquet files carry no bucket id — the store was "
                f"not written with bucket_tables={n_buckets}; rebuild with "
                "resume=False or register without bucket_tables"
            )
        if ids and max(ids) >= int(n_buckets):
            raise ValueError(
                f"{path}: files are bucketed into >= {max(ids) + 1} buckets "
                f"but the requested spec says {n_buckets} — a bucketed scan "
                "would silently drop the higher-id files; use the bucket "
                "count the store was built with"
            )
    # filename ids can't catch the SMALLER-N case (files written with
    # N=4 under a spec of 8 all have ids < 8, but hold hash%4 rows that
    # a hash%8 scan would mis-join silently) — the stage lineage records
    # the true bucket count since round 5; cross-check when present
    lin_path = os.path.join(root, "lineage", f"{name}.json")
    try:
        with open(lin_path) as fh:
            lin_bt = int(json.load(fh).get("bucket_tables"))
    except (OSError, json.JSONDecodeError, TypeError, ValueError):
        lin_bt = None
    if lin_bt is not None and lin_bt != int(n_buckets):
        raise ValueError(
            f"{path}: stage lineage says the files were written with "
            f"bucket_tables={lin_bt} but the requested registration says "
            f"{n_buckets} — a mismatched bucket spec silently mis-joins "
            "rows; use the recorded count"
        )
    db = _store_db(spark, root)
    # the bucket count is part of the registration NAME: a store rebuilt
    # (possibly by another process) with a different bucket_tables N then
    # resolves to a different table instead of reusing a stale spec —
    # a wrong bucket spec would let joins skip exchanges the files don't
    # satisfy and silently drop rows, and fixing it in place would need
    # a DROP that deletes files when the build session's table is
    # MANAGED. Stale old-N registrations linger harmlessly.
    full = f"{db}.{name}_b{int(n_buckets)}"
    if spark.catalog.tableExists(full):
        # may predate a same-N rebuild of the dir — refresh file listing
        spark.sql(f"REFRESH TABLE {full}")
    else:
        schema = spark.read.parquet(path).schema
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {full} ({ddl}) USING PARQUET "
            f"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO {int(n_buckets)} BUCKETS "
            f"LOCATION '{os.path.abspath(path)}'"
        )
    return spark.table(full)


def _write_lineage(store: SegmentStore, stage: str, payload: dict) -> None:
    os.makedirs(store.lineage_path, exist_ok=True)
    payload = {"stage": stage, "written_at": _utcnow(), **payload}
    with open(os.path.join(store.lineage_path, f"{stage}.json"), "w") as f:
        json.dump(payload, f, indent=2, default=str)


def _prior_bucket_tables(store: SegmentStore) -> int | None:
    """Bucket layout a partially- or fully-built store on disk was
    written with: meta.json if the build completed, else the newest
    forward-stage lineage that recorded one. None = no prior evidence
    (fresh dir, or a pre-lineage store — callers then fall back to the
    filename cross-check in _register_bucketed)."""
    try:
        return int(store.meta().get("bucket_tables", 0) or 0)
    except (FileNotFoundError, json.JSONDecodeError, ValueError, TypeError):
        pass
    for stage in ("doc_term", "tokens", "doc_stats"):
        p = os.path.join(store.lineage_path, f"{stage}.json")
        try:
            with open(p) as f:
                payload = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            continue
        if "bucket_tables" in payload:
            try:
                return int(payload["bucket_tables"] or 0)
            except (ValueError, TypeError):
                continue
    return None


POSTINGS_SCHEMA = (
    "term_sign long, shard int, n_shards int, bucket int, n_docs long, "
    "idf double, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, "
    "block_last array<long>, block_max_tf array<int>, block_min_dl array<int>, "
    "bytes_total long"
)

# sorted-run encoder output: POSTINGS_SCHEMA minus the per-term constants
# (n_shards, idf), which are broadcast-joined from the census onto the
# list-per-row output instead of riding every shuffled posting row
POSTINGS_RUN_SCHEMA = (
    "term_sign long, shard int, bucket int, n_docs long, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, "
    "block_last array<long>, block_max_tf array<int>, block_min_dl array<int>, "
    "bytes_total long"
)


def _make_sorted_run_encoder(block_size: int):
    """mapInPandas encoder over SORT-grouped partitions: input rows are
    (term_sign, shard, doc_id, tf, doc_len) sorted by
    (term_sign, shard, doc_id) within each partition — no aggregation
    buffers, no per-list argsort, and no posting list ever held whole in
    a JVM buffer; groups are contiguous runs, detected with one
    vectorized boundary scan per Arrow batch; a run spanning batch
    boundaries is carried across.

    Deliberately NOT in the input: the per-term constants (n_shards,
    idf). Shuffling them on every posting row widens each UnsafeRow by
    16 aligned bytes through the exchange AND the partition sort — the
    stage's dominant memory traffic; instead the vocab-sized census is
    broadcast-joined onto the encoder's OUTPUT (one row per posting
    list), where it costs ~nothing."""
    import numpy as np

    # column order == POSTINGS_RUN_SCHEMA (mapInPandas pairs by position)
    cols = ("term_sign", "shard", "bucket", "n_docs",
            "doc_bytes", "tf_bytes", "dl_bytes", "block_last",
            "block_max_tf", "block_min_dl", "bytes_total")

    def encode(batches):
        carry: list | None = None  # [ts, sh, [d...], [t...], [dl...]]
        out = {k: [] for k in cols}

        def emit(ts, sh, d, t, dl):
            enc = encode_posting(d, t, dl, block_size=block_size, presorted=True)
            out["term_sign"].append(int(ts))
            out["shard"].append(int(sh))
            out["bucket"].append(int(ts) % POSTING_BUCKETS)
            out["n_docs"].append(enc.n_docs)
            out["doc_bytes"].append(enc.doc_bytes)
            out["tf_bytes"].append(enc.tf_bytes)
            out["dl_bytes"].append(enc.dl_bytes)
            out["block_last"].append(enc.block_last)
            out["block_max_tf"].append(enc.block_max_tf)
            out["block_min_dl"].append(enc.block_min_dl)
            out["bytes_total"].append(enc.bytes_total)

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ts = pdf["term_sign"].to_numpy()
            sh = pdf["shard"].to_numpy()
            d = pdf["doc_id"].to_numpy()
            t = pdf["tf"].to_numpy()
            dl = pdf["doc_len"].to_numpy()
            bounds = np.flatnonzero((ts[1:] != ts[:-1]) | (sh[1:] != sh[:-1])) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [n]))
            if carry is not None:
                if carry[0] == ts[0] and carry[1] == sh[0]:
                    # first run continues the carried group
                    carry[2].append(d[: ends[0]])
                    carry[3].append(t[: ends[0]])
                    carry[4].append(dl[: ends[0]])
                    if ends[0] == n and len(starts) == 1:
                        continue  # whole batch is one continuing run
                    starts, ends = starts[1:], ends[1:]
                emit(carry[0], carry[1],
                     np.concatenate(carry[2]), np.concatenate(carry[3]),
                     np.concatenate(carry[4]))
                carry = None
            # last run may continue into the next batch → carry it
            lo, hi = starts[-1], ends[-1]
            carry = [ts[lo], sh[lo], [d[lo:hi]], [t[lo:hi]], [dl[lo:hi]]]
            for lo, hi in zip(starts[:-1], ends[:-1]):
                emit(ts[lo], sh[lo], d[lo:hi], t[lo:hi], dl[lo:hi])
            if len(out["term_sign"]) >= 4096:
                yield pd.DataFrame(out)
                out = {k: [] for k in cols}
        if carry is not None:
            emit(carry[0], carry[1],
                 np.concatenate(carry[2]), np.concatenate(carry[3]),
                 np.concatenate(carry[4]))
        if out["term_sign"]:
            yield pd.DataFrame(out)

    return encode


def with_doc_id(source_df: DataFrame) -> DataFrame:
    """Natural-key doc signature + per-row integrity hash.

    Reference: doc_sign = hash(url) (/root/reference/src/table.cpp:171);
    here the natural key is (repo, path, commit) per BASELINE.json
    input_hint; content_sha256 is the per-row invariant column."""
    return source_df.withColumn(
        "doc_id", F.xxhash64(F.concat_ws(DOC_KEY_SEP, "repo", "path", "commit"))
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))


def build_index(
    spark: SparkSession,
    source_df: DataFrame,
    out_dir: str,
    cfg: BuildConfig | None = None,
    resume: bool = True,
) -> SegmentStore:
    """Build (or resume building) the segment store under *out_dir*."""
    cfg = cfg or BuildConfig()
    if cfg.max_shards & (cfg.max_shards - 1):
        raise ValueError("max_shards must be a power of two (shard-alignment invariant)")
    # build posture: AQE on (partition coalescing across the many small
    # stat stages + skew-join belt); the serving QueryEngine turns it off
    # for its own session (see QueryConfig.disable_aqe) — a mixed
    # build+query session alternates explicitly
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    store = SegmentStore(out_dir)
    # resume-vs-layout guard: resume skips any stage with a _SUCCESS
    # marker, so resuming an existing store under a DIFFERENT
    # bucket_tables would stamp the new N into meta over files bucketed
    # (or not) for the old one — and a bucketed scan then silently drops
    # every file whose filename bucket id >= N (row loss downstream), or
    # dies on 'Invalid bucket file' for a plain store. Changing layout
    # is a rebuild, not a resume: require resume=False (--no-resume).
    if resume:
        prior_bt = _prior_bucket_tables(store)
        if prior_bt is not None and int(prior_bt) != int(cfg.bucket_tables or 0):
            raise ValueError(
                f"store at {out_dir} was built with bucket_tables={prior_bt} "
                f"but this resume requests bucket_tables={int(cfg.bucket_tables or 0)}; "
                "resuming cannot change the bucket layout — pass the prior "
                "value, or rebuild from scratch with resume=False (--no-resume)"
            )
    os.makedirs(out_dir, exist_ok=True)
    t_start = time.time()
    stage_seconds: dict[str, float] = {}

    def _timed(stage: str, fn):
        t0 = time.time()
        out = fn()
        stage_seconds[stage] = round(time.time() - t0, 3)
        return out

    stop_terms = sorted(cfg.stopwords)
    stop_signs_df = None
    if stop_terms:
        stop_signs_df = (
            spark.createDataFrame([(t,) for t in stop_terms], "term string")
            .select(F.xxhash64(F.lower("term")).alias("term_sign"))
            .distinct()
        )

    # forward-table write/read seam: plain parquet dirs, or (when
    # cfg.bucket_tables) doc_id-bucketed tables in the SAME dirs —
    # downstream doc_id-keyed joins/windows then plan without exchanges
    def _write_forward(df: DataFrame, name: str, path: str) -> None:
        if cfg.bucket_tables:
            db = _store_db(spark, store.root)
            (
                df.write.format("parquet").mode("overwrite")
                .bucketBy(int(cfg.bucket_tables), "doc_id")
                .sortBy("doc_id")
                # bucket count in the table NAME (matching
                # _register_bucketed — a rebuild with a different N is a
                # different registration) while the explicit path keeps
                # the files in the store's canonical <root>/<name> dir;
                # the explicit path also makes the table EXTERNAL, so no
                # catalog operation can ever delete store files
                .option("path", path)
                .saveAsTable(f"{db}.{name}_b{int(cfg.bucket_tables)}")
            )
        else:
            df.write.mode("overwrite").parquet(path)

    def _read_forward(name: str, path: str) -> DataFrame:
        if cfg.bucket_tables:
            return _register_bucketed(
                spark, store.root, name, path, cfg.bucket_tables
            )
        return spark.read.parquet(path)

    # Independent stages run CONCURRENTLY (two threads submitting Spark
    # actions): docs_raw ∥ tokens→doc_term, then doc_stats ∥ postings.
    # On a cluster this keeps executors busy through each other's stage
    # barriers and stragglers; locally it removes serial job gaps.
    # Dependencies: doc_term ← tokenize source (NOT docs_raw output);
    # term_stats ← doc_term; doc_stats/postings ← term_stats + doc_term.
    if source_df is not None:
        tokenize_src = with_doc_id(source_df)
    elif _stage_done(store.docs_raw_path) and cfg.copy_content:
        tokenize_src = spark.read.parquet(store.docs_raw_path)
    else:
        tokenize_src = None  # resume with tokenize stages already done

    # ---- stage: docs_raw (doc_id + per-row sha256 invariant; content is
    # copied ONLY when cfg.copy_content — at 100 TB the engine must not
    # duplicate the source table, so the fast path stores the id-map and
    # reads content straight from the source scan) ----
    def job_docs_raw() -> None:
        if not (resume and _stage_done(store.docs_raw_path)):
            if source_df is None:
                raise ValueError(
                    "source_df is required: the docs_raw stage is not complete "
                    f"under {store.docs_raw_path}"
                )
            raw = with_doc_id(source_df)
            if not cfg.copy_content:
                raw = raw.drop("content")
            raw.write.mode("overwrite").parquet(store.docs_raw_path)
            _write_lineage(store, "docs_raw", {"copy_content": cfg.copy_content})

    # ---- stage: tokens (positional token table — ONLY for the exact
    # feature-parity path; the fast path never materializes occurrences),
    # then doc_term.
    # per-(doc,term) tf == the reference's reverse-iteration max-dup trick
    # (/root/reference/src/table.cpp:271,284-290) expressed as count(*).
    # Fast path: the per-doc reduction happens INSIDE the tokenize
    # mapInPandas (B2 fused map-side, segment.cpp:78-101) — no token-level
    # shuffle ever exists; doc_len/n_terms ride along on each row. ----
    def job_tokens() -> DataFrame | None:
        if not cfg.write_tokens:
            return None
        if not (resume and _stage_done(store.tokens_path)):
            tok_fn = make_tokenize_iterator(cfg.tokenizer, "doc_id", "content")
            tokens = (
                tokenize_src.select("doc_id", "content")
                .mapInPandas(tok_fn, "doc_id long, pos int, term string, offset int, length int, dup int")
                .withColumn("term_sign", F.xxhash64(F.lower(F.col("term"))))
            )
            _write_forward(tokens, "tokens", store.tokens_path)
            _write_lineage(store, "tokens", {"tokenizer": cfg.tokenizer, "bucket_tables": int(cfg.bucket_tables or 0)})
        return _read_forward("tokens", store.tokens_path)

    def job_doc_term() -> tuple[DataFrame, int | None]:
        tokens = _timed("tokens", job_tokens)
        n_docs: int | None = None
        if not (resume and _stage_done(store.doc_term_path)):
            if tokens is not None:
                per_doc = tokens.groupBy("doc_id").agg(
                    F.max_by(F.col("offset") + F.col("length"), F.col("pos")).alias("doc_len"),
                    F.count("*").alias("n_terms"),
                )
                aggs = [
                    F.count("*").alias("tf"),
                    F.min("pos").alias("first_idx"),
                    F.first("term").alias("term"),
                    F.first("length").alias("term_len"),
                ]
                if cfg.write_pre_term_sign:
                    # sign of the token preceding the FIRST occurrence
                    # (segment.cpp:84-99), 0 when doc-initial — same value
                    # the fused path computes from adjacent token codes
                    from pyspark.sql import Window

                    tokens = tokens.withColumn(
                        "prev_sign",
                        F.coalesce(
                            F.lag("term_sign").over(
                                Window.partitionBy("doc_id").orderBy("pos")
                            ),
                            F.lit(0).cast("long"),
                        ),
                    )
                    aggs.append(
                        F.min_by("prev_sign", "pos").alias("pre_term_sign")
                    )
                doc_term = (
                    tokens.groupBy("doc_id", "term_sign")
                    .agg(*aggs)
                    .join(per_doc, "doc_id")
                )
            else:
                if tokenize_src is None:
                    raise ValueError(
                        "source_df is required: the doc_term stage is not "
                        f"complete under {store.doc_term_path}"
                    )
                # term_sign/term_len ride out of the iterator (signs are
                # computed once per batch-unique term in Python, bit-equal
                # to F.xxhash64(F.lower(term)) — tests/test_hashing.py; the
                # display string is non-null on one row per batch-unique
                # term, so no JVM hash/lower pass over millions of rows)
                dt_fn = make_doc_term_iterator(
                    cfg.tokenizer, "doc_id", "content",
                    with_pre_sign=cfg.write_pre_term_sign,
                )
                doc_term = tokenize_src.select("doc_id", "content").mapInPandas(
                    dt_fn,
                    DOC_TERM_SCHEMA_PRE if cfg.write_pre_term_sign else DOC_TERM_SCHEMA,
                )
            # N (forward-table size = docs with >=1 token, table.cpp:270)
            # rides the write via observe(): exactly one doc_term row per
            # doc has first_idx == 0 (the term at token position 0) — no
            # separate distinct-count job over the table.
            if cfg.cache_doc_term and not cfg.bucket_tables:
                # bucketed mode re-reads the written table below (its scan
                # carries the hash partitioning) — persisting the
                # pre-write lineage would only cache a dead plan
                doc_term = doc_term.persist()
            obs = Observation("doc_term_metrics")
            _write_forward(
                doc_term.observe(
                    obs, F.sum((F.col("first_idx") == 0).cast("long")).alias("n_docs")
                ),
                "doc_term",
                store.doc_term_path,
            )
            n_docs = int(obs.get["n_docs"] or 0)
            _write_lineage(
                store,
                "doc_term",
                {
                    "fused_tokenize": tokens is None,
                    "n_docs": n_docs,
                    "bucket_tables": int(cfg.bucket_tables or 0),
                },
            )
            if cfg.bucket_tables:
                # hand downstream the bucketed READ (scan reports doc_id
                # hash partitioning → the doc_stats groupBy plans without
                # an exchange), not the unpartitioned in-memory lineage
                doc_term = _read_forward("doc_term", store.doc_term_path)
                if cfg.cache_doc_term:
                    doc_term = doc_term.persist()
            return doc_term, n_docs
        return _read_forward("doc_term", store.doc_term_path), None

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        fut_raw = pool.submit(_timed, "docs_raw", job_docs_raw)
        fut_dt = pool.submit(_timed, "doc_term", job_doc_term)
        fut_raw.result()
        doc_term, n_docs = fut_dt.result()
    docs_raw = spark.read.parquet(store.docs_raw_path)

    if n_docs is None:
        lin = os.path.join(store.lineage_path, "doc_term.json")
        if os.path.exists(lin):
            with open(lin) as f:
                n_docs = json.load(f).get("n_docs")
    if n_docs is None:  # resumed store without lineage — one cheap scan
        n_docs = doc_term.filter(F.col("first_idx") == 0).count()

    # ---- stage: term_stats (stopwords excluded from the inverted side,
    # like /root/reference/src/table.cpp:273-275).
    # Returns (df, needs_write): on a fresh build the computed DF is
    # persisted and handed straight to doc_stats/postings while its parquet
    # write runs CONCURRENTLY in the next stage pool — the write is
    # durability, not a dataflow barrier (block-manager locking makes the
    # three concurrent consumers materialize each cached partition once). ----
    def job_term_stats() -> tuple[DataFrame, bool]:
        if resume and _stage_done(store.term_stats_path):
            return spark.read.parquet(store.term_stats_path), False
        dt = doc_term
        if stop_signs_df is not None:
            dt = dt.join(F.broadcast(stop_signs_df), "term_sign", "left_anti")
        term_stats = dt.groupBy("term_sign").agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("ttf"),
            # display is null except one representative row per batch-unique
            # term (fast path) — any non-null display of the sign is valid
            F.first("term", ignorenulls=True).alias("term"),
            F.first("term_len", ignorenulls=True).alias("term_len"),
        )
        # total-tf idf quirk (ttf, NOT df) incl. the unsigned-wrap for
        # ttf > N: /root/reference/src/math_util.cpp:19-23, callers
        # /root/reference/src/table.cpp:295,304 — see config.reference_idf
        diff = F.lit(n_docs).cast("double") - F.col("ttf")
        wrapped = (F.lit(float(2**64)) + diff).cast("float").cast("double") + 0.5
        term_stats = term_stats.withColumn(
            "idf",
            F.log(
                F.when(diff >= 0, diff + 0.5).otherwise(wrapped)
                / (F.col("ttf") + 0.5)
            ),
        )
        # doc-shard count census (skew splitting): POWER-OF-TWO so every
        # term's sharding refines every coarser term's — the WAND path
        # groups a query at its finest granularity S and routes a coarser
        # posting (m shards, m | S) to the S/m groups it covers; alignment
        # makes per-shard top-k exact across terms. Stored here (not
        # recomputed at query time) so build and query can never disagree.
        raw_shards = F.ceil(F.col("df") / F.lit(cfg.postings_per_shard)).cast("double")
        pow2 = F.pow(F.lit(2.0), F.ceil(F.log2(raw_shards))).cast("int")
        term_stats = term_stats.withColumn(
            "n_shards",
            F.least(
                F.lit(cfg.max_shards),
                F.when(raw_shards <= 1, F.lit(1)).otherwise(pow2),
            ),
        )
        return term_stats.persist(), True

    term_stats, ts_needs_write = _timed("term_stats", job_term_stats)

    def job_term_stats_write() -> None:
        if ts_needs_write:
            term_stats.write.mode("overwrite").parquet(store.term_stats_path)
            _write_lineage(store, "term_stats", {"n_docs": n_docs})

    # ---- stage: doc_stats (per-doc weights/norms; NO content join — the
    # forward view docs() joins lazily, so content bytes are never
    # shuffled or re-written) ----
    def job_doc_stats() -> tuple[int, float]:
        stats_n: int | None = None
        avg_doc_len: float | None = None
        if not (resume and _stage_done(store.doc_stats_path)):
            # per-occurrence weights: wei = idf (tf multiply commented out in
            # the reference, table.cpp:319); stopword occurrences contribute
            # 0; vec_module/wei_sum sum per OCCURRENCE (dups counted each
            # time, table.cpp:309-327). Computed from doc_term:
            # Σ_occ wei² == Σ_t tf·idf² algebraically — no occurrence table.
            dt_idf = doc_term.join(
                term_stats.select("term_sign", "idf"), "term_sign", "left"
            ).withColumn("wei", F.coalesce(F.col("idf"), F.lit(0.0)))
            doc_stats = dt_idf.groupBy("doc_id").agg(
                F.first("n_terms").alias("n_terms"),
                F.first("doc_len").alias("doc_len"),
                F.sqrt(F.sum(F.col("tf") * F.pow(F.col("wei"), F.lit(2.0)))).alias("vec_module"),
                F.sum(F.col("tf") * F.col("wei")).alias("wei_sum"),
            )
            # avg_doc_len (B6, table.cpp:329-337) rides the write — no extra job
            obs_ds = Observation("doc_stats_metrics")
            doc_stats = doc_stats.observe(
                obs_ds, F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("dl")
            )
            _write_forward(doc_stats, "doc_stats", store.doc_stats_path)
            got = obs_ds.get
            stats_n = int(got["n"] or 0)
            avg_doc_len = float(got["dl"] or 0) / max(stats_n, 1)
            _write_lineage(store, "doc_stats", {"n_docs": stats_n, "avg_doc_len": avg_doc_len, "bucket_tables": int(cfg.bucket_tables or 0)})
        else:
            lin = os.path.join(store.lineage_path, "doc_stats.json")
            if os.path.exists(lin):
                with open(lin) as f:
                    j = json.load(f)
                stats_n, avg_doc_len = j.get("n_docs"), j.get("avg_doc_len")
        if stats_n is None or avg_doc_len is None:
            row = spark.read.parquet(store.doc_stats_path).agg(
                F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("adl")
            ).collect()[0]
            stats_n, avg_doc_len = int(row["n"]), float(row["adl"] or 0.0)
        return stats_n, avg_doc_len

    # ---- stage: postings (salted repartition-by-term, doc-shard salt) ----
    def job_postings() -> None:
        if resume and _stage_done(store.postings_path):
            return
        dt = doc_term
        if stop_signs_df is not None:
            dt = dt.join(F.broadcast(stop_signs_df), "term_sign", "left_anti")
        # shard census from term_stats (single source of truth for the
        # query-side routing); idf rides along so each posting row is
        # self-contained at query time — the WAND path then needs NO
        # term_stats scan/broadcast/join per batch (term-level idf is
        # final before this stage: term_stats is this join's input)
        census = term_stats.select("term_sign", "n_shards", "idf")
        # doc-RANGE sharding: shard = top log2(n_shards) bits of the
        # order-preserving unsigned doc id (doc_id ^ 2^63). Each shard is a
        # CONTIGUOUS slice of the sorted doc space, and (n_shards pow2)
        # every finer sharding nests inside every coarser one — the query
        # path exploits this to split/route posting slices to doc groups
        # with ~zero replication (query.py wand_topk). numpy equivalent:
        # (d.view(uint64) ^ (1<<63)) >> (64 - log2(m)).
        enriched = dt.join(census, "term_sign").withColumn(
            # Catalyst broadcasts the 2-column census when small; at 100 TB
            # it is ~vocab-sized → still broadcastable after pruning.
            # doc_len rides on doc_term rows — no join against docs needed.
            "shard",
            F.when(F.col("n_shards") <= 1, F.lit(0)).otherwise(
                F.expr(
                    "shiftrightunsigned(doc_id ^ -9223372036854775808, "
                    "64 - cast(log2(n_shards) as int))"
                )
            ).cast("int"),
        )
        # sort-based grouping: ONE hash shuffle on the salted key +
        # spillable partition sort; posting lists are contiguous runs
        # encoded straight off the sorted Arrow stream (no aggregation
        # buffers, no per-list argsort — the external-sort build every
        # at-scale indexer uses). Only the 5 per-posting columns ride the
        # exchange + sort; the per-term constants (n_shards, idf) rejoin
        # from the broadcast census AFTER encoding, on the one-row-per-list
        # output (see _make_sorted_run_encoder).
        runs = (
            enriched.select("term_sign", "shard", "doc_id", "tf", "doc_len")
            .repartition(F.col("term_sign"), F.col("shard"))
            .sortWithinPartitions("term_sign", "shard", "doc_id")
            .mapInPandas(_make_sorted_run_encoder(cfg.block_size), POSTINGS_RUN_SCHEMA)
        )
        # no broadcast hint: the census is vocab-sized (hundreds of
        # millions of terms at the 100 TB design point), so the choice
        # between broadcast and shuffle join belongs to Catalyst/AQE —
        # the join output is one row per posting list, so even a shuffle
        # join is cheap when the census outgrows the broadcast threshold
        postings = runs.join(census, "term_sign").select(
            "term_sign", "shard", "n_shards", "bucket", "n_docs", "idf",
            "doc_bytes", "tf_bytes", "dl_bytes",
            "block_last", "block_max_tf", "block_min_dl", "bytes_total",
        )
        # global skew metrics ride the write via observe() — no re-read job
        obs_p = Observation("postings_metrics")
        postings = postings.observe(
            obs_p,
            F.count(F.lit(1)).alias("n_lists"),
            F.sum("n_docs").alias("n_postings"),
            F.sum("bytes_total").alias("bytes_total"),
            F.max("n_docs").alias("max_list"),
            F.max("bytes_total").alias("max_list_bytes"),
        )
        # cluster rows by bucket before the partitioned write: otherwise
        # every task opens a writer per bucket dir (tasks x 64 small files
        # — measured 27s vs 7s at local[32] on 40k docs, and a small-file
        # explosion at scale). Within each bucket, sort by term_sign so
        # parquet row-group min/max stats are tight sign ranges — the
        # query-side `term_sign IN (...)` pushdown then SKIPS row groups
        # instead of decoding every posting's binary columns.
        postings.repartition(F.col("bucket")).sortWithinPartitions(
            "term_sign", "shard"
        ).write.mode("overwrite").partitionBy("bucket").parquet(store.postings_path)
        m = obs_p.get
        mean_list = float(m["n_postings"] or 0) / max(int(m["n_lists"] or 0), 1)
        skew = float(m["max_list"] or 0) / max(mean_list, 1e-9)
        lineage = {
            "n_lists": m["n_lists"],
            "n_postings": m["n_postings"],
            "bytes_total": m["bytes_total"],
            "max_list": m["max_list"],
            "mean_list": mean_list,
            "max_list_bytes": m["max_list_bytes"],
            "skew_factor": skew,
            "postings_per_shard": cfg.postings_per_shard,
            "block_size": cfg.block_size,
        }
        if cfg.per_bucket_metrics:
            # per-write-partition breakdown (1 extra scan of 3 metadata
            # columns; bench path disables)
            p = spark.read.parquet(store.postings_path)
            lineage["per_bucket"] = [
                {k: (float(v) if isinstance(v, float) else v) for k, v in r.asDict().items()}
                for r in p.groupBy("bucket")
                .agg(
                    F.count("*").alias("n_lists"),
                    F.sum("n_docs").alias("n_postings"),
                    F.sum("bytes_total").alias("bytes"),
                    F.max("n_docs").alias("max_list"),
                )
                .orderBy("bucket")
                .collect()
            ]
        _write_lineage(store, "postings", lineage)

    with ThreadPoolExecutor(3) as pool:
        fut_ds = pool.submit(_timed, "doc_stats", job_doc_stats)
        fut_p = pool.submit(_timed, "postings", job_postings)
        fut_ts = pool.submit(_timed, "term_stats_write", job_term_stats_write)
        fut_p.result()
        stats_n, avg_doc_len = fut_ds.result()
        fut_ts.result()
    if ts_needs_write:
        term_stats.unpersist()
    if cfg.cache_doc_term:
        doc_term.unpersist()

    # ---- meta (from observed doc_stats aggregates — no extra job) ----
    n_docs = stats_n
    meta = {
        "version": 1,
        "tokenizer": cfg.tokenizer,
        "n_docs": n_docs,
        "avg_doc_len": float(avg_doc_len or 0.0),
        "block_size": cfg.block_size,
        "postings_per_shard": cfg.postings_per_shard,
        "stopwords": stop_terms,
        "bucket_tables": cfg.bucket_tables,
        "write_tokens": cfg.write_tokens,
        "copy_content": cfg.copy_content,
        "built_at": _utcnow(),
        "build_seconds": round(time.time() - t_start, 3),
    }
    with open(store.meta_path, "w") as f:
        json.dump(meta, f, indent=2)
    _write_lineage(store, "build", {"build_seconds": meta["build_seconds"], "n_docs": n_docs, "stage_seconds": stage_seconds})
    return store


def _wipe_derived_out_dir(
    out_dir: str, force: bool, inputs: tuple[str, ...] = ()
) -> None:
    """Shared out_dir preparation for the prune family: refuse to wipe
    (a) any INPUT store root, or an ancestor or descendant of one — the
    selection plan is lazy, so an overlapping out_dir would delete the
    very files the write then reads (FileNotFound at best, silent row
    loss at worst), and an ancestor wipe takes the whole input store
    with it — and (b) a
    non-empty directory that is not a segment store, unless force=True
    (a mistyped --out must not delete an arbitrary tree). A previous
    DERIVED store at out_dir is wiped: stale _SUCCESS markers from an
    earlier prune (different m) would otherwise resume-skip stages
    against the new doc_term."""
    import shutil

    out_abs = os.path.realpath(out_dir)
    for inp in inputs:
        if not inp:
            continue
        inp_abs = os.path.realpath(inp)
        if os.path.commonpath([out_abs, inp_abs]) in (out_abs, inp_abs):
            raise ValueError(
                f"out_dir {out_dir} overlaps {inp}, an input store of this "
                "operation (same directory, ancestor or descendant); "
                "pruning is store-to-store — write to a separate directory "
                "and swap afterwards"
            )
    if os.path.isdir(out_dir) and os.listdir(out_dir):
        looks_like_store = os.path.exists(
            SegmentStore(out_dir).meta_path
        ) or os.path.isdir(SegmentStore(out_dir).lineage_path)
        if not (looks_like_store or force):
            raise ValueError(
                f"refusing to wipe {out_dir}: non-empty and not a segment "
                "store (no _meta.json / lineage); pass force=True "
                "(CLI: --force) to overwrite anyway"
            )
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)


def _impact_topm(
    dt: DataFrame,
    idf: DataFrame,
    avgdl: float,
    m: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Per-term top-``m`` postings by rounded BM25 impact (idf from the
    given stats snapshot, ties to lowest doc_id) — the shared selection
    window of prune_store and prune_store_incremental. One term-keyed
    exchange with WindowGroupLimit partial pushdown; rank over the
    ROUNDED impact so an ulp can't change survival."""
    from pyspark.sql import Window

    impact = F.round(
        F.col("idf")
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("doc_len") / F.lit(float(avgdl)))),
        6,
    )
    w = Window.partitionBy("term_sign").orderBy(F.desc("_imp"), F.asc("doc_id"))
    return (
        dt.join(idf, "term_sign", "left")
        .withColumn("_imp", F.coalesce(impact, F.lit(0.0)))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= m)
        .select(*dt.columns)
    )


def _snapshot_idf(
    spark: SparkSession, snap_store: SegmentStore, cur_store: SegmentStore
) -> DataFrame:
    """Selection-snapshot idf for incremental pruning: every CURRENT
    term gets the snapshot store's idf when the term existed at snapshot
    time, else its current idf (new terms). Deterministic and identical
    whether used by prune_store_incremental or a full prune_store run
    with sel_idf — which is what makes the two provably equal."""
    cur = cur_store.term_stats(spark).select(
        "term_sign", F.col("idf").alias("_idf_cur")
    )
    old = snap_store.term_stats(spark).select(
        "term_sign", F.col("idf").alias("_idf_snap")
    )
    return cur.join(old, "term_sign", "left").select(
        "term_sign", F.coalesce("_idf_snap", "_idf_cur").alias("idf")
    )


def _write_pruned_store(
    spark: SparkSession,
    src: SegmentStore,
    pruned: DataFrame,
    out_dir: str,
    m: int,
    sel_avgdl: float,
    sel_idf_from: str,
    incremental_from: str | None = None,
) -> SegmentStore:
    """Shared tail of prune_store and prune_store_incremental: write the
    *pruned* doc_term (with its stage marker + lineage) into the already
    wiped *out_dir*, share the source id-map, rebuild the remaining
    stages through build_index's resume path, then pin the collection
    stats and selection provenance in meta.

    The lineage pins the SOURCE n_docs, so N and the total-tf idf of
    unpruned terms are unchanged. docs_raw is copied; tokens (if any)
    are NOT carried — the pruned store serves the fast path (bm25/wand),
    not search()."""
    import shutil

    meta = src.meta()
    out = SegmentStore(out_dir)
    pruned.write.mode("overwrite").parquet(out.doc_term_path)
    shutil.copytree(src.docs_raw_path, out.docs_raw_path, dirs_exist_ok=True)
    provenance = {"pruned_from": src.root, "prune_m": int(m)}
    if incremental_from is not None:
        provenance["incremental_from"] = incremental_from
    _write_lineage(
        out,
        "doc_term",
        {
            **provenance,
            "n_docs": int(meta["n_docs"]),
            "fused_tokenize": False,
            "bucket_tables": 0,
        },
    )
    cfg = BuildConfig(
        tokenizer=meta["tokenizer"],
        stopwords=frozenset(meta.get("stopwords", [])),
        block_size=int(meta["block_size"]),
        postings_per_shard=int(meta["postings_per_shard"]),
        write_tokens=False,
        copy_content=bool(meta.get("copy_content", True)),
    )
    out = build_index(spark, None, out_dir, cfg, resume=True)
    # pin the COLLECTION stats to the source store (Carmel semantics:
    # pruning changes which postings are stored, never the scoring
    # model). idf already uses the source n_docs via the lineage pin
    # above; meta's n_docs/avg_doc_len feed BM25's Kd at query time and
    # would otherwise drift whenever a doc loses ALL its postings (e.g.
    # all-hot-term boilerplate under aggressive m) — which would break
    # the tier-1 bit-identity certificate tiered_wand_topk relies on.
    out_meta = out.meta()
    out_meta["n_docs_with_postings"] = out_meta.get("n_docs")
    out_meta["n_docs"] = int(meta["n_docs"])
    out_meta["avg_doc_len"] = float(meta["avg_doc_len"])
    out_meta.update(provenance)
    # selection snapshot provenance: which scoring picked the champions
    # (prune_store_incremental reuses it so unchanged terms never churn)
    out_meta["sel_avgdl"] = float(sel_avgdl)
    out_meta["sel_idf_from"] = sel_idf_from
    with open(out.meta_path, "w") as f:
        json.dump(out_meta, f, indent=2)
    return out


def prune_store(
    spark: SparkSession,
    src: SegmentStore,
    out_dir: str,
    m: int,
    k1: float = 1.2,
    b: float = 0.75,
    force: bool = False,
    sel_avgdl: float | None = None,
    sel_idf: DataFrame | None = None,
    sel_idf_from: str | None = None,
) -> SegmentStore:
    """Impact-ordered static pruning of a built segment store (Carmel et
    al., SIGIR 2001) — the store-to-store twin of
    pipeline.retrieval.static_index_prune: keep each term's top-``m``
    postings by rounded BM25 impact (idf from the SOURCE store's stats,
    ``impact = idf·tf(k1+1)/(tf+k1(1-b+b·dl/avgdl))``, ties to lowest
    doc_id) and rebuild the compressed posting store from the surviving
    (term, doc) rows only.

    The rebuild reuses build_index's own resume path: the pruned
    doc_term is written with its stage marker + lineage (original
    n_docs, so N and the total-tf idf of UNPRUNED terms are unchanged —
    a term whose list was never cut scores bit-identically, which is
    what makes tail-term queries over the pruned store provably equal
    to the full store), docs_raw/tokens are shared via the source
    paths being re-read... then term_stats/doc_stats/postings/meta all
    rebuild through the normal stages. Hot (pruned) terms get idf from
    their REDUCED ttf — the standard lossy trade recorded in lineage.

    Scale shape: one term-keyed exchange for the top-m window with
    WindowGroupLimit partial pushdown (rank over ROUNDED impact so an
    ulp can't change survival), then the ordinary posting build over
    ≤ m·V rows. The pruned store serves block-max WAND exactly like
    the full one — smaller lists, fewer shards, less decode work.

    ``sel_avgdl`` / ``sel_idf`` override the SELECTION scoring snapshot
    (which postings of a hot term survive) without touching the serving
    stats — prune_store_incremental passes the ORIGINAL prune's
    snapshot here so its full-twin is provably equal; ``sel_idf_from``
    records the snapshot's provenance in meta. Defaults: the source
    store's own stats (a fresh snapshot).
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    meta = src.meta()
    avgdl = float(meta["avg_doc_len"]) or 1.0
    sel_avgdl = float(sel_avgdl) if sel_avgdl is not None else avgdl
    dt = src.doc_term(spark)
    idf = (
        sel_idf
        if sel_idf is not None
        else src.term_stats(spark).select("term_sign", "idf")
    )
    pruned = _impact_topm(dt, idf, sel_avgdl, m, k1, b)
    # the pruned store is a wholly derived artifact: wipe-with-guards
    # (input-overlap refusal + non-store refusal; see _wipe_derived_out_dir)
    _wipe_derived_out_dir(out_dir, force, inputs=(src.root,))
    return _write_pruned_store(
        spark, src, pruned, out_dir, m, sel_avgdl, sel_idf_from or src.root
    )


def prune_store_incremental(
    spark: SparkSession,
    src: SegmentStore,
    prev_pruned: SegmentStore,
    delta_ids: DataFrame,
    out_dir: str,
    k1: float = 1.2,
    b: float = 0.75,
    force: bool = False,
) -> SegmentStore:
    """Delta-bounded maintenance of a pruned champion store: after a
    compaction folded delta docs into the new full store *src* (see
    streaming.ingest.compact_incremental / delete_docs), re-run the
    top-m selection ONLY for terms whose posting lists changed —
    every other term's champion list is carried over from
    *prev_pruned* byte-for-byte. At 100 TB the champion tier is
    maintainable per delta segment instead of re-windowing the whole
    vocabulary per delta.

    Provable contract: the output equals a FULL ``prune_store(src, m)``
    run under the SAME selection snapshot (the original prune's
    sel_avgdl + sel_idf, chained through meta) — pinned in
    tests/test_streaming.py. The snapshot pins only which HOT-term
    postings survive; serving stats (meta n_docs/avg_doc_len, idf of
    unpruned terms) come from *src* exactly like prune_store, so
    tiered_wand_topk's tier-1 bit-identity certificate over the NEW
    full store is unaffected. Re-prune from scratch (fresh snapshot)
    when the corpus has drifted enough that champion quality matters.

    ``delta_ids`` = the doc_ids added, replaced or deleted since
    *prev_pruned* was built (one ``doc_id`` column; the compaction's
    delta set). Changed terms are found by semi-joining BOTH the old
    and the new full store's doc_term against it — broadcast-sized by
    the delta, never a full-vocabulary pass.

    Scale shape: one broadcast semi-join per side for the changed-term
    census, a term-keyed anti-join to carry unchanged champions, and
    the _impact_topm window over changed terms only (delta-vocabulary
    bounded), then the ordinary posting rebuild.
    """
    prev_meta = prev_pruned.meta()
    m = prev_meta.get("prune_m")
    if m is None:
        raise ValueError(f"{prev_pruned.root} is not a prune_store output")
    old_root = prev_meta.get("pruned_from")
    snap_root = prev_meta.get("sel_idf_from", old_root)
    sel_avgdl = float(prev_meta.get("sel_avgdl", prev_meta["avg_doc_len"]))
    old_src = SegmentStore(old_root)
    snap_store = SegmentStore(snap_root)

    ids = F.broadcast(delta_ids.select("doc_id").distinct())
    new_dt = src.doc_term(spark)
    # terms BORN after the snapshot must re-window every incremental,
    # even when this delta left them untouched: their selection idf is
    # the CURRENT store's (no snapshot value exists — _snapshot_idf
    # coalesces to current), which drifts as n_docs grows, so a carried
    # list from an earlier incremental could diverge from the full
    # snapshot-pinned twin at a rounding tie. Bounded by the vocabulary
    # born since the snapshot (a term_stats-level anti-join, compact),
    # not the full vocabulary.
    born_after = (
        src.term_stats(spark).select("term_sign")
        .join(snap_store.term_stats(spark).select("term_sign"), "term_sign", "left_anti")
    )
    changed = (
        new_dt.join(ids, "doc_id").select("term_sign")
        .union(old_src.doc_term(spark).join(ids, "doc_id").select("term_sign"))
        .union(born_after)
        .distinct()
    )
    sel_idf = _snapshot_idf(spark, snap_store, src)
    rewindowed = _impact_topm(
        new_dt.join(changed, "term_sign", "left_semi"), sel_idf, sel_avgdl, m, k1, b
    )
    carried = prev_pruned.doc_term(spark).join(changed, "term_sign", "left_anti")
    pruned = carried.select(*new_dt.columns).unionByName(
        rewindowed.select(*new_dt.columns)
    )

    _wipe_derived_out_dir(
        out_dir, force, inputs=(src.root, prev_pruned.root, old_root, snap_root)
    )
    return _write_pruned_store(
        spark, src, pruned, out_dir, m, sel_avgdl, snap_root,
        incremental_from=prev_pruned.root,
    )
