"""Query engine over the segment store.

Three paths, all batch (queries are a DataFrame, like the reference's
stdin loop /root/reference/src/main.cpp:75-90 re-expressed as a table):

* ``bm25_topk``   — exact OR-recall + BM25 top-k, fully declarative
  DataFrame ops (one join against the per-(doc,term) table + window
  top-k). Replicates the reference's effective query semantics — incl.
  the C4 argument-order bug (/root/reference/src/table.cpp:418-471,
  SURVEY.md §2 C4) — as join/window algebra under ``compat="reference"``.
* ``search``      — the full reference pipeline: recall → 1st sort funnel
  (term_hits desc, recall_by_syn asc, doc_len asc; table.cpp:404-414) →
  D1-D10 features for the top-200 (table.cpp:665-668) → final sort by
  vsm (table.cpp:709) → top-k. Features run in ONE Arrow-batched
  ``applyInPandas`` per query group (the reference's OpenMP loop,
  table.cpp:665, becomes executor parallelism).
* ``wand_topk``   — batched doc-group scoring over the compressed
  postings: the scale path (novel vs the reference). Posting bytes are
  shuffled once per doc-range group — never per query — and each group
  scores the whole batch against postings decoded once (sparse-product
  kernel for large batches, block-max-pruned TAAT for small ones). Exact
  w.r.t. the clean BM25 semantics (compat="fixed", no synonyms);
  equality vs ``bm25_topk`` is a test invariant.

Query-side info (tokens, dups, term_map, synonym expansions) is computed
driver-side with the shared tokenizer — the query set is small by
definition — and shipped broadcast (tiny DataFrames / a python dict for
the WAND batch); the document side never leaves the executors.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .build import POSTING_BUCKETS, SegmentStore
from .compress import decode_doc_ids, range_shard, varbyte_decode
from .config import BM25_PROFILES, QueryConfig
from .hashing import term_sign
from .tokenizer import text_len, tokenize_with_stats

# wand_topk's per-doc-group batch scorer: batches of at least this many
# non-empty queries use the sparse queries×terms · terms×docs product
# (_score_batch_matrix — C-speed, exhaustive); smaller ones use per-query
# block-max-pruned term-at-a-time (_score_batch_taat). Both are exact.
MATRIX_SCORE_MIN_QUERIES = 32

# The WAND doc-group fan (wand_topk and tiered_wand_topk): one group per
# this many postings of the batch's terms (Σ df), pow2, capped at the
# session fan. A group is one Python score task, whose fixed cost
# outweighs what a split saves below about this many postings. Measured
# on 4 cores: up to Σ df 65k one or two groups cost the least CPU at the
# same wall time, four and eight up to twice as much; at 160-169k two
# groups were best; at 416k four cut wall time by 17% for 10% more CPU.
POSTINGS_PER_DOC_GROUP = 131072


def _in_expr(col: str, values: list[int]) -> F.Column:
    """``col IN (v1, v2, ...)`` as ONE parsed SQL expression.

    Semantically identical to ``F.col(col).isin(values)`` (same Catalyst
    ``In`` → ``InSet``, same parquet pushdown) but built in one Py4J call:
    ``isin`` creates a JVM literal per value — ~2000 query-term signs cost
    seconds of driver time per batch, a width-independent fixed cost."""
    return F.expr(f"{col} IN ({','.join(str(int(v)) for v in values)})")


@dataclass
class QueryInfo:
    query_id: int
    query: str
    signs: list[int]
    dups: list[int]
    term_map: dict[int, list]  # sign -> [tf, first_idx, offsets]
    query_len: int
    syns: list[list[str]]  # per term
    wei: list[float] | None = None  # per occurrence (idf; stopwords 0)
    vec_module: float = 0.0
    wei_sum: float = 0.0


class SynonymDict:
    """C2: cluster dict + the reference's length/substring filter
    (/root/reference/src/synonyms.cpp:57-84)."""

    def __init__(self, clusters: list[list[str]] | None):
        self.clusters = clusters or []
        self.of: dict[str, int] = {}
        for cid, cl in enumerate(self.clusters):
            for t in cl:
                self.of.setdefault(t, cid)

    def get(self, term: str) -> list[str]:
        cid = self.of.get(term)
        if cid is None:
            return []
        out = []
        for cand in self.clusters[cid]:
            if len(term.encode()) > len(cand.encode()) and term.find(cand) == -1:
                continue
            out.append(cand)
        return out


class QueryEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SegmentStore,
        cfg: QueryConfig | None = None,
        synonyms: list[list[str]] | None = None,
    ):
        self.spark = spark
        self.store = store
        self.cfg = cfg or QueryConfig()
        meta = store.meta()
        self.mode = meta["tokenizer"]
        self.n_docs = int(meta["n_docs"])
        self.avg_doc_len = float(meta["avg_doc_len"])
        self.stop_signs = {term_sign(w) for w in meta.get("stopwords", [])}
        self.syn = SynonymDict(synonyms)
        if self.cfg.disable_aqe is not None:
            # serving posture: AQE's per-exchange job barriers cost ~2s of
            # driver latency per batch and our plans partition explicitly;
            # production separates build (AQE on) and serving sessions —
            # build_index restores AQE for its own jobs in mixed sessions
            spark.conf.set(
                "spark.sql.adaptive.enabled", str(not self.cfg.disable_aqe).lower()
            )

    def _cached(self, name: str) -> DataFrame:
        """Store table opened once per session (SegmentStore.opened):
        spark.read.parquet lists files and reads a schema per call, so
        engines on the same store share one open instead of paying it per
        engine and batch."""
        if name == "docs":  # SegmentStore.docs's join view, over opened tables
            return self._cached("docs_raw").join(self._cached("doc_stats"), "doc_id")
        return self.store.opened(self.spark, name)

    # ------------------------------------------------------------------
    # query-side prep (driver; query sets are small)
    # ------------------------------------------------------------------

    def query_infos(
        self, queries: list[tuple[int, str]], with_weights: bool = True
    ) -> list[QueryInfo]:
        out = []
        for qid, q in queries:
            toks, dups, tmap = tokenize_with_stats(q, self.mode)
            out.append(
                QueryInfo(
                    query_id=qid,
                    query=q,
                    signs=[term_sign(t.term) for t in toks],
                    dups=dups,
                    term_map={k: [v[0], v[1], list(v[2])] for k, v in tmap.items()},
                    query_len=text_len(toks),
                    syns=[self.syn.get(t.term) for t in toks],
                )
            )
        if with_weights:
            self._fill_query_weights(out)
        return out

    def _fill_query_weights(self, qis: list[QueryInfo]) -> None:
        """Per-occurrence wei=idf, vec_module, wei_sum
        (/root/reference/src/table.cpp:620-631): distributed idf lookup for
        the (small) union of query-term signs, then driver-side sums.
        Needed by the vsm/feature paths only — wand_topk skips it."""
        signs = sorted({s for qi in qis for s in qi.signs})
        idf_map: dict[int, float] = {}
        if signs:
            ts = self._cached("term_stats")
            rows = (
                ts.filter(_in_expr("term_sign", signs))
                .select("term_sign", "idf")
                .collect()
            )
            idf_map = {r["term_sign"]: r["idf"] for r in rows}
        for qi in qis:
            mod = 0.0
            ws = 0.0
            wei = [0.0] * len(qi.signs)
            for i, s in enumerate(qi.signs):
                if s in self.stop_signs:
                    continue
                w = idf_map.get(s, 0.0)
                wei[i] = w
                mod += w * w
                ws += w
            qi.wei = wei
            qi.vec_module = math.sqrt(mod)
            qi.wei_sum = ws

    def _event_rows(self, qis: list[QueryInfo]) -> list[tuple]:
        """Recall 'events' in reference processing order: for each query
        term i (dup==1 only, table.cpp:349-351) the original-term event
        (kind=0), then its synonym events (kind=1, j capped at 10,
        table.cpp:377, identical-sign syn skipped table.cpp:379-380).

        Row: (query_id, sign, i, kind, j, tf_q_own, tf_q0, tf_q1, tf_q_ori)
        where tf_q_own is the term's own in-query tf, tf_q0/tf_q1 the
        tf of query tokens 0 / 1 (C4-bug donors; table.cpp:457-459), and
        tf_q_ori the tf of the ORIGINAL query term i — what a synonym
        match inherits under the bug-corrected fixed semantics
        (fill_match_term_info with is_syn_match=true reads query term
        in_q_idx_term, table.cpp:450-455; == tf_q_own for kind=0)."""
        rows = []
        for qi in qis:
            if not qi.signs:
                continue
            tf_q0 = qi.term_map[qi.signs[0]][0]
            tf_q1 = qi.term_map[qi.signs[1]][0] if len(qi.signs) > 1 else 0
            for i, s in enumerate(qi.signs):
                if qi.dups[i] > 1:
                    continue
                tf_ori = qi.term_map[s][0]
                rows.append((qi.query_id, s, i, 0, 0, tf_ori, tf_q0, tf_q1, tf_ori))
                for j, syn in enumerate(qi.syns[i][: self.cfg.max_syn_recall]):
                    ss = term_sign(syn)
                    if ss == s:
                        continue
                    tf_own = qi.term_map.get(ss, [0])[0]  # default-insert → 0
                    rows.append((qi.query_id, ss, i, 1, j + 1, tf_own, tf_q0, tf_q1, tf_ori))
        return rows

    # ------------------------------------------------------------------
    # match-record construction (shared by bm25_topk and search)
    # ------------------------------------------------------------------

    def _records(self, qis: list[QueryInfo]) -> DataFrame:
        """Per-(query, doc, term) match records with the compat-resolved
        in-query tf, plus per-(query,doc) recall_by_syn.

        Declarative translation of recall + fill_match_term_info
        (table.cpp:343-471): the event table joins the per-(doc,term)
        postings view; the discovery event per (query,doc) is the
        window-min over the reference's processing order (i, kind, j);
        the C4 bug rewrites the discovery record's in-query stats."""
        spark = self.spark
        compat_ref = self.cfg.compat == "reference"
        ev = spark.createDataFrame(
            self._event_rows(qis),
            "query_id long, term_sign long, i int, kind int, j int, "
            "tf_q_own int, tf_q0 int, tf_q1 int, tf_q_ori int",
        )
        # non-stopword per-(doc,term) table (the uncompressed posting view);
        # stop terms never entered term_stats, so an inner join on it both
        # resolves idf and enforces the stopword gate (table.cpp:273-275)
        dt = self._cached("doc_term").select(
            "doc_id", "term_sign", F.col("tf").alias("tf_d")
        )
        ts = self._cached("term_stats").select("term_sign", "idf", "term_len")
        dt = dt.join(ts, "term_sign")  # drops stopworded + unknown terms

        m = dt.join(F.broadcast(ev), "term_sign")
        w = Window.partitionBy("query_id", "doc_id").orderBy("i", "kind", "j")
        m = m.withColumn("ev_rank", F.row_number().over(w))
        # discovery event attributes, broadcast down the group
        wg = Window.partitionBy("query_id", "doc_id")
        m = (
            m.withColumn("disc_i", F.first("i").over(w))
            .withColumn("disc_kind", F.first("kind").over(w))
            .withColumn("disc_sign", F.first("term_sign").over(w))
        )
        if compat_ref:
            # arg-order bug: recall_by_syn = (bool)i of the discovery call
            m = m.withColumn("recall_by_syn", F.col("disc_i") != 0)
        else:
            m = m.withColumn("recall_by_syn", F.col("disc_kind") == 1)

        # record selection:
        #  * every original-term event yields a record (dedup'd by sign —
        #    signs are unique among kept original terms)
        #  * a synonym event yields a record ONLY if it is the discovery
        #    event (docs already in res_map are skipped, table.cpp:388-393)
        #  * an original record whose sign was already inserted by a
        #    discovery synonym is dropped (match_term_map collision,
        #    table.cpp:361-363)
        is_disc = F.col("ev_rank") == 1
        keep = (F.col("kind") == 0) | is_disc
        m = m.filter(keep)
        m = m.withColumn(
            "syn_disc_sign",
            F.max(F.when((F.col("kind") == 1) & is_disc, F.col("term_sign"))).over(wg),
        )
        m = m.filter(
            (F.col("kind") == 1)
            | F.col("syn_disc_sign").isNull()
            | (F.col("term_sign") != F.col("syn_disc_sign"))
        )
        # two original events can share a sign only via dup-skip (excluded);
        # one record per (query,doc,sign) now holds.

        # compat-resolved in-query tf (fill_match_term_info, table.cpp:443-471)
        if compat_ref:
            tf_q = (
                F.when(
                    is_disc & (F.col("disc_i") != 0) & (F.col("kind") == 0),
                    F.col("tf_q0"),  # original term i>0 discovery → term 0 stats
                )
                .when(
                    is_disc & (F.col("disc_i") != 0) & (F.col("kind") == 1),
                    F.col("tf_q1"),  # synonym discovery, i>=1 → term 1 stats
                )
                .otherwise(F.col("tf_q_own"))  # incl. syn i==0 → default-insert 0
            )
        else:
            # fixed semantics: a synonym match inherits the ORIGINAL query
            # term's stats (fill_match is_syn_match=true, table.cpp:450-455);
            # tf_q_ori == tf_q_own for kind=0 rows
            tf_q = F.col("tf_q_ori")
        m = m.withColumn("tf_q", tf_q)
        m = m.withColumn("hit_freq", F.least("tf_q", "tf_d"))
        m = m.withColumn("is_syn_disc", is_disc & (F.col("kind") == 1))
        return m.select(
            "query_id", "doc_id", "term_sign", "i", "kind", "j",
            "tf_q", "tf_d", "hit_freq", "idf", "term_len",
            "recall_by_syn", "is_syn_disc", "disc_i",
            is_disc.alias("is_disc"),
        )

    # ------------------------------------------------------------------
    # path 1: exact BM25 top-k (declarative)
    # ------------------------------------------------------------------

    def bm25_topk(self, queries: list[tuple[int, str]], k: int | None = None) -> DataFrame:
        """Top-k by BM25 over all recalled candidates.

        Physical plan: broadcast(events) ⋈ doc_term → window-resolved
        records → groupBy(query,doc) sum → join doc_len → window top-k
        (TakeOrderedAndProject shape per query)."""
        k = k or self.cfg.k
        prof = BM25_PROFILES[self.cfg.profile]
        qis = self.query_infos(queries)
        recs = self._records(qis)
        docs = self._cached("doc_stats").select("doc_id", "doc_len")
        adl = self.avg_doc_len
        kd = prof.k1 * (1 - prof.b + prof.b * F.col("doc_len") / F.lit(adl))
        contrib = (
            F.col("idf")
            * (F.col("tf_d") * (prof.k1 + 1) / (F.col("tf_d") + kd))
            * (F.col("tf_q") * (prof.k2 + 1) / (F.col("tf_q") + F.lit(prof.k2)))
        )
        scored = (
            recs.join(docs, "doc_id")
            .withColumn("contrib", contrib)
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum("contrib").alias("bm25"),
                F.sum("hit_freq").alias("term_hits"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "bm25", "term_hits")
        )

    # ------------------------------------------------------------------
    # path 2: full reference pipeline (funnel + D1-D10 features + vsm rank)
    # ------------------------------------------------------------------

    def search(self, queries: list[tuple[int, str]], k: int | None = None) -> DataFrame:
        """recall → 1st sort → features(top-200) → final rank → top-k.

        Returns (query_id, rank, doc_id, final_score, vsm, bm25,
        term_hits) — plus a ``features`` map<string,double> column (the
        D11 FeatureMgr dump, 3-significant-digit rounded) when
        ``QueryConfig.emit_features`` is set. ``QueryConfig.ranker``
        selects final_score: vsm (reference default) / bm25 / coverage."""
        k = k or self.cfg.k
        spark = self.spark
        meta = self.store.meta()
        if not meta.get("write_tokens", True) or not meta.get("copy_content", True):
            raise ValueError(
                "search() needs the positional token table + content for "
                "D4-D8 features; this store was built with "
                "BuildConfig(write_tokens=False) or copy_content=False — "
                "use bm25_topk()/wand_topk(), or rebuild with both enabled"
            )
        qis = self.query_infos(queries)
        qmap = {qi.query_id: qi for qi in qis}
        recs = self._records(qis)
        docs_slim = self._cached("docs").select(
            "doc_id", "doc_len", "vec_module", "wei_sum", "content"
        )
        match_fields = [
            "term_sign", "i", "kind", "tf_q", "tf_d", "idf",
            "term_len", "is_syn_disc",
        ]
        if self.cfg.emit_features or self.cfg.ranker == "coverage":
            # D8 offset-donor resolution inputs — the feature-export
            # kernel reads them whenever it computes the full feature
            # map (features.py need_full = emit_features or
            # ranker=='coverage', compat_ref branch); the predicate here
            # must mirror need_full exactly or the kernel KeyErrors on
            # m["is_disc"]. Keeping them out of the vsm/bm25 hot path
            # trims the collect_list struct every candidate row carries.
            match_fields += ["is_disc", "disc_i"]
        cand = recs.groupBy("query_id", "doc_id").agg(
            F.sum("hit_freq").alias("term_hits"),
            F.max(F.col("recall_by_syn").cast("int")).cast("boolean").alias("recall_by_syn"),
            F.collect_list(F.struct(*match_fields)).alias("matches"),
        )
        # 1st sort funnel: pinned refinement of table.cpp:404-414
        wfun = Window.partitionBy("query_id").orderBy(
            F.desc("term_hits"),
            F.asc(F.col("recall_by_syn").cast("int")),
            F.asc("doc_len"),
            F.asc("doc_id"),
        )
        cand = (
            cand.join(docs_slim.select("doc_id", "doc_len"), "doc_id")
            .withColumn("funnel_rank", F.row_number().over(wfun))
        )
        top = cand.filter(F.col("funnel_rank") <= self.cfg.max_2nd_sort)
        rest_cols = [
            F.col("query_id"), F.col("doc_id"), F.col("term_hits"),
            F.lit(0.0).alias("final_score"), F.lit(0.0).alias("vsm"),
            F.lit(0.0).alias("bm25"),
        ]
        if self.cfg.emit_features:
            # funnel-overflow rows never reach the feature kernels
            # (table.cpp:404-414: only the top max_2nd_sort are featured)
            rest_cols.append(
                F.create_map().cast("map<string,double>").alias("features")
            )
        rest = cand.filter(F.col("funnel_rank") > self.cfg.max_2nd_sort).select(
            *rest_cols
        )

        # doc-side arrays for the feature UDF (only for funnel survivors:
        # a selective semi-join keeps this narrow at scale)
        tokens = self._cached("tokens")
        ts_idf = self._cached("term_stats").select("term_sign", "idf")
        doc_arrays = (
            tokens.join(top.select("doc_id").distinct(), "doc_id", "left_semi")
            .join(ts_idf, "term_sign", "left")
            .withColumn("wei", F.coalesce("idf", F.lit(0.0)))
            .groupBy("doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "term_sign", "offset", "length", "wei"))
                ).alias("toks")
            )
        )
        feat_in = top.join(doc_arrays, "doc_id").join(
            docs_slim.select("doc_id", "vec_module", "wei_sum", "content"), "doc_id"
        )

        stop_signs = self.stop_signs
        prof = BM25_PROFILES[self.cfg.profile]
        avg_dl = self.avg_doc_len
        qinfo_b = spark.sparkContext.broadcast(
            {
                qi.query_id: {
                    "query": qi.query,
                    "signs": qi.signs,
                    "term_map": qi.term_map,
                    "query_len": qi.query_len,
                    "wei": qi.wei,
                    "vec_module": qi.vec_module,
                    "wei_sum": qi.wei_sum,
                }
                for qi in qmap.values()
            }
        )

        from .features import compute_features_pdf  # late import (executor-safe)

        out_schema = (
            "query_id long, doc_id long, term_hits long, final_score double, "
            "vsm double, bm25 double"
        )
        if self.cfg.emit_features:
            out_schema += ", features map<string,double>"
        ranker, emit = self.cfg.ranker, self.cfg.emit_features
        compat_ref_flag = self.cfg.compat == "reference"

        def feat_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
            qid = int(key[0])
            qi = qinfo_b.value[qid]
            return compute_features_pdf(
                qi, pdf, stop_signs, prof, avg_dl,
                ranker=ranker, emit_features=emit,
                compat_ref=compat_ref_flag,
            )

        # cap the feature-stage shuffle at the distinct-query count: the
        # groupBy would otherwise hash into ALL shuffle partitions and spin
        # a Python worker per task even when most partitions are empty —
        # pure spin-up overhead for interactive batches (and the stage most
        # exposed to this VM's steal windows). The explicit hash
        # repartition on the grouping key satisfies the groupBy's
        # clustering requirement, so no second exchange is added (same
        # pattern as the per-gshard WAND apply below).
        n_feat_parts = max(
            1,
            min(len(qmap), int(spark.conf.get("spark.sql.shuffle.partitions"))),
        )
        featured = (
            feat_in.repartition(n_feat_parts, "query_id")
            .groupBy("query_id")
            .applyInPandas(feat_fn, out_schema)
        )
        allc = featured.unionByName(rest.select(*featured.columns))
        wfin = Window.partitionBy("query_id").orderBy(F.desc("final_score"), F.asc("doc_id"))
        final_cols = [
            "query_id", "rank", "doc_id", "final_score", "vsm", "bm25", "term_hits"
        ]
        if self.cfg.emit_features:
            final_cols.append("features")
        return (
            allc.withColumn("rank", F.row_number().over(wfin))
            .filter(F.col("rank") <= k)
            .select(*final_cols)
        )

    # ------------------------------------------------------------------
    # path 3: block-max WAND over compressed postings (scale path)
    # ------------------------------------------------------------------

    def wand_topk(self, queries: list[tuple[int, str]], k: int | None = None) -> DataFrame:
        """Exact BM25 top-k via pruned evaluation of compressed postings
        (compat="fixed" semantics, no synonyms — the clean product path).

        The one-tier call of ``_wand_plan``, the batched doc-group
        dataflow that tiered_wand_topk runs over both of its stores in one
        plan. The fan is ``query_doc_fan``, else sized to the batch by
        ``_batch_fan`` from Σ df of its terms (one ``_query_term_census``
        lookup; a batch without terms runs no job at all)."""
        k = k or self.cfg.k
        qterms = _query_terms(queries, self.mode)
        fan = self.cfg.query_doc_fan
        if fan is None:
            dfs = _query_term_census(self.spark, self.store, qterms)
            fan = _batch_fan(self.spark, sum(dfs.values()))
        return _wand_plan(self.spark, [(self, qterms)], k, fan)


def _session_fan(spark: SparkSession) -> int:
    """Doc-group fan that keeps every core busy: ~2× defaultParallelism,
    pow2 so the build's pow2 shard ranges nest."""
    par = spark.sparkContext.defaultParallelism
    return max(4, 1 << (2 * par - 1).bit_length())


def _batch_fan(spark: SparkSession, n_postings: int) -> int:
    """Doc-group fan sized to a batch's posting volume: one group per
    POSTINGS_PER_DOC_GROUP matched postings, rounded up to a power of two
    and capped at the session fan."""
    groups = -(-n_postings // POSTINGS_PER_DOC_GROUP)
    return min(_session_fan(spark), 1 << max(groups - 1, 0).bit_length())


def _wand_plan(
    spark: SparkSession,
    tiers: list[tuple[QueryEngine, dict[int, list[tuple[int, int]]]]],
    k: int,
    S: int,
) -> DataFrame:
    """Batched doc-group WAND over one or more (engine, query terms)
    tiers, as ONE plan: (query_id, rank, doc_id, bm25). Query terms are
    ``_query_terms`` dicts; a query_id must appear in one tier only.

    Posting bytes are shuffled ONCE per doc group — never per query — so
    shuffle volume is the pruned index slice (a coarse row once per group
    it covers), independent of batch size (the 100 TB design).

    1. per tier, a bucket-pruned scan of its store's postings (term_sign
       IN pushed to parquet) ⋈ broadcast idf for pre-v2 stores; the
       tiers' scans are unioned.
    2. route in the JVM (a projection, no Python stage) into S doc groups
       per tier, gshard = tier·S + g. A posting row with m doc-RANGE
       shards (build.py job_postings) goes to every group its shard
       covers: one group, shard·S/m, when m ≥ S (the shard nests in it);
       the S/m groups from shard·S/m up when m < S (replicated). The
       row's WAND bounds are the max of its block_max_tf and the min of
       its block_min_dl.
    3. per-gshard ``applyInPandas``: decode each routed row once, mask a
       replicated row to the group's own docs (range_shard is the build's
       shard function at granularity S), then score ALL of the tier's
       queries against the group's term arrays, with one broadcast of
       per-tier (avg_dl, query dict, scorer, BM25 constants); emit
       per-query group-local top-k, ranked.
    4. one global window merge. Each doc lives in exactly one group of
       its tier, so per-group top-k → global top-k is exact. At S = 1 a
       query's rows all come from one group and the merge is skipped."""
    params, scans = [], []
    for t, (eng, qdict) in enumerate(tiers):
        prof = BM25_PROFILES[eng.cfg.profile]
        params.append((eng.avg_doc_len, qdict, len(qdict) >= MATRIX_SCORE_MIN_QUERIES,
                       prof.k1, prof.k2, prof.b))
        if not qdict:
            continue
        signs = sorted({s for terms in qdict.values() for s, _ in terms})
        buckets = sorted({s % POSTING_BUCKETS for s in signs})
        # bucket list prunes parquet PARTITIONS; the IN on term_sign is
        # pushed into the scan for row-group skipping within buckets
        # (build writes buckets sorted by term_sign so group stats are
        # tight ranges). _in_expr, not Column.isin: isin costs one Py4J
        # literal round-trip per value — measured seconds of DRIVER time
        # per 1000-query batch, a fixed cost that caps batch scaling.
        post = eng._cached("postings").filter(
            _in_expr("bucket", buckets) & _in_expr("term_sign", signs)
        )
        if "idf" not in post.columns:  # pre-v2 store: idf via broadcast join
            ts = eng._cached("term_stats").select("term_sign", "idf").filter(
                _in_expr("term_sign", signs)
            )
            post = post.join(F.broadcast(ts), "term_sign")
        # [lo, hi]: the tier's groups this row's shard covers. n_shards and
        # S are powers of two, so a shard either nests in one group or
        # covers S / n_shards whole groups
        lo = f"cast({t * S} + shard * {S} div n_shards as int)"
        hi = f"{lo} + cast(greatest({S} div n_shards, 1) as int) - 1"
        scans.append(post.select(
            F.expr(f"explode(sequence({lo}, {hi}))").alias("gshard"),
            "term_sign", "n_shards", "idf", "doc_bytes", "tf_bytes", "dl_bytes",
            F.array_max("block_max_tf").alias("max_tf"),
            F.array_min("block_min_dl").alias("min_dl"),
        ))
    if not scans:  # limit(0) plans as an empty local relation: no job
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, bm25 double"
        ).limit(0)
    routed = scans[0]
    for p in scans[1:]:
        routed = routed.union(p)

    kk = k
    qb = spark.sparkContext.broadcast(params)

    def score_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(key[0])
        avg_dl, qdict, use_matrix, k1, k2, b = qb.value[g // S]
        # decode every routed row ONCE; tf-part of BM25 and its upper
        # bound are query-independent — computed per row, reused by every
        # query touching the term
        termd: dict[int, list] = {}
        for r in pdf.itertuples():
            d = decode_doc_ids(r.doc_bytes)
            mine = slice(None)
            if r.n_shards < S:  # replicated row: keep this group's docs
                mine = range_shard(d, S) == g % S
                if not mine.any():  # skip the tf/dl decode too
                    continue
            d = d[mine]
            t = varbyte_decode(r.tf_bytes).astype(np.int64)[mine]
            dl = varbyte_decode(r.dl_bytes).astype(np.int64)[mine]
            if d.size == 0:
                continue
            kd = k1 * (1 - b + b * dl / avg_dl)
            tfpart = t * (k1 + 1) / (t + kd)
            mtf = float(r.max_tf)
            ub_tf = mtf * (k1 + 1) / (mtf + k1 * (1 - b + b * float(r.min_dl) / avg_dl))
            termd.setdefault(int(r.term_sign), []).append(
                (d, tfpart, ub_tf, float(r.idf))
            )
        if use_matrix:
            out = _score_batch_matrix(termd, qdict, k1, k2, kk)
        else:
            out = _score_batch_taat(termd, qdict, k2, kk)
        if out is None:
            return pd.DataFrame({"query_id": [], "rank": [], "doc_id": [], "bm25": []}).astype(
                {"query_id": "int64", "rank": "int32", "doc_id": "int64", "bm25": "float64"}
            )
        q, d, s = out
        # the scorers emit each query's rows together, best first
        first = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        rank = np.arange(1, q.size + 1) - np.repeat(first, np.diff(np.r_[first, q.size]))
        return pd.DataFrame({"query_id": q, "rank": rank.astype(np.int32), "doc_id": d, "bm25": s})

    # pre-partition by gshard at 2 per group so the score stage gets ~one
    # group per task: the default shuffle.partitions hash-packs the
    # groups into few partitions (collisions → idle cores + stragglers);
    # the repartition satisfies the groupBy's clustering requirement, so
    # no second shuffle is added
    per_shard = routed.repartition(2 * S * len(scans), F.col("gshard")).groupBy(
        "gshard"
    ).applyInPandas(score_fn, "query_id long, rank int, doc_id long, bm25 double")
    if S == 1:  # each query is scored in one group: its local top-k is final
        return per_shard
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        per_shard.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "bm25")
    )


def _score_batch_taat(termd: dict, qdict: dict, k2: float, kk: int):
    """Per-query pruned TAAT over the group's decoded term arrays.
    Best for SMALL batches: block-max upper bounds let each query skip
    low-impact lists. Returns (query_ids, doc_ids, scores) or None."""
    out_q, out_d, out_s = [], [], []
    for qid, terms in qdict.items():
        lists = []
        for s, tf_q in terms:
            rows_t = termd.get(s)
            if not rows_t:
                continue
            qf = tf_q * (k2 + 1) / (tf_q + k2)
            for d, tfpart, ub_tf, idf in rows_t:
                # idf<=0 terms bounded by 0: their contribution is negative
                # and can never lift a doc into the top-k
                lists.append(
                    (ub_tf * idf * qf if idf > 0 else 0.0, d, tfpart * (idf * qf))
                )
        if not lists:
            continue
        doc_ids, scores = _pruned_taat(lists, kk)
        if doc_ids.size == 0:
            continue
        n = min(kk, doc_ids.size)
        # group-local top-k with (score desc, doc_id asc) tiebreak
        order = np.lexsort((doc_ids, -scores))[:n]
        out_q.append(np.full(n, qid, dtype=np.int64))
        out_d.append(doc_ids[order])
        out_s.append(scores[order])
    if not out_q:
        return None
    return np.concatenate(out_q), np.concatenate(out_d), np.concatenate(out_s)


def _score_batch_matrix(termd: dict, qdict: dict, k1: float, k2: float, kk: int):
    """Batch scorer: dense scatter-add over a group-local score array (the
    classic search-engine "score bucket" evaluation, vectorized). Per doc
    group: index the group's docs once (U of them), then for each query
    scatter-add each matched term's precomputed tf-part × (idf·qf) into a
    reusable float64[U] buffer and read back only the touched entries —
    no per-(query,group) sort, no COO expansion, memory O(U). Exhaustive
    (no pruning) but every op is C-speed over exactly the entries TAAT
    would touch. Exact same top-k as TAAT (full BM25 sums,
    (score desc, doc_id asc) tiebreak)."""
    if not termd:
        return None
    # local doc index over the group's docs + per-row local indices
    all_d = np.concatenate([d for rows in termd.values() for (d, _, _, _) in rows])
    uniq = np.unique(all_d)
    U = uniq.size
    if U == 0:
        return None
    rows_by_sign: dict[int, list] = {}
    for s_, rows in termd.items():
        rows_by_sign[s_] = [
            (np.searchsorted(uniq, d), tfpart, idf) for d, tfpart, _ub, idf in rows
        ]
    scores = np.zeros(U, dtype=np.float64)
    out_q, out_d, out_s = [], [], []
    for qid, terms in qdict.items():
        idx_parts = []
        for s_, tf_q in terms:
            rr = rows_by_sign.get(s_)
            if not rr:
                continue
            qf = tf_q * (k2 + 1) / (tf_q + k2)
            for inv, tfpart, idf in rr:
                # unique indices per row → fancy-index += is safe
                scores[inv] += tfpart * (idf * qf)
                idx_parts.append(inv)
        if not idx_parts:
            continue
        cand = np.unique(np.concatenate(idx_parts)) if len(idx_parts) > 1 else idx_parts[0]
        ss = scores[cand]
        # full-candidate lexsort (not argpartition): ties at the kth score
        # must resolve by doc_id asc to stay rank-identical to the exact path
        o = np.lexsort((cand, -ss))[:kk]
        out_q.append(np.full(o.size, qid, dtype=np.int64))
        out_d.append(uniq[cand[o]])
        out_s.append(ss[o])
        scores[cand] = 0.0  # reset only the touched slots
    if not out_q:
        return None
    return np.concatenate(out_q), np.concatenate(out_d), np.concatenate(out_s)


def _pruned_taat(lists: list[tuple], kk: int):
    """Pruned term-at-a-time scoring: process lists in upper-bound-desc
    order; once the remaining suffix upper bound cannot beat the current
    k-th best lower bound, new docs are barred and updates restrict to
    already-seen docs. Exact for the top-k (strict < test: an unseen doc
    could still TIE the kth score and win the doc_id-asc tiebreak)."""
    lists.sort(key=lambda x: -x[0])
    suffix = np.cumsum([0.0] + [ub for ub, _, _ in lists][::-1])[::-1]
    doc_ids = np.empty(0, dtype=np.int64)
    scores = np.empty(0, dtype=np.float64)
    for li, (ub, d, contrib) in enumerate(lists):
        if doc_ids.size >= kk:
            kth = np.partition(scores, scores.size - kk)[scores.size - kk]
            if suffix[li] < kth:
                mask = np.isin(d, doc_ids, assume_unique=True)
                d, contrib = d[mask], contrib[mask]
                if d.size == 0:
                    continue
                idx = np.searchsorted(doc_ids, d)
                scores[idx] += contrib
                continue
        merged = np.concatenate([doc_ids, d])
        msc = np.concatenate([scores, contrib])
        order = np.argsort(merged, kind="stable")
        merged, msc = merged[order], msc[order]
        uniq, start = np.unique(merged, return_index=True)
        sums = np.add.reduceat(msc, start)
        doc_ids, scores = uniq, sums
    return doc_ids, scores


def synonym_expand(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    clusters: list[list[str]],
    mode: str = "ws",
    max_syn: int = 10,  # MAX_SYN_TERM_RECALL, /root/reference/conf/sys.conf:33
) -> DataFrame:
    """C2 as declarative DataFrame algebra (the engine's distributed twin
    of SynonymDict; /root/reference/src/synonyms.cpp:57-84 +
    table.cpp:377-380):

    * a term maps to its FIRST containing cluster (file order);
    * candidate kept iff byte_len(term) <= byte_len(cand) OR cand is a
      substring of term;
    * candidates identical to the term (case-folded sign) are skipped;
    * capped at *max_syn* per query term, in cluster order.

    Returns (query_id, term_idx, term, syn, syn_rank)."""
    from .tokenizer import tokenize

    qt_rows = []
    for qid, q in queries:
        for i, t in enumerate(tokenize(q, mode)):
            qt_rows.append((qid, i, t.term))
    qt = spark.createDataFrame(qt_rows or [], "query_id long, term_idx int, term string")
    cl_rows = [
        (cid, pos, t) for cid, cl in enumerate(clusters) for pos, t in enumerate(cl)
    ]
    cl = spark.createDataFrame(
        cl_rows or [], "cluster_id int, pos int, cterm string"
    )
    # term → first containing cluster (synonyms.cpp:24-55 setdefault)
    first_cl = (
        cl.groupBy("cterm")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .withColumnRenamed("cterm", "term")
    )
    cand = (
        qt.join(F.broadcast(first_cl), "term")
        .join(F.broadcast(cl), "cluster_id")
        .filter(
            (F.octet_length("term") <= F.octet_length("cterm"))
            | (F.instr("term", F.col("cterm")) > 0)
        )
        .filter(F.lower(F.col("cterm")) != F.lower(F.col("term")))
    )
    w = Window.partitionBy("query_id", "term_idx").orderBy("pos")
    return (
        cand.withColumn("syn_rank", F.row_number().over(w))
        .filter(F.col("syn_rank") <= max_syn)
        .select("query_id", "term_idx", "term", F.col("cterm").alias("syn"), "syn_rank")
    )


ANSI_RED, ANSI_NONE = "\x1b[31m", "\x1b[0m"


def highlight(df: DataFrame, query: str, text_col: str = "content", mode: str = "code") -> DataFrame:
    """C8 (presentation-only, /root/reference/src/table.cpp:1023-1040):
    wrap query-term matches in ANSI red. Token-boundary-aware via a word
    regex; pure column expression (one regexp_replace per distinct term)."""
    import re as _re

    from .tokenizer import tokenize

    col = F.col(text_col)
    seen = set()
    for t in tokenize(query, mode):
        lw = t.term.lower()
        if lw in seen:
            continue
        seen.add(lw)
        pat = f"(?i)\\b({_re.escape(t.term)})\\b"
        col = F.regexp_replace(col, pat, f"{ANSI_RED}$1{ANSI_NONE}")
    return df.withColumn(f"{text_col}_highlighted", col)


def assert_content_sha256(spark: SparkSession, store: SegmentStore, source_df: DataFrame) -> int:
    """Per-row invariant (BASELINE.json input_hint): every doc's stored
    content_sha256 equals sha256 of the source row. Returns #mismatches."""
    from .build import with_doc_id

    src = with_doc_id(source_df).select(
        "doc_id", F.col("content_sha256").alias("src_sha")
    )
    st = store.docs_raw(spark).select("doc_id", "content_sha256")
    return st.join(src, "doc_id", "inner").filter(
        F.col("content_sha256") != F.col("src_sha")
    ).count()


def _query_terms(queries: list[tuple[int, str]], mode: str) -> dict[int, list[tuple[int, int]]]:
    """The batch's query dict, from ONE tokenization of each text:
    qid → (sign, tf_q) per unique term, in first-occurrence order (the
    dup-skip + tf lookup the full path derives per occurrence). A later
    text of a qid replaces an earlier one only when it has terms; qids
    without terms are left out. No weight fill: the WAND path and the
    census need no Spark job and no QueryInfo/synonym assembly here."""
    qterms: dict[int, list[tuple[int, int]]] = {}
    for qid, q in queries:
        _, _, tmap = tokenize_with_stats(q, mode)
        if tmap:
            qterms[qid] = [(s, ent[0]) for s, ent in tmap.items()]
    return qterms


def _query_term_census(
    spark: SparkSession,
    store: SegmentStore,
    qterms: dict[int, list[tuple[int, int]]],
) -> dict[int, int]:
    """FULL-store df of every term of a ``_query_terms`` dict via ONE
    bucket-pruned term_stats lookup (no job for a dict without terms).
    The input of the WAND fan and of the tier certificate that
    tiered_wand_topk and choose_prune_m share, so the m the sizer picks
    stays aligned with the certificate serving actually applies."""
    signs = sorted({s for terms in qterms.values() for s, _ in terms})
    if not signs:
        return {}
    return {
        r["term_sign"]: r["df"]
        for r in store.opened(spark, "term_stats")
        .filter(_in_expr("term_sign", signs))
        .select("term_sign", "df")
        .collect()
    }


def choose_prune_m(
    spark: SparkSession,
    store: SegmentStore,
    queries: list[tuple[int, str]],
    target_tier1: float = 0.8,
) -> int:
    """Store-level twin of pipeline.retrieval.choose_tier_m: derive the
    prune_store depth ``m`` from a target tier-1 rate over a query log.
    A query is tier-1 under tiered_wand_topk iff every matched term's
    FULL-store df is ≤ m, so the smallest qualifying m is the
    ceil(target·n)-th smallest per-query max-df — production picks m
    from the serving workload instead of by hand (VERDICT r4 ask #5).

    Same scale shape as tiered_wand_topk's certificate: ONE term_stats
    lookup bounded by the batch's unique query terms (bucket-pruned
    scan); the quantile runs over the driver-resident query list the
    API takes by design."""
    if not 0.0 < target_tier1 <= 1.0:
        raise ValueError(f"target_tier1 must be in (0, 1], got {target_tier1}")
    if not queries:
        raise ValueError("empty query log")
    import math

    qterms = _query_terms(queries, store.meta()["tokenizer"])
    df_map = _query_term_census(spark, store, qterms)
    # a qid without terms is answered by either tier: max df 0
    n_empty = len({qid for qid, _ in queries} - qterms.keys())
    maxdfs = sorted(
        [max(df_map.get(s, 0) for s, _ in terms) for terms in qterms.values()]
        + [0] * n_empty
    )
    need = math.ceil(target_tier1 * len(maxdfs))
    return max(int(maxdfs[need - 1]), 1)


def tiered_wand_topk(
    spark: SparkSession,
    full_store: SegmentStore,
    pruned_store: SegmentStore,
    queries: list[tuple[int, str]],
    k: int | None = None,
    cfg: QueryConfig | None = None,
) -> DataFrame:
    """Store-level champion serving: the production composition of
    build.prune_store and the WAND path (two-tier indexes, Manning IR
    §7.1.2; the store twin of pipeline.retrieval.tiered_topk).

    Per-query exactness certificate: if every matched query term's
    document frequency (FULL-store term_stats) is ≤ the pruned store's
    ``m`` (its doc_term lineage), none of the lists the query touches
    lost a posting — and prune_store pins n_docs/avg_doc_len/idf for
    unpruned terms, so tier-1 answers are BIT-IDENTICAL to full-store
    WAND. Those queries scan the compacted postings only (measured 3.5×
    qps at 1M docs / m=2000); queries with a hot term fall back to the
    full store. Output is therefore always exact full BM25, with a
    ``tier1`` flag per row. A duplicated qid is routed by its last text
    with terms, the text WAND scores.

    Scale shape: the certificate costs one term_stats lookup bounded by
    the query batch's unique terms (bucket-pruned scan, driver gets one
    (sign, df) row per query term); then both tiers run as ONE
    ``_wand_plan`` — each tier's postings scan in its own doc-group
    range, one score stage, one top-k merge. The doc-group fan is sized
    to the batch: Σ df of its terms over POSTINGS_PER_DOC_GROUP (see
    ``_batch_fan``), unless ``cfg.query_doc_fan`` sets it."""
    import json as _json
    import os as _os

    cfg = cfg or QueryConfig()
    k = k or cfg.k
    lin = _os.path.join(pruned_store.lineage_path, "doc_term.json")
    with open(lin) as fh:
        j = _json.load(fh)
    m = j.get("prune_m")
    if m is None:
        raise ValueError(
            f"{pruned_store.root} is not a prune_store output "
            "(no prune_m in doc_term lineage)"
        )
    qterms = _query_terms(queries, full_store.meta()["tokenizer"])
    df_map = _query_term_census(spark, full_store, qterms)
    t1_ids = {
        qid for qid, terms in qterms.items()
        if all(df_map.get(s, 0) <= m for s, _ in terms)
    }
    tier1 = {qid: terms for qid, terms in qterms.items() if qid in t1_ids}
    rest = {qid: terms for qid, terms in qterms.items() if qid not in t1_ids}
    fan = cfg.query_doc_fan or _batch_fan(spark, sum(df_map.values()))
    tiers = [(QueryEngine(spark, pruned_store, cfg), tier1),
             (QueryEngine(spark, full_store, cfg), rest)]
    flag = _in_expr("query_id", sorted(t1_ids)) if t1_ids else F.lit(False)
    return _wand_plan(spark, tiers, k, fan).withColumn("tier1", flag)
