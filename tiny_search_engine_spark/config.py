"""Engine configuration: BM25 profiles, compat modes, build knobs.

The reference hard-codes k1=2.0, k2=1.0, b=0.75
(/root/reference/src/table.cpp:785-787) while BASELINE.json's metric names
the textbook k1=1.2, b=0.75 — so constants are a config *profile*:
``reference`` is used for rank-identity tests, ``standard`` for the
product-facing default.

Compat modes capture the reference's effective (buggy) query semantics
(/root/reference/src/table.cpp:418-471 argument-order bug — see
golden/model.py): ``reference`` replicates them bit-for-bit, ``fixed``
implements the obviously-intended semantics.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Profile:
    k1: float
    k2: float
    b: float


def reference_idf(ttf: int, n_docs: int) -> float:
    """The reference's idf with its unsigned-wrap quirk, pinned in float64.

    /root/reference/src/math_util.cpp:19-23 computes
    ``log((float(doc_num - doc_freq) + 0.5) / (float(doc_freq) + 0.5))``
    where ``doc_num - doc_freq`` is **size_t arithmetic**: when the total
    term frequency exceeds N (stopword-heavy code tokens: `the`, `return`,
    `def` …) the subtraction wraps to ~2^64 and the float32 cast lands on
    ~1.8446744e19 — a huge POSITIVE idf, not NaN. The float32 cast is
    structural (it defines the wrapped value) and is kept; everything else
    is float64 (the documented deterministic refinement, SURVEY.md §4.5).
    """
    import numpy as np

    diff = n_docs - ttf
    if diff >= 0:
        divisor = diff + 0.5
    else:
        divisor = float(np.float32((1 << 64) + diff)) + 0.5
    return math.log(divisor / (ttf + 0.5))


BM25_PROFILES: dict[str, BM25Profile] = {
    # /root/reference/src/table.cpp:785-787
    "reference": BM25Profile(k1=2.0, k2=1.0, b=0.75),
    # BASELINE.json metric (textbook Robertson constants; k2 term dropped = 1x
    # factor only when tf_q==1; we keep k2 so the formula stays one code path)
    "standard": BM25Profile(k1=1.2, k2=1.0, b=0.75),
}

# /root/reference/conf/sys.conf:32-36
MAX_SYN_TERM_RECALL = 10
MAX_2ND_SORT_NUM = 200
MAX_RESULT_NUM = 20


@dataclass
class BuildConfig:
    """Knobs for the index build (see build.py)."""

    tokenizer: str = "code"  # 'code' | 'ws'  (tokenizer.py)
    # posting-list physical format
    block_size: int = 128  # docs per block-max block
    # doc-sharding: a term with df > postings_per_shard is split across
    # ceil(df / postings_per_shard) doc-hash shards (capped at max_shards).
    # This IS the north rule's "salted repartition-by-term with explicit
    # skew splitting for stopword-heavy terms": the salt is the doc shard,
    # heavy (high-df) terms get many shards, light terms get one.
    postings_per_shard: int = 1 << 20
    max_shards: int = 1 << 15
    # stopwords (term strings) — excluded from postings like
    # /root/reference/src/table.cpp:273-275
    stopwords: frozenset[str] = field(default_factory=frozenset)
    # write the exploded token table (forward index) — needed by the exact
    # parity / feature path; the WAND fast path doesn't read it
    write_tokens: bool = True
    # copy content bytes into the store's docs_raw table. False = store
    # only the id-map + sha256 and read content from the source scan (at
    # 100 TB the engine must not duplicate the corpus); True = the store
    # is self-contained (search() feature path reads content from it)
    copy_content: bool = True
    # per-bucket posting metrics in lineage (1 extra metadata-column scan)
    per_bucket_metrics: bool = True
    # doc_term carries pre_term_sign (sign of the token preceding each
    # term's first occurrence, 0 if doc-initial) — the reference's
    # computed-but-unused GlobalTermInfo adjacency slot
    # (/root/reference/src/segment.cpp:84-99); opt-in, nothing reads it
    write_pre_term_sign: bool = False
    # persist doc_term (MEMORY_AND_DISK) across its three consumer stages
    # instead of re-reading the parquet it just wrote; spills gracefully
    # when it outgrows executor memory
    cache_doc_term: bool = True
    # forward-side table layout: 0 = plain parquet dirs (default);
    # N > 0 = write doc_term / doc_stats / tokens as hash-BUCKETED
    # tables on doc_id (N buckets, bucket-sorted), the declarative
    # co-located-join layout pipeline.layout.write_bucketed provides for
    # corpus tables, wired into the segment store itself. Every
    # doc_id-keyed join/groupBy/window the exact query paths run per
    # batch (records window, doc_stats join, candidate-doc semi-joins)
    # then plans WITHOUT a shuffle exchange — the scan reports hash
    # partitioning. Readers re-register the external bucketed tables per
    # session (SegmentStore._bucketed_table); production = Iceberg
    # bucket(N, doc_id) partition transforms.
    bucket_tables: int = 0


@dataclass
class QueryConfig:
    profile: str = "reference"  # BM25 constants profile
    compat: str = "reference"  # 'reference' (bug-faithful) | 'fixed'
    k: int = MAX_RESULT_NUM
    max_2nd_sort: int = MAX_2ND_SORT_NUM
    max_syn_recall: int = MAX_SYN_TERM_RECALL
    # final-score scorer for search(): 'vsm' (the reference's shipped
    # choice, /root/reference/src/table.cpp:709), 'bm25', or 'coverage'
    # (cqr·ctr — the reference's V0.1 scorer per its README version table)
    ranker: str = "vsm"
    # emit the full 38-feature D11 map (3-significant-digit rounded, the
    # reference's FeatureMgr dump) as a map<string,double> column from
    # search(); off by default — it forces the full feature kernels for
    # every funnel survivor instead of the fast vsm/bm25 inline path
    emit_features: bool = False
    # Adaptive Query Execution posture for the serving session: the query
    # plans do their own partitioning (doc-group routing, broadcast query
    # side), and AQE's per-exchange job barriers + replans add ~constant
    # driver latency per batch that never amortizes (measured ~2s/batch
    # local[8]). Build jobs re-enable AQE (build_index) — coalescing and
    # skew-join belts matter there. None = leave the session alone.
    disable_aqe: bool | None = True
    # batch scorer within each doc group: 'matrix' (one sparse
    # queries×terms · terms×docs product — C-speed, exhaustive),
    # 'taat' (per-query block-max-pruned term-at-a-time), or 'auto'
    # (matrix for batches ≥ 32 queries). Both exact.
    batch_score: str = "auto"
    # WAND batch doc-group fan (pow2). None → ~2× defaultParallelism.
    # Posting slices are routed/split to this many doc-range groups and
    # each group scores the whole query batch (query.py wand_topk).
    query_doc_fan: int | None = None
