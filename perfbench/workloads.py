"""The benchmark's workloads: ``serve`` and ``refresh``.

Both are closed loops with one client: the driver thread sends the next
call only after the previous one has returned, and every query call
collects its rows to the driver inside its timed window. Each workload
first makes the stores it serves from and times those calls too, so the
cold build is measured on every run (and the prune on every refresh run);
serve also times a warm rebuild of its store.
Every call records its wall window and the CPU seconds of the driver's
process tree, which in local mode is the whole engine.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from checks import Tally, median, mismatched_queries, tail, topk_by_query
from eventlog import Call
from tiny_search_engine_spark.build import (
    BuildConfig,
    SegmentStore,
    build_index,
    prune_store,
    prune_store_incremental,
    with_doc_id,
)
from tiny_search_engine_spark.compress import decode_posting, encode_posting
from tiny_search_engine_spark.config import QueryConfig
from tiny_search_engine_spark.query import (
    QueryEngine,
    assert_content_sha256,
    choose_prune_m,
    tiered_wand_topk,
)
from tiny_search_engine_spark.session import scratch_dir
from tiny_search_engine_spark.streaming import compact_incremental, ingest_available_now
from tiny_search_engine_spark.synth import (
    SOURCE_SCHEMA,
    make_doc,
    make_queries,
    make_stopwords,
    source_files,
    source_files_local,
)
from tiny_search_engine_spark.tokenizer import tokenize_with_stats

K = 20
QLOG = 1000  # query log choose_prune_m sizes the champion tier from
TARGET_TIER1 = 0.9
SMALL = 40  # queries per small batch
SMALL_BATCHES = 2  # small batches sent after each refresh
BATCH = 4000  # big batch sent to wand_topk
EXACT = 250  # the big batch's exact slice, sent to bm25_topk
WARMUP_ROUNDS = 1  # serve rounds before timing
MIN_ROUNDS = 2  # timed serve rounds, at least
SERVE_DOCS = 2000
REFRESH_DOCS = 1500  # base store of the refresh workload
REFRESH_DELTA = 250  # docs landed per refresh cycle
REFRESH_REPLACE = 0.1  # share of the delta that replaces base docs
TOKENIZER_DOCS = 2000
TOKENIZER_QUERIES = 4000


def build_config() -> BuildConfig:
    """The fast-path build configuration bench.py uses."""
    return BuildConfig(
        tokenizer="code",
        stopwords=frozenset(make_stopwords()),
        write_tokens=False,
        copy_content=False,
        per_bucket_metrics=False,
    )


QCFG = QueryConfig(profile="standard", compat="fixed")


def _seed(*parts: int) -> int:
    """Derived input seed (make_doc / make_queries hash it, so any int works)."""
    s = 0
    for p in parts:
        s = s * 1_000_003 + int(p)
    return s % (2**31)


def queries(n: int, seed: int, first_id: int = 0) -> list[tuple[int, str]]:
    return [(first_id + i, q) for i, q in enumerate(make_queries(n, seed=seed))]


def store_bytes(root: str) -> int:
    """On-disk bytes of every file under a store directory."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files)


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of *root* and every live descendant,
    including children they have reaped. In local mode the driver's
    process tree is the whole engine: the JVM runs every task and forks
    the Python workers."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                data = fh.read()
        except OSError:  # the process ended while we listed
            continue
        f = data[data.rindex(")") + 2:].split()  # fields after the command name
        stats[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))  # ppid; u+s+cu+cs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


class Bench:
    """One run: the session, its scratch space, the call log the trace
    attributes Spark jobs to, and the tally of checks."""

    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.calls: list[Call] = []
        self.tally = Tally()
        self.samples: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}
        self.cfg = build_config()
        self.tier1_queries = 0
        self.answered_queries = 0
        self.pid = os.getpid()

    def call(self, name: str, phase: str, fn, rows: bool = False, sample: str | None = None):
        """Run *fn* as one call of *name* and record its window; in the
        timed phase its wall is also kept under *sample*."""
        c0 = tree_cpu_s(self.pid)
        t0 = time.time()
        p0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - p0
        call = Call(name, phase, t0, time.time(), len(out) if rows else 0,
                    tree_cpu_s(self.pid) - c0)
        self.calls.append(call)
        if sample and phase == "timed":
            self.samples.setdefault(sample, []).append(wall)
        return out, wall

    def count_tiers(self, rows) -> None:
        """Queries answered from the pruned tier vs queries with results."""
        answered = {int(r["query_id"]): bool(r["tier1"]) for r in rows}
        self.tier1_queries += sum(answered.values())
        self.answered_queries += len(answered)

    def path(self, name: str) -> str:
        return os.path.join(scratch_dir("store_"), name)

    # -------------------------------------------------------------- set-up

    def corpus(self, n_docs: int, seed: int):
        """Seeded source_files corpus, cached; returns (df, content bytes)."""
        src = source_files(self.spark, n_docs, seed=seed).cache()
        (row,), _ = self.call(
            "synth.source_files", "setup",
            lambda: src.agg(
                F.count("*").alias("n"), F.sum(F.octet_length("content")).alias("bytes")
            ).collect(),
        )
        self.tally.check(row["n"] == n_docs, f"corpus has {row['n']} docs, want {n_docs}")
        return src, int(row["bytes"])

    def index(self, src, n_docs: int, content_bytes: int, prune: bool):
        """Build the full store and check it against its source; with
        *prune*, also size the champion tier from a query log and prune.
        Returns (full store, pruned store or None)."""
        store, build_s = self.call(
            "build.build_index", "setup",
            lambda: build_index(self.spark, src, self.path("full"), self.cfg),
        )
        self.values["build_docs_per_s"] = n_docs / build_s
        self.values["index_bytes_per_source_byte"] = store_bytes(store.root) / content_bytes
        self.check_store(store, src, n_docs)
        if not prune:
            return store, None
        qlog = queries(QLOG, _seed(self.seed, 1))
        m, choose_s = self.call(
            "query.choose_prune_m", "setup",
            lambda: choose_prune_m(self.spark, store, qlog, target_tier1=TARGET_TIER1),
        )
        pruned, prune_s = self.call(
            "build.prune_store", "setup",
            lambda: prune_store(self.spark, store, self.path("pruned"), m=m),
        )
        self.values["prune_s"] = choose_s + prune_s
        self.values["index_bytes_per_source_byte"] += store_bytes(pruned.root) / content_bytes
        self.values["prune_m"] = m
        return store, pruned

    def check_store(self, store: SegmentStore, src, n_docs: int) -> None:
        bad, _ = self.call(
            "query.assert_content_sha256", "check",
            lambda: assert_content_sha256(self.spark, store, src),
        )
        self.tally.check(bad == 0, f"{bad} content_sha256 mismatches in {store.root}")
        got = int(store.meta()["n_docs"])
        self.tally.check(got == n_docs, f"{store.root} meta n_docs {got}, want {n_docs}")

    # -------------------------------------------------------------- serving

    def serving_round(self, phase: str, full, pruned, seed: int, what: str,
                      n_batch: int, n_exact: int, n_batches: int = 1) -> None:
        """One round of the serving mix, one call at a time: *n_batches*
        seeded batches of *n_batch* queries to wand_topk — or, when there
        is a pruned store, to tiered_wand_topk — then the first *n_exact*
        queries of every batch, in one call, to bm25_topk. The exact slice
        is checked for parity afterwards. With *n_exact* 0 there is no
        exact call and no check."""
        qs = queries(n_batch * n_batches, _seed(seed, 0))
        batches = [qs[i:i + n_batch] for i in range(0, len(qs), n_batch)]
        exact_qs = [q for bt in batches for q in bt[:n_exact]]
        eng = QueryEngine(self.spark, full, QCFG)
        label = "wand_topk" if pruned is None else "tiered_wand_topk"
        first = len(self.calls)
        top = []
        for bt in batches:
            if pruned is None:
                rows, _ = self.call(f"query.{label}", phase,
                                    lambda: eng.wand_topk(bt, k=K).collect(), True, "wand")
            else:
                rows, _ = self.call(
                    f"query.{label}", phase,
                    lambda: tiered_wand_topk(self.spark, full, pruned, bt, k=K, cfg=QCFG).collect(),
                    True, "tiered",
                )
            top.extend(rows)
        if not exact_qs:  # a warm-up of the WAND path alone
            return
        exact, _ = self.call("query.bm25_topk", phase,
                             lambda: eng.bm25_topk(exact_qs, k=K).collect(), True, "exact")
        if phase == "timed":
            round_calls = self.calls[first:]
            wall = sum(c.t1 - c.t0 for c in round_calls)
            cpu = sum(c.cpu_s for c in round_calls)
            sent = len(qs) + len(exact_qs)
            self.samples.setdefault("serving_qps", []).append(sent / wall)
            self.samples.setdefault("serving_cpu_ms", []).append(1000.0 * cpu / sent)
            if pruned is not None:
                self.count_tiers(top)
        self.check_parity(label, top, exact, {q for q, _ in exact_qs}, what)
        self.values.update(n_batch=n_batch, n_exact=len(exact_qs))

    def check_parity(self, label: str, rows, exact, qids, what: str) -> None:
        """The WAND path's rows must be rank-identical to exhaustive BM25
        on the exact slice, in doc ids and scores."""
        bad = mismatched_queries(topk_by_query(rows), topk_by_query(exact), qids)
        self.tally.check(not bad, f"{what}: {label} differs from bm25_topk on queries {bad[:5]}")

    # -------------------------------------------------------------- layers

    def layer_probes(self, store: SegmentStore) -> dict[str, float]:
        """Driver-side, single-core rates of the tokenizer and compress
        layers, measured from outside through their public functions."""
        out: dict[str, float] = {}
        mode = store.meta()["tokenizer"]
        docs = source_files_local(TOKENIZER_DOCS, seed=_seed(self.seed, 7))
        t = time.perf_counter()
        for d in docs:
            tokenize_with_stats(d["content"], mode)
        out["tokenizer.docs_per_s"] = len(docs) / (time.perf_counter() - t)
        qs = make_queries(TOKENIZER_QUERIES, seed=_seed(self.seed, 8))
        t = time.perf_counter()
        for q in qs:
            tokenize_with_stats(q, mode)
        out["tokenizer.queries_per_s"] = len(qs) / (time.perf_counter() - t)

        rows, _ = self.call(
            "perfbench.read_postings", "probe",
            lambda: store.postings(self.spark)
            .select("doc_bytes", "tf_bytes", "dl_bytes", "n_docs", "bytes_total")
            .collect(),
        )
        n_post = sum(int(r["n_docs"]) for r in rows)
        out["compress.bytes_per_posting"] = sum(int(r["bytes_total"]) for r in rows) / n_post
        t = time.perf_counter()
        decoded = [decode_posting(r["doc_bytes"], r["tf_bytes"], r["dl_bytes"]) for r in rows]
        out["compress.decode_postings_per_s"] = n_post / (time.perf_counter() - t)
        block = int(store.meta()["block_size"])
        t = time.perf_counter()
        for d, tf, dl in decoded:
            encode_posting(d, tf, dl, block_size=block, presorted=True)
        out["compress.encode_postings_per_s"] = n_post / (time.perf_counter() - t)
        return out


def query_values(b: Bench) -> dict[str, float]:
    s = b.samples
    n_batch, n_exact = b.values["n_batch"], b.values["n_exact"]
    out = {
        "serving_qps": median(s["serving_qps"]),
        "serving_cpu_ms_per_query": median(s["serving_cpu_ms"]),
        "exact_qps": n_exact / median(s["exact"]),
        "wand_qps": 0.0,
        "tiered_qps": 0.0,
        "small_batch_s_p50": 0.0,
        "small_batch_s_tail": 0.0,
        "small_batch_tail_pct": 0.0,
    }
    if "wand" in s:
        out["wand_qps"] = n_batch / median(s["wand"])
    if "tiered" in s:
        out["tiered_qps"] = n_batch / median(s["tiered"])
    if n_batch == SMALL:  # the tiered calls are the small batches
        # the highest percentile with ten samples beyond it, else the max
        pct, val = tail(s["tiered"]) or (100.0, max(s["tiered"]))
        out.update(small_batch_s_p50=median(s["tiered"]), small_batch_s_tail=val,
                   small_batch_tail_pct=pct)
    return out


def run_serve(b: Bench, seconds: float) -> SegmentStore:
    """A static corpus: one timed warm rebuild of its store, then a closed
    loop of big-batch WAND + exact rounds on the rebuilt store. No pruned
    store: a prune costs as much as the build, and the refresh
    workload already prunes and serves tiered."""
    src, content_bytes = b.corpus(SERVE_DOCS, b.seed)
    # the cold build (and the JVM's compilation of the build path) is
    # set-up; the timed rebuild is warm, so its CPU repeats
    full, _ = b.index(src, SERVE_DOCS, content_bytes, prune=False)
    # warm-up: a full-size round on its own seed stream compiles the plans
    # and starts every Python worker. JIT compilation goes on for several
    # calls: the first timed round still costs more CPU per query than the
    # rounds after it. The metric, the median of the timed rounds,
    # includes that; a second warm-up round would cost a tenth of the run.
    for w in range(WARMUP_ROUNDS):
        b.serving_round("warmup", full, None, _seed(b.seed, 3, w), "serve warm-up",
                        BATCH, EXACT)
    b.values["setup_end"] = time.perf_counter()

    deadline = time.perf_counter() + seconds
    # the corpus becomes servable again: a warm build into a fresh store,
    # checked, then served from by every timed round
    store, wall = b.call(
        "build.build_index", "timed",
        lambda: build_index(b.spark, src, b.path("rebuilt"), b.cfg),
    )
    b.values.update(servable_s=wall, servable_cpu_s=b.calls[-1].cpu_s,
                    build_docs_per_s=SERVE_DOCS / wall)
    b.check_store(store, src, SERVE_DOCS)
    r = 0
    while r < MIN_ROUNDS or time.perf_counter() < deadline:
        r += 1
        b.serving_round("timed", store, None, _seed(b.seed, 2, r), f"serve round {r}",
                        BATCH, EXACT)
    b.values.update(query_values(b), rounds=r)
    return full


def land_delta(inbox: str, base_docs: int, n: int, seed: int, cycle: int) -> int:
    """Write one seeded delta into a fresh inbox: a REFRESH_REPLACE share
    re-uses base keys (same repo/path/commit, new content), the rest are
    keys the base does not have. Returns the number of new keys."""
    rng = np.random.default_rng(_seed(seed, 4, cycle))
    n_rep = int(round(n * REFRESH_REPLACE))
    content_seed = _seed(seed, 5, cycle)
    replaced = rng.choice(base_docs, size=n_rep, replace=False)
    first = base_docs + cycle * n  # a key block of its own per cycle
    fresh = range(first, first + n - n_rep)
    # make_doc keys (repo/path/commit) depend on the doc number only, so
    # a base number with another content seed is a replacement
    rows = [make_doc(content_seed, int(i)) for i in list(replaced) + list(fresh)]
    os.makedirs(inbox)
    cols = [c.split()[0] for c in SOURCE_SCHEMA.split(", ")]
    pd.DataFrame(rows, columns=cols).to_parquet(os.path.join(inbox, "part-0.parquet"), index=False)
    return n - n_rep


def run_refresh(b: Bench, seconds: float) -> SegmentStore:
    """Writes beside reads: every cycle lands its own delta against the
    same base, makes it servable (ingest → compact_incremental →
    prune_store_incremental) and sends a fixed sequence of small batches to
    tiered_wand_topk, then their queries to bm25_topk, on the new stores;
    each tiered call is a small-batch latency sample."""
    spark = b.spark
    src, content_bytes = b.corpus(REFRESH_DOCS, b.seed)
    base, base_pruned = b.index(src, REFRESH_DOCS, content_bytes, prune=True)

    def cycle(c: int, phase: str) -> tuple[float, float]:
        root = scratch_dir(f"cycle{c}_")
        inbox = os.path.join(root, "inbox")
        n_new = land_delta(inbox, REFRESH_DOCS, REFRESH_DELTA, b.seed, c)
        live = os.path.join(root, "live")
        _, t_in = b.call(
            "streaming.ingest_available_now", phase,
            lambda: ingest_available_now(spark, inbox, live, os.path.join(root, "ck")),
        )
        new, t_co = b.call(
            "streaming.compact_incremental", phase,
            lambda: compact_incremental(spark, base, live, os.path.join(root, "full"), b.cfg),
        )
        new_pruned, t_pr = b.call(
            "build.prune_store_incremental", phase,
            lambda: prune_store_incremental(
                spark, new, base_pruned,
                with_doc_id(spark.read.schema(SOURCE_SCHEMA).parquet(inbox)).select("doc_id"),
                os.path.join(root, "pruned"),
            ),
        )
        chain = b.calls[-3:]  # ingest, compact, incremental prune
        want_n = REFRESH_DOCS + n_new
        got_n = int(new.meta()["n_docs"])
        b.tally.check(got_n == want_n, f"cycle {c}: compacted n_docs {got_n}, want {want_n}")
        b.serving_round(phase, new, new_pruned, _seed(b.seed, 6, c), f"refresh cycle {c}",
                        SMALL, SMALL, SMALL_BATCHES)
        shutil.rmtree(root, ignore_errors=True)
        return t_in + t_co + t_pr, sum(call.cpu_s for call in chain)

    # warm-up: one small tiered batch on the base stores (its own seed
    # stream). No exact call: it would add about 2.5 s to every run, and
    # the cycle's exact call is only the parity check. No warm-up
    # cycle: the set-up build and prune have run the same stages, and a
    # cycle costs as much as the rest of set-up.
    b.serving_round("warmup", base, base_pruned, _seed(b.seed, 6, -1), "refresh warm-up",
                    SMALL, 0)
    b.values["setup_end"] = time.perf_counter()

    deadline = time.perf_counter() + seconds
    refresh, refresh_cpu = [], []
    c = 0
    while True:
        wall, cpu = cycle(c, "timed")
        refresh.append(wall)
        refresh_cpu.append(cpu)
        c += 1
        if time.perf_counter() >= deadline:
            break
    b.values.update(query_values(b), servable_s=median(refresh),
                    servable_cpu_s=median(refresh_cpu), rounds=c)
    return base


WORKLOADS = {"serve": run_serve, "refresh": run_refresh}
