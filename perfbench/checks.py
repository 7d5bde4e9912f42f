"""Result checks and sample statistics for the benchmark (pure Python)."""

from __future__ import annotations

import math
import statistics

# scores within this relative tolerance are ties: the same rule the
# parity tests apply between the WAND and exhaustive BM25 paths
REL_TOL = 1e-9


class Tally:
    """Checks attempted and failed in one run; ``failed_frac`` is
    failed ÷ attempted. A call that raises ends the run instead."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def topk_by_query(rows, score: str = "bm25") -> dict[int, list[tuple[int, float]]]:
    """Collected top-k rows → {query_id: [(doc_id, score), …] in rank order}."""
    out: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r[score])))
    return out


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def ranked_equal(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Rank-identical: equal length, equal score at every rank, and the
    same doc ids within every tie group of *want*."""
    if len(got) != len(want):
        return False
    if not all(_close(g[1], w[1]) for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and _close(want[j][1], want[i][1]):
            j += 1
        if {d for d, _ in got[i:j]} != {d for d, _ in want[i:j]}:
            return False
        i = j
    return True


def mismatched_queries(got: dict, want: dict, qids) -> list[int]:
    """Query ids among *qids* whose ranking in *got* differs from *want*."""
    return [q for q in qids if not ranked_equal(got.get(q, []), want.get(q, []))]


def median(samples: list[float]) -> float:
    return statistics.median(samples)


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile in TAIL_LADDER with
    at least ten samples beyond it, or None when there are too few."""
    n = len(samples)
    for p in TAIL_LADDER:
        permille = round(p * 10)
        if n * (1000 - permille) >= 10_000:  # n·(1 - p) ≥ 10, in integers
            qs = statistics.quantiles(samples, n=1000, method="inclusive")
            return p, qs[permille - 1]
    return None
