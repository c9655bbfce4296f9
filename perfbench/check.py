"""Output checks: engine answers against ``oracle/pandas_oracle.py``."""

from __future__ import annotations

from web_based_search_engine_spark.oracle import pandas_oracle as O
from web_based_search_engine_spark.plans.query import parse_query

K = 50
TOL = 1e-9


class Expected:
    """Oracle top-k answers for the queries of one corpus, computed once."""

    def __init__(self, rows):
        self.idx = O.build_oracle_index(rows)
        self._cache: dict[str, dict] = {}

    def scores(self, query: str) -> dict:
        """Every matching doc's oracle score (phrase filter applied) — the
        whole set, so ties at the top-k boundary can be judged."""
        if query not in self._cache:
            pq = parse_query(query)
            s = O.score(self.idx, pq.keywords)
            if pq.phrase:
                keep = O.phrase_docs(self.idx, pq.phrase)
                s = {d: v for d, v in s.items() if d in keep}
            self._cache[query] = s
        return self._cache[query]


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(b))


def topk_matches(results: list[dict], expected: dict, k: int = K) -> bool:
    """True iff ``results`` (HTTP /search rows, in rank order) is a correct
    top-k: each doc carries its oracle score, no doc repeats, and the score
    sequence equals the oracle's top-k sequence.  Docs tied on score at the
    cut may differ (the engine breaks ties by doc id, the oracle by key)."""
    want = sorted(expected.values(), reverse=True)[:k]
    if len(results) != len(want):
        return False
    keys = [(r["repo"], r["path"], r["commit"]) for r in results]
    if len(set(keys)) != len(keys):
        return False
    for key, r, w in zip(keys, results, want):
        if key not in expected or not _close(r["score"], expected[key]) or not _close(r["score"], w):
            return False
    return True


def well_formed(results: list[dict], k: int = K) -> bool:
    """Sanity check for reads whose exact answer moves under concurrent
    upserts: at most k rows, scores non-increasing."""
    scores = [r["score"] for r in results]
    return len(scores) <= k and all(a >= b for a, b in zip(scores, scores[1:]))
