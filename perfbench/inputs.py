"""Seeded inputs for the benchmark: corpus, query pool and stream, upsert batches.

Everything here is a pure function of ``--seed`` and the sizes below; the
engine only ever sees the generated rows, queries and snapshots.
"""

from __future__ import annotations

import hashlib
import json
import random
from collections import Counter
from dataclasses import dataclass, field

from web_based_search_engine_spark import fixtures
from web_based_search_engine_spark.functions.analysis import analyze_text_py

# Corpus size: small enough that a full run (JVM start, set-up build, the
# measured window, correctness checks) stays well inside the per-run limit
# on a 4-core host, large enough that a build is dominated by work rather
# than by per-job scheduling.
N_DOCS = 1000
# Query pool: distinct queries per shape; Zipf rank r holds shape
# SHAPES[r % 6], so every seed sends the same mix of shapes.  The phrase
# shape stays far below the engine's 64-entry phrase LRU.
PER_SHAPE = 4
SHAPES = ("hot", "phrase", "multi", "zipf_head", "rare", "broad")
ZIPF_S = 1.1
SCHEDULE_LEN = 96
# Upsert batch shares of the corpus, per round (modified / added / deleted).
MOD_SHARE, ADD_SHARE, DEL_SHARE = 0.01, 0.002, 0.002
# Docs per marker token: every marker query must fit in one top-50 page so
# "the marker docs come back" is an exact set comparison over HTTP.
MARKER_GROUP = 50

Row = tuple  # (repo, path, commit, lang, content)


def corpus(seed: int, n_docs: int = N_DOCS) -> list[Row]:
    return fixtures.corpus_rows(n_docs, seed)


def content_bytes(rows: list[Row]) -> int:
    return sum(len(r[4].encode()) for r in rows)


def _ranked_terms(rows: list[Row]) -> list[str]:
    """Raw content tokens that survive analysis, most frequent first (the
    fixture corpus is Zipf-skewed, so rank bands give hot / mid / rare)."""
    counts = Counter(tok for r in rows for tok in r[4].split() if tok != "import")
    ranked = sorted(counts, key=lambda t: (-counts[t], t))
    return [t for t in ranked if analyze_text_py(t)]


def query_pool(rows: list[Row], seed: int) -> list[tuple[str, str]]:
    """``PER_SHAPE`` distinct (shape, query) pairs per shape, ordered by
    Zipf rank (rank r has shape ``SHAPES[r % len(SHAPES)]``).  Frequent
    terms are taken by frequency rank, so every seed asks queries of the
    same cost; rare terms are drawn by the seed."""
    rng = random.Random(f"pool:{seed}")
    terms = _ranked_terms(rows)
    head, mid = terms[:8], terms[8:40]
    rare = rng.sample([t for t in terms[40:] if t.startswith("rare")], 2 * PER_SHAPE)
    makers = {
        "hot": lambda i: head[i],
        "phrase": lambda i: f'{mid[i]} "{head[i]} {head[i + 1]}"',
        "multi": lambda i: f"{mid[2 * i]} {mid[2 * i + 1]} {mid[8 + i]}",
        "zipf_head": lambda i: f"{head[i]} {rare[i]}",
        "rare": lambda i: f"{rare[PER_SHAPE + i]} {mid[16 + i]}",
        "broad": lambda i: " ".join(head[i:i + 4] + mid[i:i + 6]),
    }
    return [(shape, makers[shape](i)) for i in range(PER_SHAPE) for shape in SHAPES]


def schedule(pool_size: int) -> list[int]:
    """``SCHEDULE_LEN`` pool indices whose counts follow the Zipf weights
    (largest remainder), each query's repeats spread evenly (stride order),
    so a short window still sends the Zipf mix; clients cycle through it."""
    w = [1.0 / (r + 1) ** ZIPF_S for r in range(pool_size)]
    share = [SCHEDULE_LEN * x / sum(w) for x in w]
    counts = [int(x) for x in share]
    for r in sorted(range(pool_size), key=lambda r: counts[r] - share[r])[:SCHEDULE_LEN - sum(counts)]:
        counts[r] += 1
    slots = [((k + 0.5) / c, r) for r, c in enumerate(counts) for k in range(c)]
    return [r for _, r in sorted(slots)]


def marker(rnd: int, group: int) -> str:
    # ends in a digit+"x" so the Porter stemmer leaves it intact
    return f"upmark{rnd:04d}g{group:02d}x"


def _mark(docs: list[tuple[str, str]], rnd: int) -> dict[tuple[str, str], str]:
    return {key: marker(rnd, i // MARKER_GROUP) for i, key in enumerate(docs)}


@dataclass
class UpsertRound:
    number: int
    snapshot: list[Row]                       # the complete corpus after the round
    changed: list[tuple[str, str]]            # modified + added (repo, path)
    deleted: list[tuple[str, str]]
    changed_bytes: int                        # content bytes of modified + added docs
    # marker token -> exact (repo, path) set a /search for it must return
    expect: dict[str, set] = field(default_factory=dict)


class UpsertPlan:
    """The initial corpus (with round-0 markers) and a lazily generated
    sequence of rounds.  Round r modifies ~1% of docs and adds ~0.2%, all
    carrying a round-r marker; it deletes ~0.2% chosen among the docs that
    carried the round r-1 marker, so a marker r-1 query proves the
    tombstones took effect."""

    def __init__(self, seed: int, n_docs: int = N_DOCS):
        self.rng = random.Random(f"upsert:{seed}")
        base = corpus(seed, n_docs)
        self.n_mod = max(1, round(n_docs * MOD_SHARE))
        self.n_add = max(1, round(n_docs * ADD_SHARE))
        self.n_del = max(1, round(n_docs * DEL_SHARE))
        if self.n_del > self.n_mod + self.n_add:
            raise ValueError("deletes must come from the previous round's changes")
        self.base_content = {(r[0], r[1]): r[4] for r in base}
        self.docs: dict[tuple[str, str], Row] = {(r[0], r[1]): r for r in base}
        first = self.rng.sample(sorted(self.docs), self.n_mod + self.n_add)
        self.marks = _mark(first, 0)
        for key, tok in self.marks.items():
            self.docs[key] = self._revise(self.docs[key], f"{self.base_content[key]} {tok}", 0)
        self.initial = list(self.docs.values())
        self.vocab = _ranked_terms(base)[:200]
        self.rounds = 0

    @staticmethod
    def _revise(row: Row, content: str, rnd: int) -> Row:
        repo, path, _commit, lang, _ = row
        commit = hashlib.sha1(f"{repo}/{path}/r{rnd}".encode()).hexdigest()
        return (repo, path, commit, lang, content)

    def next_round(self) -> UpsertRound:
        self.rounds += 1
        r, rng = self.rounds, self.rng
        prev = sorted(self.marks)
        deleted = rng.sample(prev, self.n_del)
        gone = set(deleted)
        modified = rng.sample(sorted(k for k in self.docs if k not in gone), self.n_mod)
        added = [(f"org_new/proj{r % 5}", f"src/fresh/r{r:04d}_{j:03d}.py") for j in range(self.n_add)]
        for key in deleted:
            del self.docs[key]
        marks = _mark(modified + added, r)
        changed_bytes = 0
        for key in modified:
            # fresh tail words so postings really change, not only the marker
            extra = " ".join(rng.choices(self.vocab, k=8))
            row = self._revise(self.docs[key], f"{self.base_content[key]} {extra} {marks[key]}", r)
            self.docs[key] = row
            changed_bytes += len(row[4].encode())
        for key in added:
            body = " ".join(rng.choices(self.vocab, k=rng.randint(20, 80)))
            content = f"{body} {marks[key]}"
            self.base_content[key] = body
            self.docs[key] = self._revise((*key, "", "py", ""), content, r)
            changed_bytes += len(content.encode())
        expect: dict[str, set] = {}
        for key, tok in marks.items():
            expect.setdefault(tok, set()).add(key)
        # the previous round's markers must now miss every deleted doc and
        # every doc this round rewrote
        for key, tok in self.marks.items():
            expect.setdefault(tok, set())
            if key not in gone and key not in marks:
                expect[tok].add(key)
        self.marks = marks
        return UpsertRound(r, list(self.docs.values()), modified + added, deleted,
                           changed_bytes, expect)


def digest(*parts) -> str:
    """Stable hash of generated inputs, recorded beside each run."""
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, default=list).encode())
    return h.hexdigest()[:16]
