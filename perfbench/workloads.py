"""The workloads.  Each returns one ``Phase`` per measured window.

Both set up the same way, timed as ``setup_s``: a JVM-cold full
``IndexBuilder.build`` of the stored seeded corpus, then the index is
opened for serving several times (the median open counts).

- ``search``: 4 closed-loop HTTP clients over a Zipf schedule of query
  shapes, starting on cold caches; every answer is checked against the
  oracle top-50.
- ``upsert``: after one untimed warm-up round, rounds of
  ``incremental_update(full_snapshot=True)`` + POST /refresh, then HTTP
  reads of the new snapshot; each round's marker docs must come back and
  the round's tombstoned docs must be gone.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from dataclasses import dataclass, field

from web_based_search_engine_spark.streaming.incremental import incremental_update

from . import check, harness, inputs
from .harness import median, search

SEARCH_CLIENTS = 4
# Reads of the pool head after each upsert cutover (caches are cold then).
# There is no reader running during the upsert itself: on one driver even a
# paced reader stretched a round from ~11 s to ~27 s and left round times
# too unsteady to bound.
UPSERT_READS = 4
FRESH_WAIT_S = 30


@dataclass
class Phase:
    traced: bool
    closed_loop: bool                               # search: 4 clients, no think time
    op_s: list = field(default_factory=list)        # workload operation walls
    read_s: list = field(default_factory=list)      # HTTP /search latencies
    fresh_s: list = field(default_factory=list)     # upsert start -> marker docs served
    write_amp: list = field(default_factory=list)   # bytes written / changed content bytes
    written: list = field(default_factory=list)     # bytes an upsert round wrote
    items: int = 0                                  # docs changed (upsert)
    attempted: int = 0
    failed: int = 0
    lock: threading.Lock = field(default_factory=threading.Lock)

    def items_per_s(self) -> float:
        """Search: requests per second, as clients / mean response time
        (exact for a closed loop without think time, and free of the
        window-edge rounding a count over a short window has).  Upsert:
        changed docs per second of a median round."""
        if not self.op_s:
            return 0.0
        if self.closed_loop:
            return SEARCH_CLIENTS / statistics.mean(self.op_s)
        return self.items / len(self.op_s) / median(self.op_s)

    def record(self, ok: bool, read_s: float | None = None) -> None:
        with self.lock:
            self.attempted += 1
            self.failed += 0 if ok else 1
            if read_s is not None:
                self.read_s.append(read_s)


@dataclass
class Setup:
    build_s: float
    open_s: float
    n_docs: int
    corpus_bytes: int
    index_bytes: dict
    report: object
    wall_s: float
    inputs: str

    @property
    def setup_s(self) -> float:
        """What a user waits before the first query: the index build plus
        opening it for serving (median of the repeated opens)."""
        return self.build_s + self.open_s


def phases(seconds: float, trace: bool):
    """Trace runs measure half the window untraced, then half traced (the
    difference is the tracing overhead)."""
    if not trace:
        return [(seconds, False)]
    return [(seconds / 2, False), (seconds / 2, True)]


def _set_up(h: harness.Harness, rows, pool):
    """Cold build of ``rows`` and repeated opens; the tracer (trace runs)
    records the build's spans.  Returns (Setup, storage, engine, server)."""
    t0 = time.perf_counter()
    corpus_df, _ = h.store_corpus(rows)
    storage = h.storage()
    h.tracer.enabled, h.tracer.tag = h.trace, "setup"
    report, build_s = h.build(corpus_df, storage)
    h.tracer.enabled, h.tracer.tag = False, "window"
    engine, server, open_s = h.setup_open(storage)
    setup = Setup(build_s, open_s, len(rows), inputs.content_bytes(rows),
                  h.snapshot_bytes(storage), report, time.perf_counter() - t0,
                  inputs.digest(rows, pool))
    return setup, storage, engine, server


def _traced_search(h, port, query):
    r = h.rid()
    with h.tracer.span("client.request", rid=r):
        return search(port, query, rid=r)


# ---------------------------------------------------------------- search
def _closed_loop(h, port, pool, order, expected, secs, ph):
    """``SEARCH_CLIENTS`` threads, each sending its next request only after
    the previous reply, taking queries from one shared cyclic ``order``."""
    nxt = itertools.cycle(order)
    take = threading.Lock()
    t0 = time.perf_counter()

    def client() -> None:
        while time.perf_counter() - t0 < secs:
            with take:
                q = pool[next(nxt)][1]
            try:
                took, rows = _traced_search(h, port, q)
                ph.record(check.topk_matches(rows, expected.scores(q)), took)
            except Exception as e:  # noqa: BLE001 — a failed request is a failed op
                harness.log(f"search failed: {q!r}: {e!r}")
                ph.record(False)

    threads = [threading.Thread(target=client) for _ in range(SEARCH_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def run_search(h: harness.Harness, seed: int, seconds: float, trace: bool):
    rows = inputs.corpus(seed)
    pool = inputs.query_pool(rows, seed)
    expected = check.Expected(rows)
    for _shape, q in pool:
        expected.scores(q)
    setup, _storage, engine, server = _set_up(h, rows, pool)

    out = []
    for secs, traced in phases(seconds, trace):
        ph = Phase(traced, True)
        h.tracer.enabled = traced
        _closed_loop(h, server.port, pool, inputs.schedule(len(pool)), expected, secs, ph)
        h.tracer.enabled = False
        ph.op_s = list(ph.read_s)
        out.append(ph)
    return out, setup, engine, pool


# ---------------------------------------------------------------- upsert
def _read(h, port, query, ph):
    took, res = _traced_search(h, port, query)
    ph.read_s.append(took)
    return res


def _marker_docs(h, port, token, ph):
    return {(x["repo"], x["path"]) for x in _read(h, port, token, ph)}


def _round(h, storage, port, rnd, pool, ph) -> None:
    """One upsert round: submit the snapshot, cut the server over, wait for
    the round's marker docs, check every marker set of the round, then read
    the head of the query pool against the new (cache-cold) snapshot."""
    snap, snap_dir = h.store_corpus(rnd.snapshot)
    before = harness.inode_sizes(storage.root)
    ok = True
    try:
        t0 = time.perf_counter()
        with h.tracer.span("incremental.update", jobs=True, ambient=True):
            incremental_update(h.spark, storage, snap, h.cfg, full_snapshot=True)
        took = time.perf_counter() - t0
        r = h.rid()
        with h.tracer.span("client.request", rid=r):
            harness.refresh(port, rid=r)
        first = inputs.marker(rnd.number, 0)
        while _marker_docs(h, port, first, ph) != rnd.expect[first]:
            if time.perf_counter() - t0 > took + FRESH_WAIT_S:
                raise AssertionError(f"round {rnd.number}: marker docs never served")
            time.sleep(0.05)
        fresh = time.perf_counter() - t0
        for tok, want in rnd.expect.items():
            if tok != first and _marker_docs(h, port, tok, ph) != want:
                raise AssertionError(f"round {rnd.number}: {tok} docs differ")
        for _shape, q in pool[:UPSERT_READS]:
            if not check.well_formed(_read(h, port, q, ph)):
                raise AssertionError(f"round {rnd.number}: malformed answer to {q!r}")
    except Exception as e:  # noqa: BLE001 — a failed round is a failed op
        harness.log(f"upsert round failed: {e!r}")
        ok = False
    else:
        after = harness.inode_sizes(storage.root)
        written = sum(s for ino, s in after.items() if ino not in before)
        ph.op_s.append(took)
        ph.fresh_s.append(fresh)
        ph.written.append(written)
        ph.write_amp.append(written / rnd.changed_bytes)
        ph.items += len(rnd.changed) + len(rnd.deleted)
    ph.record(ok)
    storage.vacuum(keep_last=2)
    harness.drop_dir(snap_dir)


def run_upsert(h: harness.Harness, seed: int, seconds: float, trace: bool):
    plan = inputs.UpsertPlan(seed)
    pool = inputs.query_pool(plan.initial, seed)
    setup, storage, engine, server = _set_up(h, plan.initial, pool)
    # The first round runs the write path's code cold and takes ~1.4x a
    # later one; it is checked like any other round but not timed.
    warm = Phase(False, False)
    _round(h, storage, server.port, plan.next_round(), pool, warm)

    out = []
    for secs, traced in phases(seconds, trace):
        ph = Phase(traced, False)
        h.tracer.enabled = traced
        t0 = time.perf_counter()
        # like a search client: start a round while the window is open
        while time.perf_counter() - t0 < secs:
            _round(h, storage, server.port, plan.next_round(), pool, ph)
            if not ph.op_s:
                break
        h.tracer.enabled = False
        out.append(ph)
    out[0].attempted += warm.attempted
    out[0].failed += warm.failed
    return out, setup, engine, pool
