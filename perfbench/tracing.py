"""Spans and Spark job counts for the traced run.

Spans are recorded only here, around calls into the engine's modules: the
benchmark re-binds module attributes and instance methods to timing
wrappers (``instrument``); no file of the package changes.  A span carries
name, start, end, parent and a request id; spans stay in memory and are
written when the run ends.

Spark jobs are attributed with job groups: a span opened with ``jobs=True``
puts its thread in a fresh group and restores the previous one on exit, so
each job belongs to exactly one span.  Threads the engine starts itself
(the builder's stage helpers) run jobs outside any group; those are
attributed to the one build or upsert span running at the time.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._by_rid: dict[str, int] = {}
        self.ambient: int | None = None     # parent for spans on engine-owned threads
        self.tag = "window"                 # "setup" while the set-up build runs

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, rid: str | None = None, jobs: bool = False,
             ambient: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]["id"]
            rid = rid or stack[-1]["rid"]
        elif rid is not None:
            parent = self._by_rid.get(rid)
        else:
            parent = self.ambient
        rec = {"id": next(self._ids), "name": name, "parent": parent, "rid": rid,
               "tag": self.tag, "thread": threading.get_ident(), **attrs}
        if rid is not None and parent is None:
            self._by_rid[rid] = rec["id"]
        prev_group = None
        if jobs:
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
            if ambient:
                rec["ungrouped_before"] = set(self.sc.statusTracker().getJobIdsForGroup(None))
        if ambient:
            self.ambient = rec["id"]
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if ambient:
                self.ambient = None
                if jobs:
                    after = set(self.sc.statusTracker().getJobIdsForGroup(None))
                    rec["ungrouped"] = sorted(after - rec.pop("ungrouped_before"))
            if jobs:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(rec)

    def resolve_jobs(self) -> None:
        """Fill each span's job ids and task counts from the status tracker
        (after the run: the listener bus updates it asynchronously)."""
        time.sleep(0.5)
        st = self.sc.statusTracker()
        for rec in self.spans:
            if "group" not in rec:
                continue
            ids = list(st.getJobIdsForGroup(rec["group"])) + rec.get("ungrouped", [])
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = len(ids), 0, 0
            for jid in ids:
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si:
                        rec["tasks"] += si.numCompletedTasks
                        rec["failed_tasks"] += si.numFailedTasks

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=sorted)


def self_seconds(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class _TracedResult:
    """What the traced ``engine.search`` hands the HTTP handler: its
    ``collect()`` runs the unassembled scoring call, then the full call."""

    def __init__(self, tracer, search, query, k):
        self.tracer, self.search, self.query, self.k = tracer, search, query, k

    def collect(self):
        with self.tracer.span("query.score", jobs=True, query=self.query):
            self.search(self.query, k=self.k, assemble=False).collect()
        with self.tracer.span("query.search", jobs=True):
            return self.search(self.query, k=self.k).collect()


def _wrap(tracer, fn, name, jobs=False, on_result=None):
    @functools.wraps(fn)
    def traced(*a, **kw):
        with tracer.span(name, jobs=jobs) as rec:
            out = fn(*a, **kw)
            if rec is not None and on_result is not None:
                on_result(rec, out)
            return out
    return traced


def instrument_modules(tracer) -> None:
    """Re-bind the engine's module-level entry points to span wrappers.
    Each rebinding sits where the caller resolves the name at call time."""
    from web_based_search_engine_spark.operators import scoring, wand
    from web_based_search_engine_spark.plans import query
    from web_based_search_engine_spark.streaming import incremental

    scoring.lookup_terms = _wrap(tracer, scoring.lookup_terms, "scoring.lookup")
    query.phrase_doc_ids = _wrap(tracer, query.phrase_doc_ids, "phrase.doc_ids")
    wand.wand_top_k = _wrap(tracer, wand.wand_top_k, "wand.top_k", jobs=True)

    def plan_facts(rec, plan):
        rec["fresh"], rec["deleted"] = plan.n_fresh, plan.n_deleted

    incremental.plan_freshness = _wrap(
        tracer, incremental.plan_freshness, "incremental.plan", on_result=plan_facts)


def instrument_storage(tracer, storage) -> None:
    """Time every table write of one storage (nested writes count once)."""
    for meth in ("write_table", "write_table_partitions"):
        fn = getattr(storage, meth)

        def traced(df, name, *a, _fn=fn, **kw):
            cur = tracer.current()
            if cur is not None and cur["name"] == "catalog.write":
                return _fn(df, name, *a, **kw)
            with tracer.span("catalog.write", table=name):
                return _fn(df, name, *a, **kw)

        setattr(storage, meth, traced)


def instrument_engine(tracer, engine) -> None:
    """Trace one QueryEngine: searches (split into score and full call),
    refreshes, and term-lookup requests (for the term-cache hit ratio)."""
    search, lookup = engine.search, engine._lookup_cached

    def traced_search(query, k=None, assemble=True, wand_stats=None):
        if not tracer.enabled or not assemble or wand_stats is not None:
            return search(query, k=k, assemble=assemble, wand_stats=wand_stats)
        return _TracedResult(tracer, search, query, k)

    def counted_lookup(terms, st=None):
        cur = tracer.current()
        if cur is not None:
            cur["lookups"] = cur.get("lookups", 0) + 1
        return lookup(terms, st)

    engine.search = traced_search
    engine._lookup_cached = counted_lookup
    engine.refresh = _wrap(tracer, engine.refresh, "query.refresh", jobs=True)


def instrument_server(tracer, server) -> None:
    """Open a ``server.handle`` span per request, linked to the client's
    span by the ``rid`` query parameter (the handler ignores unknown ones)."""
    import urllib.parse

    base = server.httpd.RequestHandlerClass

    class Traced(base):
        def _traced(self, method):
            qs = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
            rid = qs.get("rid", [None])[0]
            with tracer.span("server.handle", rid=rid):
                method(self)

        def do_GET(self):  # noqa: N802 (http.server API)
            self._traced(base.do_GET)

        def do_POST(self):  # noqa: N802 (http.server API)
            self._traced(base.do_POST)

    server.httpd.RequestHandlerClass = Traced
