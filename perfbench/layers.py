"""Per-layer metrics of a traced run, from its spans and an audit pass.

Layers are the package's modules: ``server``, ``plans.query`` (query.*),
``operators.scoring`` / ``operators.phrase`` / ``operators.wand``,
``plans.build``, ``sources.catalog``, ``streaming.incremental`` and the
Spark session.  A layer the workload leaves idle reports 0.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from web_based_search_engine_spark.plans.build import STAGES
from web_based_search_engine_spark.plans.query import parse_query

from . import inputs, tracing
from .harness import median, quantile

TABLES = ["corpus_tok", "postings_raw", "vocab", "postings", "docs", "stats",
          "forward", "links", "blocks"]
UPSERT_TABLES = ["corpus_tok", "postings", "vocab", "forward", "blocks", "docs",
                 "stats", "links"]
SPAN_LAYERS = ["client", "server", "query", "scoring", "phrase", "wand", "catalog",
               "incremental"]
AUDIT_PER_SHAPE = 2


def audit(sc, engine, pool) -> dict:
    """Serial pass after the timed spans over two warm queries per shape:
    Spark jobs of one full search (its own job group), and WAND pruning
    evidence from ``wand_stats`` (whose two count jobs are not counted)."""
    picks: list[str] = []
    for shape in inputs.SHAPES:
        picks += [q for s, q in pool if s == shape][:AUDIT_PER_SHAPE]
    groups, pruned, cand, decoded = [], 0, 0, 0
    for i, q in enumerate(picks):
        engine.search(q, k=50).collect()                # warm every cache
        gid = f"perfbench-audit-{i}"
        sc.setJobGroup(gid, "audit")
        engine.search(q, k=50).collect()
        sc.setLocalProperty(tracing.JOB_GROUP, None)
        groups.append(gid)
        st: dict = {}
        engine.search(q, k=50, assemble=False, wand_stats=st).collect()
        pruned += bool(st.get("pruned"))
        cand += int(st.get("candidate_blocks") or 0)
        decoded += int(st.get("decoded_blocks") or 0)
    time.sleep(0.5)
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    return {"jobs_per_search": statistics.mean(jobs),
            "pruned_ratio": pruned / len(picks),
            "decoded_over_candidate": decoded / cand if cand else 0.0}


def _inclusive(spans, key):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    memo: dict[int, float] = {}

    def total(s):
        if s["id"] not in memo:
            memo[s["id"]] = s.get(key, 0) + sum(total(c) for c in kids[s["id"]])
        return memo[s["id"]]

    return {s["id"]: total(s) for s in spans}


def per_layer(untraced, traced, all_spans, audit_out, setup) -> dict:
    """``traced``/``untraced``: the two halves of the window; spans tagged
    "setup" belong to the set-up build, the rest to the traced half."""
    dur = {s["id"]: s["end"] - s["start"] for s in all_spans}
    jobs = _inclusive(all_spans, "jobs")
    tasks = _inclusive(all_spans, "tasks")
    failed = _inclusive(all_spans, "failed_tasks")
    selfs = tracing.self_seconds(all_spans)
    spans = [s for s in all_spans if s["tag"] == "window"]
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)
    built = [s for s in all_spans if s["tag"] == "setup" and s["name"] == "build.build"]

    def durs(name):
        return [dur[s["id"]] for s in by[name]]

    n_search = len(by["query.search"])
    ops = len(traced.read_s) if traced.closed_loop else len(traced.op_s)

    def per(x, n):
        return x / n if n else 0.0

    m: dict[str, float] = {}
    # server / plans.query: per request, keyed by the client's request id
    score = {s["rid"]: dur[s["id"]] for s in by["query.score"]}
    full = {s["rid"]: dur[s["id"]] for s in by["query.search"]}
    m["server.handler_s"] = median([dur[c["id"]] - score[c["rid"]] - full[c["rid"]]
                                    for c in by["client.request"] if c["rid"] in full])
    m["query.score_s"] = median(list(score.values()))
    m["query.assemble_s"] = median([full[r] - score[r] for r in full if r in score])
    m["query.spark_jobs_per_search"] = audit_out["jobs_per_search"]
    m["query.refresh_s"] = median(durs("query.refresh"))
    # operators.scoring / operators.phrase; cache ratios over the scoring
    # call of each pair (the full call that follows always hits)
    score_ids = {s["id"] for s in by["query.score"]}
    m["scoring.lookup_calls"] = per(len(by["scoring.lookup"]), n_search)
    m["scoring.lookup_s"] = median(durs("scoring.lookup"))
    m["phrase.calls"] = per(len(by["phrase.doc_ids"]), n_search)
    m["phrase.s"] = median(durs("phrase.doc_ids"))
    requested = sum(s.get("lookups", 0) for s in by["query.score"])
    missed = sum(s["parent"] in score_ids for s in by["scoring.lookup"])
    m["query.term_cache_hit_ratio"] = 1 - missed / requested if requested else 0.0
    phrased = sum(bool(parse_query(s["query"]).phrase) for s in by["query.score"])
    missed = sum(s["parent"] in score_ids for s in by["phrase.doc_ids"])
    m["query.phrase_cache_hit_ratio"] = 1 - missed / phrased if phrased else 0.0
    # operators.wand, within the scoring call of each pair
    wand = [s for s in by["wand.top_k"] if s["parent"] in score_ids]
    m["wand.calls"] = per(len(wand), len(score_ids))
    m["wand.eager_s"] = median([dur[s["id"]] for s in wand])
    m["wand.spark_jobs"] = per(sum(s.get("jobs", 0) for s in wand), len(wand))
    m["wand.pruned_ratio"] = audit_out["pruned_ratio"]
    m["wand.decoded_over_candidate_blocks"] = audit_out["decoded_over_candidate"]
    # plans.build: the set-up build (BuildReport.stage_seconds + its spans)
    for stage in STAGES:
        sec = (setup.report.stage_seconds or {}).get(stage, 0.0)
        m[f"build.stage_s.{stage}"] = sec
        m[f"build.us_per_doc.{stage}"] = sec / setup.n_docs * 1e6
    m["build.spark_jobs"] = sum(jobs[s["id"]] for s in built)
    m["build.failed_tasks"] = sum(failed[s["id"]] for s in built)
    m["build.self_s"] = sum(selfs[s["id"]] for s in built)
    m["build.docs_per_s"] = setup.n_docs / setup.build_s
    m["setup.open_s"] = setup.open_s
    # sources.catalog: the set-up snapshot, and the window's writes
    for t in TABLES:
        m[f"catalog.bytes.{t}"] = setup.index_bytes.get(t, 0)
    m["catalog.write_s"] = per(sum(durs("catalog.write")), ops)
    m["catalog.writes"] = per(len(by["catalog.write"]), ops)
    # streaming.incremental
    upd = by["incremental.update"]
    m["incremental.plan_s"] = median(durs("incremental.plan"))
    m["incremental.fresh_docs"] = median([s["fresh"] for s in by["incremental.plan"]])
    m["incremental.deleted_docs"] = median([s["deleted"] for s in by["incremental.plan"]])
    for t in UPSERT_TABLES:
        m[f"incremental.stage_s.{t}"] = median([
            sum(dur[w["id"]] for w in by["catalog.write"]
                if w["parent"] == u["id"] and w["table"] == t) for u in upd])
    m["incremental.bytes_written"] = median(traced.written)
    m["incremental.write_amp"] = median(untraced.write_amp)
    m["incremental.fresh_p50_s"] = median(untraced.fresh_s)
    m["incremental.spark_jobs"] = median([jobs[u["id"]] for u in upd])
    # Spark session: every job of the traced window sits under one root span
    roots = [s for s in spans if s["parent"] is None]
    m["spark.jobs"] = per(sum(jobs[s["id"]] for s in roots), ops)
    m["spark.tasks"] = per(sum(tasks[s["id"]] for s in roots), ops)
    m["spark.failed_tasks"] = sum(failed[s["id"]] for s in roots)
    # self time per layer, per workload operation
    for layer in SPAN_LAYERS:
        m[f"self_s.{layer}"] = per(sum(selfs[s["id"]] for s in spans
                                       if s["name"].split(".")[0] == layer), ops)
    # tracing overhead: traced minus untraced medians of the operation
    m["trace.overhead_s"] = median(traced.op_s) - median(untraced.op_s)
    m["trace.spans"] = per(len(spans), ops)
    # end-to-end figures without a bound (untraced half)
    m["read.p90_s"] = quantile(untraced.read_s, 0.9)
    m["op.samples"] = len(untraced.op_s)
    m["read.samples"] = len(untraced.read_s)
    return m
