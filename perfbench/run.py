#!/usr/bin/env python3
"""Seeded benchmark of the search engine: ``search`` and ``upsert`` workloads.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Runs from any working directory.  Builds the index from the seeded corpus,
drives the engine only through its public surfaces (``IndexBuilder.build``,
``SearchServer`` /search and /refresh, ``QueryEngine``,
``incremental_update``, ``ParquetIndexStorage``), checks every output
against ``oracle/pandas_oracle.py``, and prints one JSON line as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones (half the window untraced, half traced).
Spark logs go to stderr.  Each run also leaves a record (environment, CPU
ceiling reading, input hash, sample counts, spans) under ``.perfbench/``
in the repository root.

The benchmark itself runs in a child process in a session of its own; when
it ends, on any way out, every process still left in that session (Spark's
JVM and Python workers, probe processes) is killed and waited out, so no
process outlives a run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".perfbench"
CHILD_ENV = "PERFBENCH_CHILD"
SWEEP_TIMEOUT_S = 60


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search", "upsert"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _spec(trace: bool) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json (the one list of names)."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _cpu_ceiling() -> dict:
    """A ``tools/cpu_ceiling.py`` reading taken right after the run, with
    Spark stopped: one md5 loop alone, then nproc of them at once, each in
    a process of its own that is waited for."""
    tools = ROOT / "tools"
    if not (tools / "cpu_ceiling.py").exists():
        return {"missing": "tools/cpu_ceiling.py"}
    work = [sys.executable, "-c",
            f"import sys; sys.path.insert(0, {str(tools)!r}); import cpu_ceiling; cpu_ceiling._work()"]

    def timed(n: int) -> float:
        t0 = time.perf_counter()
        procs = [subprocess.Popen(work) for _ in range(n)]
        if any(p.wait() != 0 for p in procs):
            raise RuntimeError("cpu_ceiling probe failed")
        return time.perf_counter() - t0

    n = len(os.sched_getaffinity(0))
    single = timed(1)
    return {"single_sec": single, f"ceiling_{n}": single / timed(n)}


def _session(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # after "(comm)": state, ppid, pgrp, session, ...
                state, _ppid, _pgrp, session = f.read().rsplit(")", 1)[1].split()[:4]
        except (OSError, ValueError):
            continue
        if int(session) == sid and state != "Z":
            pids.append(int(d))
    return pids


def _sweep(sid: int) -> None:
    """Kill every process left in session ``sid`` and wait until none is."""
    deadline = time.monotonic() + SWEEP_TIMEOUT_S
    pids = _session(sid)
    if pids:
        print(f"perfbench: killing leftover processes {pids}", file=sys.stderr, flush=True)
    while pids:
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} outlived the benchmark")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        pids = _session(sid)


def _supervise() -> int:
    """Run this script again as the benchmark child, in a new session; its
    exit code is ours.  A signal to us ends the child's session too."""
    child = subprocess.Popen([sys.executable, str(Path(__file__).resolve()), *sys.argv[1:]],
                             env=dict(os.environ, **{CHILD_ENV: "1"}),
                             start_new_session=True)

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    try:
        return child.wait()
    finally:
        _sweep(child.pid)
        child.wait()
        shutil.rmtree(OUT / f"work-{child.pid}", ignore_errors=True)


def main() -> None:
    a = _args()
    if not (ROOT / "web_based_search_engine_spark" / "__init__.py").exists():
        _fail(f"the engine package is not next to {Path(__file__).parent.name}/")
    if not (ROOT / "BENCHMARK.json").exists():
        _fail("BENCHMARK.json is missing")
    units = _spec(bool(a.trace))

    # Spark's Python workers import the package too: put the repo on their
    # path, and keep Spark's scratch files inside the checkout
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    work = OUT / f"work-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")

    import pyarrow
    import pyspark

    from perfbench import harness, layers, workloads

    run = {"search": workloads.run_search, "upsert": workloads.run_upsert}[a.workload]
    h = harness.Harness(work, bool(a.trace))
    try:
        phases, setup, engine, pool = run(h, a.seed, a.seconds, bool(a.trace))
        untraced = phases[0]
        attempted = sum(p.attempted for p in phases)
        failed = sum(p.failed for p in phases)
        if a.trace:
            h.tracer.resolve_jobs()
            audit = layers.audit(h.sc, engine, pool)
            values = layers.per_layer(untraced, phases[-1], h.tracer.spans, audit, setup)
        else:
            values = {
                "setup_s": setup.setup_s,
                "ok_ratio": 1 - failed / attempted if attempted else 0.0,
                "index_bytes_per_corpus_byte": sum(setup.index_bytes.values()) / setup.corpus_bytes,
                "op_p50_s": harness.median(untraced.op_s),
                "items_per_s": untraced.items_per_s(),
                "read_p50_s": harness.median(untraced.read_s),
            }
    finally:
        h.close()
    ceiling = _cpu_ceiling() if a.trace else None

    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    record = {
        "args": vars(a), "nproc": len(os.sched_getaffinity(0)), "master": h.master,
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "cpu_ceiling": ceiling,
        "setup": {"inputs": setup.inputs, "wall_s": setup.wall_s, "build_s": setup.build_s,
                  "open_s": setup.open_s, "stage_seconds": setup.report.stage_seconds},
        "samples": [{"traced": p.traced, "ops": len(p.op_s), "reads": len(p.read_s),
                     "attempted": p.attempted, "failed": p.failed} for p in phases],
        "result": result,
    }
    with open(OUT / f"{tag}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if a.trace:
        h.tracer.write(OUT / f"{tag}-spans.json")
    harness.log(json.dumps({k: record[k] for k in
                            ("nproc", "master", "pyspark", "pyarrow", "cpu_ceiling",
                             "setup", "samples")}, default=str))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    if os.environ.get(CHILD_ENV):
        main()
    else:
        sys.exit(_supervise())
