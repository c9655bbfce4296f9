"""Spark session, stored corpora, index builds, served engines and HTTP
clients shared by the three workloads."""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import sys
import time
import urllib.parse
import urllib.request
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from web_based_search_engine_spark.config import IndexConfig
from web_based_search_engine_spark.fixtures import CORPUS_SCHEMA
from web_based_search_engine_spark.plans.build import IndexBuilder
from web_based_search_engine_spark.plans.query import QueryEngine
from web_based_search_engine_spark.server import SearchServer
from web_based_search_engine_spark.session import get_spark
from web_based_search_engine_spark.sources.catalog import ParquetIndexStorage

from . import tracing

SETUP_REPEATS = 3
HTTP_TIMEOUT = 120


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Harness:
    """One Spark session at ``local[nproc]`` plus the run's scratch space
    (``work``, removed by ``close``).  Trace mode re-binds the engine's
    entry points to span wrappers once, up front; ``tracer.enabled`` then
    switches recording on and off."""

    def __init__(self, work: Path, trace: bool):
        self.work = work
        self.master = f"local[{nproc()}]"
        self.spark = get_spark(
            "perfbench",
            master=self.master,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "3g",
                "spark.driver.extraJavaOptions":
                    f"-XX:+UseG1GC -Djava.io.tmpdir={work / 'tmp'}",
                # job-group lookups of the traced run must still find
                # every job and stage of the run at its end
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.tracer = tracing.Tracer(self.sc)
        self.trace = trace
        if trace:
            tracing.instrument_modules(self.tracer)
        self.cfg = IndexConfig()
        self.servers: list[SearchServer] = []
        self._n = 0
        rids = itertools.count()
        self.rid = lambda: f"r{next(rids)}"     # request ids: client span <-> handler span

    # ------------------------------------------------------------ storage
    def path(self, stem: str) -> Path:
        self._n += 1
        return self.work / f"{stem}{self._n}"

    def store_corpus(self, rows):
        """Write rows as a parquet corpus, one file per core, without a
        Spark job; returns (stored DataFrame, its directory)."""
        p = self.path("corpus")
        p.mkdir(parents=True)
        names = [f.name for f in CORPUS_SCHEMA.fields]
        n = nproc()
        for i in range(n):
            part = rows[i::n]
            cols = {c: [r[j] for r in part] for j, c in enumerate(names)}
            pq.write_table(pa.table(cols), p / f"part-{i:05d}.parquet")
        return self.spark.read.schema(CORPUS_SCHEMA).parquet(str(p)), p

    def storage(self) -> ParquetIndexStorage:
        st = ParquetIndexStorage(self.path("idx"))
        if self.trace:
            tracing.instrument_storage(self.tracer, st)
        return st

    def build(self, corpus_df, storage):
        """Full fresh build; returns (report, wall seconds)."""
        t0 = time.perf_counter()
        with self.tracer.span("build.build", jobs=True, ambient=True):
            report = IndexBuilder(self.spark, storage, self.cfg).build(corpus_df, resume=False)
        return report, time.perf_counter() - t0

    @staticmethod
    def snapshot_bytes(storage) -> dict[str, int]:
        return {t: int(e["bytes"]) for t, e in storage.manifest()["tables"].items()}

    # ------------------------------------------------------------ serving
    def open(self, storage):
        """Open the stored index for serving: engine, HTTP server, first
        /health answer.  Returns (engine, server, seconds)."""
        t0 = time.perf_counter()
        engine = QueryEngine(self.spark, storage)
        server = SearchServer(engine, port=0).start()
        self.servers.append(server)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/health", timeout=HTTP_TIMEOUT
        ) as r:
            json.loads(r.read())
        took = time.perf_counter() - t0
        if self.trace:
            tracing.instrument_engine(self.tracer, engine)
            tracing.instrument_server(self.tracer, server)
        return engine, server, took

    def setup_open(self, storage):
        """Open the index ``SETUP_REPEATS`` times; keep the last server.
        Returns (engine, server, median open seconds)."""
        times = []
        for i in range(SETUP_REPEATS):
            engine, server, took = self.open(storage)
            times.append(took)
            if i < SETUP_REPEATS - 1:
                self.stop(server)
        return engine, server, median(times)

    def stop(self, server) -> None:
        server.stop()
        self.servers.remove(server)

    def close(self) -> None:
        for s in list(self.servers):
            self.stop(s)
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — still make sure it is gone
                proc.kill()
                proc.wait(timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def drop_dir(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def search(port: int, query: str, rid: str | None = None, k: int = 50):
    """GET /search; returns (seconds from send to full response, rows)."""
    params = {"q": query, "k": k}
    if rid is not None:
        params["rid"] = rid
    url = f"http://127.0.0.1:{port}/search?{urllib.parse.urlencode(params)}"
    t0 = time.perf_counter()
    with urllib.request.urlopen(url, timeout=HTTP_TIMEOUT) as r:
        body = r.read()
    took = time.perf_counter() - t0
    return took, json.loads(body)["results"]


def refresh(port: int, rid: str) -> None:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/refresh?rid={rid}", data=b"", method="POST")
    with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT) as r:
        json.loads(r.read())


def inode_sizes(root: Path) -> dict[tuple[int, int], int]:
    """(device, inode) -> size of every file under ``root``: files a write
    creates are new inodes, partitions carried by hard link are not."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out
