"""Span tracer for the traced benchmark run.

Spans are recorded from outside the library: public functions are
wrapped at the module or class attribute the caller looks them up on,
and every wrapper is removed again by ``uninstall``. Each span keeps its
name, start, end, parent, the client operation it belongs to, and the
half-open range of Spark job ids submitted on the client thread while it
was open. Job ids come from the DAG scheduler's counter, which advances
synchronously at submission, so the range is exact for the single
client thread; jobs that ``refresh_views`` submits from its thread pool
fall inside the range of the span that started the pool.

Spark counters (stages, tasks, executor run time, shuffle and spill) are
read once at the end from the driver's status REST endpoint and summed
per span over its job range.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "exec_s", "shuffle_write_bytes", "spill_bytes")
JOBS_WAIT_S = 30.0  # for the status store to see the last jobs finish


def _data_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._main = threading.get_ident()
        self._tls = threading.local()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []
        self.op: str | None = None
        self.overhead_s = 0.0  # bookkeeping inside the measured pass
        self.memo = {"hits": 0, "misses": 0, "build_s": 0.0}
        self.lineage = {"cuts": 0, "cut_s": 0.0}
        self.triggers: list[tuple[float, int]] = []  # (durationMs, input rows)
        self._listener = None

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    @contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        stack = self._stack()
        on_main = stack is self._main_stack
        # A pool thread's span hangs under the client's innermost span.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = {
            "id": None,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "main": on_main,
        }
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        if on_main:
            sp["j0"] = self._dag.nextJobId()
        stack.append(sp)
        self._add_overhead(time.perf_counter() - b0)
        sp["t0"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            b1 = time.perf_counter()
            if on_main:
                sp["j1"] = self._dag.nextJobId()
            stack.pop()
            self._add_overhead(time.perf_counter() - b1)

    # -- wrappers --------------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span named ``name`` around ``owner.attr``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with tracer.span(name) as sp:
                res = orig(*a, **k)
            if on_result is not None:
                on_result(sp, res)
            return res

        self._patch(owner, attr, wrapper)

    def wrap_store_write(self, store_cls, attr: str) -> None:
        """Span around a TableStore write, plus the data files and bytes
        it added to the table's directory (listed outside the span)."""
        orig = getattr(store_cls, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(store, table, *a, **k):
            b0 = time.perf_counter()
            before = _data_files(store.path(table))
            tracer._add_overhead(time.perf_counter() - b0)
            with tracer.span(f"store.{attr}") as sp:
                res = orig(store, table, *a, **k)
            b1 = time.perf_counter()
            after = _data_files(store.path(table))
            new = [p for p in after if p not in before]
            sp["files"] = len(new)
            sp["bytes"] = sum(after[p] for p in new)
            tracer._add_overhead(time.perf_counter() - b1)
            return res

        self._patch(store_cls, attr, wrapper)

    def wrap_memo(self, memo_cls) -> None:
        orig = memo_cls.get_or_build
        tracer = self

        @functools.wraps(orig)
        def wrapper(memo, key, src, build):
            built = []

            def timed_build():
                t0 = time.perf_counter()
                try:
                    return build()
                finally:
                    built.append(time.perf_counter() - t0)

            res = orig(memo, key, src, timed_build)
            with tracer._lock:
                if built:
                    tracer.memo["misses"] += 1
                    tracer.memo["build_s"] += built[0]
                else:
                    tracer.memo["hits"] += 1
            return res

        self._patch(memo_cls, "get_or_build", wrapper)

    def wrap_lineage(self, lineage_mod, package: str) -> None:
        """Count outermost ``cut``/``cut_index`` calls wherever the
        package's modules imported them by name."""
        import sys

        tracer = self
        depth = threading.local()
        for fname in ("cut", "cut_index"):
            orig = getattr(lineage_mod, fname)

            @functools.wraps(orig)
            def wrapper(df, _orig=orig):
                d = getattr(depth, "n", 0)
                depth.n = d + 1
                t0 = time.perf_counter()
                try:
                    return _orig(df)
                finally:
                    depth.n = d
                    if d == 0:
                        with tracer._lock:
                            tracer.lineage["cuts"] += 1
                            tracer.lineage["cut_s"] += time.perf_counter() - t0

            for mod_name, mod in list(sys.modules.items()):
                if mod is None or not mod_name.startswith(package):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        self._patch(mod, attr, wrapper)

    def listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.triggers.append(
                        (float(p.durationMs.get("triggerExecution", 0)), int(p.numInputRows))
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- Spark counters --------------------------------------------------
    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def job_counters(self) -> dict[int, dict]:
        """Per-job counters for every job of the application. Waits until
        the status store has seen every submitted job finish."""
        final = self._dag.nextJobId()
        deadline = time.monotonic() + JOBS_WAIT_S
        while True:
            jobs = self._rest("/jobs")
            done = {j["jobId"] for j in jobs if j["status"] != "RUNNING"}
            if all(i in done for i in range(final)) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = self._rest("/stages")
        # A stage listed by several jobs is credited to the first one.
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for s in j["stageIds"]:
                owner.setdefault(s, j["jobId"])
        out = {j["jobId"]: dict.fromkeys(COUNTERS, 0) for j in jobs}
        for j in out.values():
            j["jobs"] = 1
        for st in stages:
            jid = owner.get(st["stageId"])
            if jid is None or st["status"] in ("SKIPPED", "PENDING"):
                continue
            c = out[jid]
            c["stages"] += 1
            c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            c["exec_s"] += st["executorRunTime"] / 1000.0
            c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            c["spill_bytes"] += st["diskBytesSpilled"]
        return out

    # -- summaries -------------------------------------------------------
    def summarize(self) -> dict[str, dict[str, float]]:
        """Per span name: wall ``s``, ``self_s``, ``calls``, counters (over
        the span's job range, children included) and ``self_*`` counters
        (children's ranges removed), plus ``idle_core_s``."""
        per_job = self.job_counters()
        children = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]].append(sp)

        def counters(sp) -> dict[str, float]:
            c = dict.fromkeys(COUNTERS, 0)
            if sp["main"]:
                for jid in range(sp["j0"], sp["j1"]):
                    for k, v in per_job.get(jid, {}).items():
                        c[k] += v
            return c

        layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            dur = sp["t1"] - sp["t0"]
            covered, end = 0.0, sp["t0"]
            for ch in sorted(children[sp["id"]], key=lambda c: c["t0"]):
                lo, hi = max(ch["t0"], end), min(ch["t1"], sp["t1"])
                if hi > lo:
                    covered += hi - lo
                    end = hi
            mine = counters(sp)
            own = dict(mine)
            for ch in children[sp["id"]]:
                if ch["main"]:
                    for k, v in counters(ch).items():
                        own[k] -= v
            lay = layers[sp["name"]]
            lay["calls"] += 1
            lay["s"] += dur
            lay["self_s"] += dur - covered
            lay["idle_core_s"] += dur * self.cores - mine["exec_s"]
            for k in COUNTERS:
                lay[k] += mine[k]
                lay[f"self_{k}"] += own[k]
            for k in ("files", "bytes"):
                lay[k] += sp.get(k, 0)
        return {k: dict(v) for k, v in layers.items()}

    def streaming_summary(self) -> dict[str, float]:
        ms = [d for d, _ in self.triggers]
        return {
            "triggers": len(ms),
            "trigger_ms_p50": statistics.median(ms) if ms else 0.0,
            "input_rows": sum(r for _, r in self.triggers),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)
