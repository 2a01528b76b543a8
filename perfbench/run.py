"""Benchmark runner for the power-generation engine.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 20 --trace 0

Workloads (see README.md): ``etl`` (monthly ENTSOE catch-up, idempotent
re-run, full refresh + export, dashboard queries) and ``catalog_mix``
(a fixed sequence of catalog entries over generated tables).

Each run is one process. Before the library is imported it pins the
environment: local mode on every available core, ``PYTHONPATH`` at the
checkout root (Python UDF workers import the library from it), and every
scratch path (Spark local dirs, warehouse, exports, temp files) under
``.perfbench_work/`` in the checkout, removed at the end. The JVM and
every process it started have ended before the result is printed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run records spans around the
library's public entry points and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170  # hard stop, under the 180 s a run may take
WORKLOADS = ("etl", "catalog_mix")


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Client:
    """One closed-loop client: each call starts when the previous ends.

    Traced, a call is a span named ``spans[kind]``, or ``op.<kind>``."""

    def __init__(self, spark, tracer=None, spans: dict[str, str] | None = None):
        self.spark = spark
        self.tracer = tracer
        self.spans = spans or {}
        self.ops: list[list] = []  # [kind, seconds, ok]
        self.failures: list[str] = []
        self.t_first: float | None = None

    def op(self, kind: str, fn, *args):
        if self.t_first is None:
            self.t_first = time.time()
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                res = fn(*args)
            else:
                self.tracer.op = f"{kind}#{len(self.ops)}"
                with self.tracer.span(self.spans.get(kind, f"op.{kind}")):
                    res = fn(*args)
        except Exception:
            self.ops.append([kind, time.perf_counter() - t0, False])
            self.failures.append(f"{kind} raised:\n{traceback.format_exc()}")
            raise
        self.ops.append([kind, time.perf_counter() - t0, True])
        return res

    def check(self, ok: bool, msg: str) -> None:
        """An output check, charged to the latest call."""
        if not ok:
            if self.ops:
                self.ops[-1][2] = False
            self.failures.append(msg)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _install_tracer(tracer) -> None:
    import power_generation_etl_spark.plans  # noqa: F401  (loads every operator module)
    from power_generation_etl_spark import engine, incremental, lineage
    from power_generation_etl_spark.engine import Engine
    from power_generation_etl_spark.memo import PlanMemo
    from power_generation_etl_spark.store import TableStore

    def on_load(sp, res) -> None:
        sp["valid"] = res.report.valid_count if res.report else 0
        sp["inserted"] = res.inserted
        if res.report:
            sp["read"] = res.report.total_count + res.report.warnings.get("skipped_records", 0)

    tracer.wrap(incremental, "incremental_extract", "incremental.incremental_extract")
    tracer.wrap(Engine, "load_jsonl", "engine.load_jsonl", on_result=on_load)
    tracer.wrap(engine, "load_and_validate", "sources.jsonl.load_and_validate")
    # ``engine.sql`` is the dashboard call itself (wl_etl.SPANS), so that
    # its span covers the query's execution as well as ``register_views``.
    for meth in ("upsert_metadata", "get_date_range_for_run", "get_latest_date",
                 "aggregate_export", "register_views"):
        tracer.wrap(Engine, meth, f"engine.{meth}")
    tracer.wrap(Engine, "refresh_views_incremental", "plans.mv.refresh_incremental")
    tracer.wrap(Engine, "refresh_views", "plans.mv.refresh_full")
    tracer.wrap_store_write(TableStore, "append")
    tracer.wrap_store_write(TableStore, "overwrite")
    tracer.wrap_memo(PlanMemo)
    tracer.wrap_lineage(lineage, "power_generation_etl_spark")
    tracer.listen_streaming()


def _layer_metrics(tracer, wl, layers: dict, groups: list[str]) -> dict[str, tuple[float, str]]:
    """The per-layer metric set; layers a workload never calls read 0."""

    def get(layer: str, key: str) -> float:
        return layers.get(layer, {}).get(key, 0.0)

    def per_call(layer: str, key: str) -> float:
        n = get(layer, "calls")
        return get(layer, key) / n if n else 0.0

    m: dict[str, tuple[float, str]] = {}
    load = "engine.load_jsonl"
    for key, unit in (("s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("exec_s", "s"), ("idle_core_s", "s"),
                      ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
        m[f"{load}.{key}"] = (get(load, key), unit)
    lv = "sources.jsonl.load_and_validate"
    m[f"{lv}.self_s"] = (get(lv, "self_s"), "s")
    m[f"{lv}.jobs"] = (get(lv, "jobs"), "count")
    m[f"{lv}.exec_s"] = (get(lv, "exec_s"), "s")
    loads = [sp for sp in tracer.spans if sp["name"] == load and "valid" in sp]
    read = sum(sp.get("read", 0) for sp in loads)
    valid = sum(sp["valid"] for sp in loads)
    m["validation.valid_ratio"] = (valid / read if read else 0.0, "ratio")
    # Dedup, anti-join and the insert count run in load_jsonl's own body.
    m["operators.dedupe.self_s"] = (get(load, "self_s"), "s")
    m["operators.dedupe.jobs"] = (get(load, "self_jobs"), "count")
    m["operators.dedupe.shuffle_write_bytes"] = (get(load, "self_shuffle_write_bytes"), "bytes")
    inserted = sum(sp["inserted"] for sp in loads)
    m["operators.dedupe.insert_ratio"] = (inserted / valid if valid else 0.0, "ratio")
    for w in ("append", "overwrite"):
        m[f"store.{w}.s"] = (get(f"store.{w}", "s"), "s")
        m[f"store.{w}.files"] = (get(f"store.{w}", "files"), "count")
        m[f"store.{w}.bytes"] = (get(f"store.{w}", "bytes"), "bytes")
    for layer in ("engine.upsert_metadata", "engine.get_date_range_for_run",
                  "engine.get_latest_date", "plans.mv.refresh_incremental",
                  "plans.mv.refresh_full", "engine.aggregate_export"):
        m[f"{layer}.s"] = (get(layer, "s"), "s")
        m[f"{layer}.jobs"] = (get(layer, "jobs"), "count")
    for layer in ("engine.register_views", "engine.sql"):
        m[f"{layer}.s"] = (per_call(layer, "s"), "s")
        m[f"{layer}.jobs"] = (per_call(layer, "jobs"), "count")
    for g in groups:
        for key, unit in (("s", "s"), ("jobs", "count"), ("exec_s", "s"),
                          ("idle_core_s", "s"), ("shuffle_write_bytes", "bytes"),
                          ("spill_bytes", "bytes")):
            m[f"{g}.{key}"] = (get(g, key), unit)
    m["store.bytes_per_input_byte"] = (getattr(wl, "bytes_per_input_byte", 0.0), "ratio")
    m["memo.hits"] = (tracer.memo["hits"], "count")
    m["memo.misses"] = (tracer.memo["misses"], "count")
    m["memo.build_s"] = (tracer.memo["build_s"], "s")
    m["lineage.cuts"] = (tracer.lineage["cuts"], "count")
    m["lineage.cut_s"] = (tracer.lineage["cut_s"], "s")
    st = tracer.streaming_summary()
    m["streaming.triggers"] = (st["triggers"], "count")
    m["streaming.trigger_ms_p50"] = (st["trigger_ms_p50"], "ms")
    m["streaming.input_rows"] = (st["input_rows"], "count")
    return m


def _pin_env(work: str) -> int:
    """Pin the variables Spark and the library read when they start;
    returns the core count."""
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # HotSpot writes its perf-data file under /tmp whatever the tmpdir.
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    for k in ("START_OVERRIDE", "END_OVERRIDE", "SPARK_GRAFT_ON_CLUSTER", "SPARK_GRAFT_DRIVER_MEM",
              "OMP_NUM_THREADS"):
        os.environ.pop(k, None)
    return cores


def run(a: argparse.Namespace, work: str, cores: int) -> dict:
    # Fails, before any process starts, when the library is absent.
    from power_generation_etl_spark.session import get_spark

    import wl_catalog
    import wl_etl
    from tracer import Tracer

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{a.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            # The traced run reads every job and stage back at the end.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    session_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, cores) if a.trace else None
        if a.workload == "etl":
            client = Client(spark, tracer, wl_etl.SPANS)
            wl = wl_etl.EtlWorkload(client, work, a.seed)
        else:
            client = Client(spark, tracer, wl_catalog.ENTRIES)
            wl = wl_catalog.CatalogWorkload(client, work, a.seed)
        print(f"# {a.workload} seed={a.seed} sizes={json.dumps(wl.sizes())}", file=sys.stderr)
        if tracer is not None:
            _install_tracer(tracer)
        # Closed loop: whole passes until --seconds have elapsed; a pass
        # of either workload outlasts the configured run length.
        passes = []
        loop0 = time.perf_counter()
        while not passes or time.perf_counter() - loop0 < a.seconds:
            n0 = len(client.ops)
            try:
                wl.run()
            except Exception:
                if not client.failures:  # raised between calls, e.g. by a check
                    client.check(False, traceback.format_exc())
            passes.append(sum(op[1] for op in client.ops[n0:]))
            if client.failures:
                break
        setup_s = (client.t_first or time.time()) - T_START
        metrics: dict[str, tuple[float, str]] = {}
        if tracer is not None:
            overhead_s = tracer.overhead_s
            layers = tracer.summarize()
            tracer.uninstall()
            metrics = _layer_metrics(tracer, wl, layers, wl_catalog.GROUPS)
            metrics["session.start_s"] = (session_start_s, "s")
            metrics["jvm.peak_rss_mb"] = (_jvm_peak_rss_mb(spark), "MB")
            metrics["trace.pass_s"] = (statistics.median(passes), "s")
            metrics["trace.overhead_s"] = (overhead_s, "s")
            metrics["trace.overhead_share"] = (overhead_s / sum(passes), "ratio")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json"))
        else:
            metrics["setup_s"] = (setup_s, "s")
            metrics["pass_s"] = (statistics.median(passes), "s")
        for msg in client.failures:
            print(f"# FAILED: {msg}", file=sys.stderr)
        by_kind: dict[str, list[float]] = {}
        for kind, dt, _ok in client.ops:
            by_kind.setdefault(kind, []).append(round(dt, 3))
        print(f"# passes={len(passes)} calls={json.dumps(by_kind)}", file=sys.stderr)
        failed = max(sum(1 for op in client.ops if not op[2]), min(1, len(client.failures)))
        result = {
            "correct": not client.failures,
            "attempted": max(len(client.ops), failed),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        procs = _descendants()
        spark.stop()
        _stop_gateway()
        _wait_gone(procs)
    return result


def _stop_gateway() -> None:
    """Shut the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _live(pid: int) -> int | None:
    """The parent of ``pid``, or None when it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] in ("Z", "X") else int(fields[1])


def _descendants() -> list[int]:
    """Live processes below this one: the JVM and the Python workers it
    forked, which outlive it briefly when it exits."""
    parent = {int(n): _live(int(n)) for n in os.listdir("/proc") if n.isdigit()}
    out, todo = [], [os.getpid()]
    while todo:
        ppid = todo.pop()
        kids = [pid for pid, pp in parent.items() if pp == ppid]
        out += kids
        todo += kids
    return out


def _wait_gone(pids: list[int]) -> None:
    deadline = time.monotonic() + 10
    while pids := [p for p in pids if _live(p) is not None]:
        if time.monotonic() > deadline + 5:
            raise RuntimeError(f"processes {pids} did not exit")
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    a = _args(argv)
    faulthandler.dump_traceback_later(TIMEOUT_S, exit=True)
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"))
    sys.path[:0] = [HERE, ROOT]
    try:
        result = run(a, work, _pin_env(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
