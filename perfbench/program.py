"""The program under test, driven in its own process by ``run.py``.

It starts the tuned SparkSession from ``binwatch_spark.session`` and runs one
of two things:

- ``cdc``: ``run_pipeline`` over the ``driver: wire`` binlog source against
  the generator's scripted server, delivering to the generator's webhook
  receiver, until ``stop`` arrives on stdin;
- ``queries``: one untimed pass that collects every query (its rows are
  hashed for the oracle check, outside timing) and ``warm`` untimed passes,
  then, on ``go``, the timed passes, each query materialized through the
  noop sink like ``bench.py``.

Protocol lines go to stdout prefixed with ``@@PB ``; everything else on
stdout and stderr is Spark's. With ``trace`` set, the process also records
per-layer figures from outside the program's code: wrappers around
``tables.load`` and each query callable, ``QueryExecution.tracker`` phases,
and a ``StreamingQueryListener``; they are written to ``spec["trace_out"]``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def emit(kind: str, **payload) -> None:
    sys.stdout.write("@@PB " + json.dumps({"ev": kind, **payload}) + "\n")
    sys.stdout.flush()


def wait_for(word: str) -> None:
    for line in sys.stdin:
        if line.strip() == word:
            return
    raise SystemExit(f"stdin closed before {word!r}")


# ------------------------------------------------------------- tracing --


class Trace:
    """Per-layer records kept in memory and written once at the end."""

    def __init__(self):
        self.load_calls = 0
        self.load_s = 0.0
        self.load_reused = 0
        self._handles: list = []  # keeps ids stable while counting reuse
        self._seen: set[int] = set()
        self.build_s = 0.0
        self.phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.progress: list[dict] = []
        self.recording = False

    def hook_load(self) -> None:
        import binwatch_spark.tables as tables

        original = tables.load

        def load(spark, sf_dir, name):
            t = time.perf_counter()
            df = original(spark, sf_dir, name)
            if self.recording:
                self.load_s += time.perf_counter() - t
                self.load_calls += 1
                if id(df) in self._seen:
                    self.load_reused += 1
                self._seen.add(id(df))
                self._handles.append(df)
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("binwatch_spark") and (
                getattr(mod, "load", None) is original
            ):
                mod.load = load

    def build(self, fn, spark, sf_dir):
        t = time.perf_counter()
        df = fn(spark, sf_dir)
        if self.recording:
            self.build_s += time.perf_counter() - t
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for name in self.phases:
                opt = phases.get(name)
                if opt.isDefined():
                    self.phases[name] += opt.get().durationMs() / 1000.0
        return df

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        trace = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                trace.progress.append({
                    "start": p.timestamp,  # trigger start, ISO 8601 UTC
                    "id": str(p.id),
                    "rows": p.numInputRows,
                    "durations": dict(p.durationMs or {}),
                    "state": [
                        {"rows": s.numRowsTotal, "bytes": s.memoryUsedBytes,
                         "commit_ms": s.commitTimeMs}
                        for s in (p.stateOperators or [])
                    ],
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({
                "load_calls": self.load_calls,
                "load_s": self.load_s,
                "load_reused": self.load_reused,
                "build_s": self.build_s,
                "phases": self.phases,
                "progress": self.progress,
            }, fh)


# ------------------------------------------------------------ workloads --


def run_cdc(spark, spec: dict, trace: Trace | None) -> None:
    from binwatch_spark.config import parse
    from binwatch_spark.streaming.pipeline import run_pipeline

    query = run_pipeline(spark, parse(spec["config"]))

    def watch():
        try:
            query.awaitTermination()
        except Exception as exc:  # noqa: BLE001 - reported to the harness
            emit("failed", error=f"{type(exc).__name__}: {exc}"[:500])

    threading.Thread(target=watch, daemon=True).start()
    emit("started")
    wait_for("go")
    if trace:
        trace.recording = True
    emit("timing")
    wait_for("stop")
    if trace:
        trace.recording = False
    query.stop()


def noop(df) -> None:
    """Materialize ``df`` without collecting it, like ``bench.py``."""
    df.write.format("noop").mode("overwrite").save()


def run_queries(spark, spec: dict, trace: Trace | None) -> None:
    from binwatch_spark.plans import all_queries

    registry = all_queries()
    sf_dir = spec["sf_dir"]
    from oracles import load_value_hash  # perfbench/ is this script's directory

    value_hash = load_value_hash()
    checks = {}
    hash_s = 0.0
    for name in spec["queries"]:
        df = registry[name](spark, sf_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        t = time.perf_counter()
        checks[name] = {"rows": len(rows), "cols": sorted(cols),
                        "hash": value_hash(rows, cols)}
        del rows
        hash_s += time.perf_counter() - t
    gc.collect()  # the collected rows are the checker's, not the timed work's
    for _ in range(spec["warm"]):
        for name in spec["queries"]:
            noop(registry[name](spark, sf_dir))
    emit("ready", checks=checks, hash_s=hash_s)
    wait_for("go")
    if trace:
        trace.recording = True
    build = trace.build if trace else (lambda fn, s, d: fn(s, d))
    times: list[list] = []
    pass_s: list[float] = []
    failures: list[str] = []
    w0 = time.time()
    for _ in range(spec["passes"]):
        p0 = time.perf_counter()
        for name in spec["queries"]:
            t = time.perf_counter()
            try:
                noop(build(registry[name], spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 - counted, then reported
                failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            times.append([name, time.perf_counter() - t])
        pass_s.append(time.perf_counter() - p0)
    w1 = time.time()
    if trace:
        trace.recording = False
    emit("done", times=times, pass_s=pass_s, failures=failures, wall=[w0, w1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    spec = json.load(open(ap.parse_args().spec))
    trace = Trace() if spec.get("trace") else None
    if trace:
        import binwatch_spark.plans  # noqa: F401 - import before hooking load

        trace.hook_load()
    from binwatch_spark.session import get_spark

    spark = get_spark("perfbench-" + spec["mode"])
    spark.sparkContext.setLogLevel("ERROR")
    if trace:
        spark.streams.addListener(trace.listener())
    emit("session")
    if spec["mode"] == "cdc":
        run_cdc(spark, spec, trace)
    else:
        run_queries(spark, spec, trace)
    if trace:
        time.sleep(0.5)  # let the listener drain its last progress events
        trace.dump(spec["trace_out"])
    spark.stop()
    emit("exit")
    return 0


if __name__ == "__main__":
    sys.exit(main())
