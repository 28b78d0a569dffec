"""Per-layer metrics of a traced run, gathered from outside the program:

- Spark's own event log (``SPARK_GRAFT_EVENTLOG_DIR``): jobs, tasks,
  executor run/CPU/GC time, shuffle bytes, and the wall time in which no job
  ran (driver gaps);
- what ``program.py`` recorded: ``tables.load`` and query-callable wrappers,
  ``QueryExecution.tracker`` phases and streaming progress;
- counters at the generator's scripted server and webhook receiver;
- isolated probes of decode (``MySQLBinlogClient.read_range``), render
  (``compile_template`` and the default item JSON) and send
  (``WebhookConnector.send``) on the workload's own events;
- the program's process-tree CPU split by process kind.

Every workload reports every metric; a layer the workload does not exercise
reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime

# name -> unit; the order is the order of BENCHMARK.json's per_layer list
LAYER_UNITS = {
    "session.start_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.load_reuse_ratio": "ratio",
    "plans.build_s": "s",
    "engine.analysis_s": "s",
    "engine.optimization_s": "s",
    "engine.planning_s": "s",
    "engine.jobs": "count",
    "engine.tasks": "count",
    "engine.driver_gap_s": "s",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "rows",
    "streaming.trigger_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.jobs_per_batch": "count",
    "operators.state_rows": "rows",
    "operators.state_bytes": "bytes",
    "operators.state_commit_s": "s",
    "sources.dumps_per_batch": "count",
    "sources.status_queries_per_batch": "count",
    "sources.events_served_per_event": "ratio",
    "sources.decode_us_per_event": "us",
    "templates.render_us_per_item": "us",
    "sinks.requests": "count",
    "sinks.connections_per_request": "ratio",
    "sinks.send_ms_per_payload": "ms",
    "sinks.redeliveries": "count",
    "cpu.jvm_s": "s",
    "cpu.driver_py_s": "s",
    "cpu.workers_py_s": "s",
    "generator.lateness_p99_s": "s",
}


def eventlog(directory: str, window: tuple[float, float]) -> dict:
    """Job/task figures for jobs submitted inside ``window`` (epoch s)."""
    lo, hi = window[0] * 1000, window[1] * 1000
    jobs: dict[int, list] = {}
    streaming_jobs = 0
    tasks = 0
    run_ms = cpu_ns = gc_ms = shuffle = 0
    stage_in_window: set[int] = set()
    for path in glob.glob(os.path.join(directory, "*")):
        with open(path, errors="replace") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"]
                    if lo <= t <= hi:
                        jobs[ev["Job ID"]] = [t, None]
                        stage_in_window.update(ev.get("Stage IDs", []))
                        if "streaming.sql.batchId" in (ev.get("Properties") or {}):
                            streaming_jobs += 1
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_in_window:
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    spans = sorted((max(s, lo), min(e or hi, hi)) for s, e in jobs.values())
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return {
        "engine.jobs": len(jobs),
        "engine.tasks": tasks,
        "engine.driver_gap_s": max(0.0, (hi - lo) - covered) / 1000,
        "engine.executor_run_s": run_ms / 1000,
        "engine.executor_cpu_s": cpu_ns / 1e9,
        "engine.gc_s": gc_ms / 1000,
        "engine.shuffle_bytes": shuffle,
        "_streaming_jobs": streaming_jobs,
    }


def streaming(progress: list[dict], streaming_jobs: int) -> dict:
    ran = [p for p in progress if "addBatch" in p["durations"]]
    n = len(ran)

    def mean_ms(*keys):
        return sum(sum(p["durations"].get(k, 0) for k in keys) for p in ran) / max(1, n) / 1000

    last_state: dict[str, list] = {}
    for p in progress:
        if p["state"]:
            last_state[p["id"]] = p["state"]
    return {
        "streaming.batches": n,
        "streaming.rows_per_batch": sum(p["rows"] for p in ran) / max(1, n),
        "streaming.trigger_s": mean_ms("triggerExecution"),
        "streaming.latest_offset_s": mean_ms("latestOffset"),
        "streaming.add_batch_s": mean_ms("addBatch"),
        "streaming.commit_s": mean_ms("walCommit", "commitOffsets"),
        "streaming.jobs_per_batch": streaming_jobs / max(1, n),
        "operators.state_rows": sum(s["rows"] for st in last_state.values() for s in st),
        "operators.state_bytes": sum(s["bytes"] for st in last_state.values() for s in st),
        "operators.state_commit_s": sum(
            s["commit_ms"] for p in ran for s in p["state"]) / 1000,
    }


def _program_side(spec: dict, window: tuple[float, float], cpu: dict, session_s: float,
                  stream_window: tuple[float, float] | None = None) -> dict:
    """``window`` bounds the engine figures; ``stream_window`` (default: the
    same) bounds the streaming ones. A batch belongs to the window its
    trigger started in."""
    with open(spec["trace_out"]) as fh:
        tr = json.load(fh)
    ev = eventlog(spec["eventlog_dir"], window)
    out = {k: 0.0 for k in LAYER_UNITS}
    out.update({k: v for k, v in ev.items() if not k.startswith("_")})
    for p in tr["progress"]:
        p["t"] = datetime.fromisoformat(p["start"].replace("Z", "+00:00")).timestamp()
    in_window = [p for p in tr["progress"] if window[0] <= p["t"] <= window[1]]
    out["_batches_timed"] = sum(1 for p in in_window if "addBatch" in p["durations"])
    sw = stream_window or window
    stream_ev = eventlog(spec["eventlog_dir"], sw) if stream_window else ev
    out.update(streaming([p for p in tr["progress"] if sw[0] <= p["t"] <= sw[1]],
                         stream_ev["_streaming_jobs"]))
    out.update({
        "session.start_s": session_s,
        "tables.load_calls": tr["load_calls"],
        "tables.load_s": tr["load_s"],
        "tables.load_reuse_ratio": tr["load_reused"] / max(1, tr["load_calls"]),
        "plans.build_s": tr["build_s"],
        "engine.analysis_s": tr["phases"]["analysis"],
        "engine.optimization_s": tr["phases"]["optimization"],
        "engine.planning_s": tr["phases"]["planning"],
        "cpu.jvm_s": cpu.get("jvm", 0.0),
        "cpu.driver_py_s": cpu.get("driver_py", 0.0),
        "cpu.workers_py_s": cpu.get("workers_py", 0.0),
    })
    return out


def query_layers(spec: dict, done: dict, cpu: dict, session_s: float) -> dict:
    return _finish(_program_side(spec, tuple(done["wall"]), cpu, session_s))


def cdc_layers(record: dict, spec: dict, windows: dict, cpu: dict,
               counters: tuple[dict, dict], redeliveries: int, session_s: float) -> dict:
    from binwatch_spark.config import ConnectorConfig, WebhookConfig
    from binwatch_spark.sinks.connectors import make_connector
    from binwatch_spark.sources.binlog import BinlogLocation, MySQLBinlogClient
    from binwatch_spark.streaming.templates import compile_template, item_from_row

    import loadgen

    out = _program_side(spec, windows["timed"], cpu, session_s, windows["live"])
    c0, c1 = counters
    batches = max(1, out["_batches_timed"])
    timed = [ev for ev in record["committed"] if ev["phase"] in ("live", "catchup")]
    out["sources.dumps_per_batch"] = (c1["dumps"] - c0["dumps"]) / batches
    out["sources.status_queries_per_batch"] = (c1["status_queries"] - c0["status_queries"]) / batches
    out["sources.events_served_per_event"] = (
        (c1["rows_events_sent"] - c0["rows_events_sent"]) / max(1, len(timed)))
    out["sinks.requests"] = c1["requests"] - c0["requests"]
    out["sinks.connections_per_request"] = (
        (c1["receiver_connections"] - c0["receiver_connections"]) / max(1, out["sinks.requests"]))
    out["sinks.redeliveries"] = redeliveries
    late = sorted(ev["committed"] - ev["due"] for ev in timed)
    out["generator.lateness_p99_s"] = late[min(len(late) - 1, int(0.99 * len(late)))]

    # isolated probes on the workload's own events, after the pipeline stopped
    client = MySQLBinlogClient({
        "driver": "wire", "host": "127.0.0.1", "port": str(spec["binlog_port"]),
        "user": loadgen.USER, "password": loadgen.PASSWORD, "serverid": "4343",
    })
    t = time.perf_counter()
    recs = list(client.read_range(BinlogLocation(*record["start"]), BinlogLocation(*record["tip"])))
    out["sources.decode_us_per_event"] = (time.perf_counter() - t) / max(1, len(recs)) * 1e6
    items = [item_from_row(r, i) for i, r in enumerate(recs)]
    render = compile_template(loadgen.TEMPLATE)
    t = time.perf_counter()
    for item in items:
        render(item)
        json.dumps(item, separators=(",", ":"), default=str)
    out["templates.render_us_per_item"] = (time.perf_counter() - t) / max(1, len(items)) * 1e6
    conn = make_connector(ConnectorConfig("probe", "webhook", WebhookConfig(
        url=f"http://127.0.0.1:{spec['http_port']}/probe")))
    payloads = [json.dumps(i, default=str).encode() for i in items[:100]]
    t = time.perf_counter()
    for p in payloads:
        conn.send(p)
    out["sinks.send_ms_per_payload"] = (time.perf_counter() - t) / max(1, len(payloads)) * 1e3
    return _finish(out)


def _finish(values: dict) -> dict:
    """Every per-layer metric, by name with its unit."""
    return {k: {"value": float(values[k]), "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
