"""End-to-end benchmark for binwatch_spark: the CDC relay and the query
inventory.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see README.md for their make-up and why each exists):

- ``cdc_relay``    the live binlog-to-webhook pipeline: an open loop at a
                   low fixed rate (latency), then a committed backlog
                   drained from its first position (throughput);
- ``query_tail``   a fixed ordered list of short, planning-bound queries;
- ``query_heavy``  a fixed ordered list of execution-bound queries.

Three processes take part: this harness, the program under test
(``program.py``: the Spark driver with its JVM and Python workers) and, for
CDC, the load generator (``loadgen.py``). CPU and PSS are read from /proc for
the program's process tree only. Every workload checks its outputs against a
computation made apart from the program: the generator's record of its
commits, or the DuckDB oracle twins of the queries.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, and the end-to-end figures of
that traced run go to an earlier line so the tracing overhead can be read
off. A host-noise line (steal, iowait, foreign CPU) always precedes the
result. Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import proctree  # noqa: E402

NEEDED = (
    "binwatch_spark/session.py",
    "binwatch_spark/streaming/pipeline.py",
    "tests/fake_mysql_server.py",
    "tools/oracle_check.py",
    "tools/gen_scale_fixture.py",
)
WORK = os.path.join(ROOT, ".perfbench")
NCPU = os.cpu_count() or 4

CDC_RATE = 25.0            # events/s offered by the cdc_live open loop
STAGED = 600               # events committed before the program starts
CATCHUP_EVENTS_PER_S = 300  # backlog size = this x --seconds
QUERY_WORKLOADS = {
    # name: (scale factor, queries in run order, untimed warm passes after
    # the check pass, timed passes per second of --seconds; the timed passes
    # are round(--seconds x that), at least 1)
    "query_tail": (
        "0.01",
        [
            "q01_source_scan", "q02_table_filter", "q03_dml_decode",
            "q04_route_predicate", "q05_explode_rows", "q06_before_image_drop",
            "q07_monotonic_ids", "q08_shard_assign", "q09_template_render",
            "q10_fanout_union", "q11_checkpoint_frontier",
            "q12_join_orders_customer", "q13_multijoin_pricing", "q17_set_ops",
            "q21_funnel", "q41_semi_anti_join", "q45_regional_revenue",
            "q77_cdc_apply",
        ],
        1,
        1 / 3,
    ),
    "query_heavy": ("0.1", ["q99_sessionize_stream", "q141_scd2_stream"], 0, 1 / 6),
}
WORKLOADS = ("cdc_relay", *QUERY_WORKLOADS)


def deadline_s(seconds: int) -> int:
    """A run gives up (and cleans up) rather than overrun: 170 s at
    ``--seconds 6``; each further second of timed work adds 5 s."""
    return 170 + 5 * max(0, seconds - 6)


class BenchError(RuntimeError):
    pass


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ------------------------------------------------------------ processes --


class Child:
    """A child process in its own session, read line by line on a thread."""

    def __init__(self, argv: list[str], log_path: str, env: dict | None = None):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            argv, cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, bufsize=1, start_new_session=True,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def send(self, text: str) -> None:
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()

    def readline(self, timeout: float) -> str:
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            raise BenchError(f"{self.proc.args[1]}: no reply within {timeout:.0f} s") from None
        if line is None:
            raise BenchError(f"{self.proc.args[1]}: exited with {self.proc.wait()}")
        return line

    def kill_tree(self) -> None:
        """Stop the process and every descendant, and wait for them."""
        pids = proctree.descendants(self.proc.pid)
        for pid in [self.proc.pid, *pids]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        self.proc.wait()
        _wait_gone(pids, 10.0)
        self.log.close()


def _alive(pid: int) -> bool:
    """True while the pid exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[-1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> None:
    end = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid) and time.monotonic() < end:
            time.sleep(0.05)


class Program(Child):
    """The program under test: ``program.py`` plus its JVM and workers."""

    def __init__(self, spec: dict, work: str):
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        tmp = os.path.join(work, "tmp")  # keeps the JVM's and Python's scratch in the run dir
        os.makedirs(tmp)
        env = dict(os.environ)
        env.update(
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            SPARK_GRAFT_CPUS=str(NCPU),
            SPARK_GRAFT_DRIVER_MEM="1g",
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            SPARK_CONF_DIR=os.path.join(HERE, "conf"),
            PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
            PYTHONWARNINGS="ignore",
        )
        env.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
        if spec.get("trace"):
            env["SPARK_GRAFT_EVENTLOG_DIR"] = spec["eventlog_dir"]
        super().__init__(
            [sys.executable, os.path.join(HERE, "program.py"), "--spec", spec_path],
            os.path.join(work, "program.log"), env,
        )
        self.pending: list[dict] = []
        self.sampler = proctree.TreeSampler(self.proc.pid)
        self.sampler.start()

    def expect(self, kind: str, timeout: float) -> dict:
        end = time.monotonic() + timeout
        while True:
            if self.pending:
                ev = self.pending.pop(0)
            else:
                line = self.readline(max(0.1, end - time.monotonic()))
                ev = self._parse(line)
            if ev is not None and ev["ev"] == kind:
                return ev
            if time.monotonic() > end:
                raise BenchError(f"program: no {kind!r} within {timeout:.0f} s")

    def check_alive(self) -> None:
        """Raise if the program reported a failure or exited; keep any other
        protocol event for ``expect``."""
        while True:
            try:
                line = self.lines.get_nowait()
            except queue.Empty:
                return
            if line is None:
                raise BenchError(f"program: exited with {self.proc.wait()}")
            ev = self._parse(line)
            if ev is not None:
                self.pending.append(ev)

    @staticmethod
    def _parse(line: str) -> dict | None:
        """A protocol event, or None for Spark's own output."""
        if not line.startswith("@@PB "):
            return None
        ev = json.loads(line[5:])
        if ev["ev"] == "failed":
            raise BenchError(f"program: pipeline failed: {ev['error']}")
        return ev

    def finish(self, timeout: float = 60.0) -> None:
        """Wait for a clean exit (traced runs need the trace and event log)."""
        self.expect("exit", timeout)
        pids = proctree.descendants(self.proc.pid)
        self.proc.wait(timeout=30)
        _wait_gone(pids, 15.0)

    def kill_tree(self) -> None:
        super().kill_tree()
        self.sampler.stop()


class LoadGen(Child):
    def __init__(self, seed: int, work: str):
        super().__init__(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--seed", str(seed)],
            os.path.join(work, "loadgen.log"),
        )
        self.info = json.loads(self.readline(30))

    def call(self, timeout: float = 60.0, **cmd) -> dict:
        self.send(json.dumps(cmd))
        return json.loads(self.readline(timeout))

    def wait_delivered(self, phase: str, timeout: float, prog: Program) -> None:
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            prog.check_alive()
            if self.call(cmd="wait", phase=phase, within=1.0)["done"]:
                return
        raise BenchError(f"{phase} events not all delivered within {timeout:.0f} s")


# ----------------------------------------------------------------- CDC --


def run_cdc(seed: int, seconds: int, trace: bool, work: str) -> dict:
    """One pipeline, two timed phases: a live open loop (latency), then a
    committed backlog drained from its first position (throughput). The
    backlog is not split with maxBytesPerBatch: its byte cut can land inside
    a transaction, and the next batch then fails (see CHANGES.md)."""
    import loadgen

    gen = LoadGen(seed, work)
    prog = None
    try:
        spec = {
            "mode": "cdc", "trace": trace,
            "binlog_port": gen.info["binlog_port"], "http_port": gen.info["http_port"],
            "config": loadgen.pipeline_config(
                gen.info["binlog_port"], gen.info["http_port"], gen.info["start"],
                os.path.join(work, "checkpoint")),
            "eventlog_dir": os.path.join(work, "eventlog"),
            "trace_out": os.path.join(work, "trace.json"),
        }
        os.makedirs(spec["eventlog_dir"])
        t_launch = time.monotonic()
        # Committed before the program starts, so the pipeline's cold first
        # batch overlaps session start; set-up ends when it is delivered.
        gen.call(cmd="bulk", n=STAGED, phase="staged")
        prog = Program(spec, work)
        prog.expect("session", 120)
        session_s = time.monotonic() - t_launch
        prog.expect("started", 60)
        gen.wait_delivered("staged", 60, prog)
        setup_s = time.monotonic() - t_launch

        prog.send("go")
        prog.expect("timing", 30)
        c0 = gen.call(cmd="counters")
        cpu0, host0 = prog.sampler.reset_peak(), host_snapshot()
        live0 = time.time()
        gen.call(timeout=seconds + 30, cmd="open_loop", n=int(CDC_RATE * seconds),
                 rate=CDC_RATE, phase="live")
        gen.wait_delivered("live", 30, prog)
        live1 = time.time()
        backlog = CATCHUP_EVENTS_PER_S * seconds
        gen.call(cmd="bulk", n=backlog, phase="catchup")
        # a quarter of the drain rate measured on 4 cores (about 200/s)
        gen.wait_delivered("catchup", 30 + backlog / 50, prog)
        cpu1, host1 = prog.sampler.sample(read_pss=True), host_snapshot()
        peak_pss_kb = prog.sampler.peak_pss_kb
        c1 = gen.call(cmd="counters")
        end = time.time()
        if trace:  # the trace needs a clean stop; untraced runs just end it
            prog.send("stop")
            prog.finish()
        record_path = os.path.join(work, "record.json")
        gen.call(cmd="report", path=record_path)
        with open(record_path) as fh:
            record = json.load(fh)
        cpu = proctree.delta(cpu0, cpu1)
        out = cdc_metrics(record, setup_s, cpu, peak_pss_kb)
        out["host"] = host_noise(host0, host1)
        out["cpu_by_kind"] = cpu
        if trace:
            import tracing

            out["layers"] = tracing.cdc_layers(
                record, spec, {"timed": (live0, end), "live": (live0, live1)}, cpu,
                (c0, c1), out["redeliveries"], session_s)
        return out
    finally:
        if prog is not None:
            prog.kill_tree()
        if gen.proc.poll() is None:
            gen.send(json.dumps({"cmd": "quit"}))
            try:
                gen.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                pass
        gen.kill_tree()


def cdc_metrics(record: dict, setup_s: float, cpu: dict, peak_pss_kb: int) -> dict:
    """Latency from the live phase, throughput from the catch-up phase, CPU
    per delivered event over both. An event counts as delivered when every
    route it matches received it."""
    import checks

    verdict = checks.check_cdc(record["committed"], record["received"])
    latencies: list[float] = []
    delivered = {"live": 0, "catchup": 0}
    attempted = 0
    last_catchup = 0.0
    for ev in record["committed"]:
        if ev["phase"] not in delivered or ev["table"] != checks.ROUTED[1]:
            continue
        attempted += 1
        hits = [
            verdict["first_seen"].get((path, ev["file"], ev["pos"]))
            for path, (_name, ops, _shape) in checks.ROUTES.items()
            if ev["op"] in ops
        ]
        if any(h is None for h in hits):
            continue
        delivered[ev["phase"]] += 1
        if ev["phase"] == "live":
            latencies.extend(h - ev["due"] for h in hits)
        else:
            last_catchup = max(last_catchup, *hits)
    if not latencies or not delivered["catchup"]:
        raise BenchError("no timed payload arrived")
    catchup0 = min(ev["due"] for ev in record["committed"] if ev["phase"] == "catchup")
    done = delivered["live"] + delivered["catchup"]
    return {
        "correct": not verdict["problems"],
        "problems": verdict["problems"],
        "attempted": attempted,
        "failed": attempted - done,
        "metrics": {
            "setup_s": setup_s,
            "latency_p50_s": percentile(latencies, 0.5),
            "latency_p90_s": percentile(latencies, 0.9),
            "ops_per_s": delivered["catchup"] / (last_catchup - catchup0),
            "cpu_s_per_op": cpu["total"] / max(1, done),
            "peak_pss_mb": peak_pss_kb / 1024.0,
        },
        "samples": len(latencies),
        "redeliveries": verdict["redeliveries"],
    }


# ------------------------------------------------------------- queries --


def ensure_fixture(sf: str) -> str:
    """The fixture at scale ``sf``, generated once per checkout by the repo's
    own deterministic generator (seed 42)."""
    out = os.path.join(WORK, "fixture", f"sf{sf}")
    if not os.path.exists(os.path.join(out, "MANIFEST.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "gen_scale_fixture.py"),
             "--sf", sf, "--out", tmp],
            cwd=ROOT, check=True, stdout=subprocess.DEVNULL, timeout=120,
        )
        os.replace(tmp, out)
    return out


def run_queries(name: str, seconds: int, trace: bool, work: str) -> dict:
    import checks
    import oracles

    sf, names, warm, passes_per_s = QUERY_WORKLOADS[name]
    passes = max(1, round(seconds * passes_per_s))
    sf_dir = ensure_fixture(sf)
    truth = oracles.load(sf_dir, names)
    spec = {
        "mode": "queries", "trace": trace, "sf_dir": sf_dir, "queries": names,
        "warm": warm, "passes": passes, "eventlog_dir": os.path.join(work, "eventlog"),
        "trace_out": os.path.join(work, "trace.json"),
    }
    os.makedirs(spec["eventlog_dir"])
    t_launch = time.monotonic()
    prog = Program(spec, work)
    try:
        prog.expect("session", 120)
        session_s = time.monotonic() - t_launch
        ready = prog.expect("ready", 150)
        setup_s = time.monotonic() - t_launch - ready["hash_s"]
        cpu0, host0 = prog.sampler.reset_peak(), host_snapshot()
        prog.send("go")
        done = prog.expect("done", 60 + 20 * passes)
        cpu1, host1 = prog.sampler.sample(read_pss=True), host_snapshot()
        peak_pss_kb = prog.sampler.peak_pss_kb
        if trace:
            prog.finish()
    finally:
        prog.kill_tree()
    problems = list(done["failures"])
    for q in names:
        problems += checks.check_query(q, ready["checks"][q], truth[q])
    times = [t for _q, t in done["times"]]
    per_query = [t / len(names) for t in done["pass_s"]]  # one figure per pass
    attempted = passes * len(names)
    cpu = proctree.delta(cpu0, cpu1)
    wall = done["wall"][1] - done["wall"][0]
    out = {
        "correct": not problems,
        "problems": problems,
        "attempted": attempted,
        "failed": attempted - len(times),
        "metrics": {
            "setup_s": setup_s,
            "latency_p50_s": percentile(per_query, 0.5),
            "latency_p90_s": percentile(per_query, 0.9),
            "ops_per_s": len(times) / wall,
            "cpu_s_per_op": cpu["total"] / max(1, len(times)),
            "peak_pss_mb": peak_pss_kb / 1024.0,
        },
        "samples": len(per_query),
        "host": host_noise(host0, host1),
        "cpu_by_kind": cpu,
    }
    if trace:
        import tracing

        out["layers"] = tracing.query_layers(spec, done, cpu, session_s)
    return out


# ---------------------------------------------------------------- main --


SELF = proctree.TreeSampler(os.getpid(), pss_every=0)  # harness, generator, program


def host_snapshot() -> dict:
    return {**proctree.host_counters(), "_ours": SELF.sample()}


def host_noise(h0: dict, h1: dict) -> dict:
    """Machine-wide steal and iowait over the timed window, and the CPU that
    processes outside this benchmark's own tree burned meanwhile. Reported
    beside the metrics; no metric is derived from it."""
    d = {k: h1[k] - h0[k] for k in ("busy_s", "iowait_s", "steal_s")}
    ours = proctree.delta(h0["_ours"], h1["_ours"])["total"]
    return {
        "steal_s": round(d["steal_s"], 2),
        "iowait_s": round(d["iowait_s"], 2),
        "foreign_cpu_s": round(max(0.0, d["busy_s"] - ours), 2),
    }


def _positive(text: str) -> int:
    value = int(text)
    if value < 1:
        raise argparse.ArgumentTypeError("must be at least 1")
    return value


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=_positive, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a binwatch_spark checkout (missing {missing})", file=sys.stderr)
        return 2
    SELF.start()
    deadline = deadline_s(args.seconds)

    def out_of_time(_sig, _frame):
        raise BenchError(f"run exceeded {deadline} s")

    signal.signal(signal.SIGALRM, out_of_time)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still runs the cleanup
    signal.alarm(deadline)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "cdc_relay":
            res = run_cdc(args.seed, args.seconds, bool(args.trace), work)
        else:
            res = run_queries(args.workload, args.seconds, bool(args.trace), work)
    except BenchError as exc:
        print(f"perfbench: {args.workload}: {exc}", file=sys.stderr)
        for log in ("program.log", "loadgen.log"):
            path = os.path.join(work, log)
            if os.path.exists(path):
                tail = open(path, errors="replace").read()[-3000:]
                print(f"--- {log} (tail) ---\n{tail}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    units = {"setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
             "ops_per_s": "1/s", "cpu_s_per_op": "s", "peak_pss_mb": "MB"}
    e2e = {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()}
    print(json.dumps({
        "host_noise": res["host"], "samples": res["samples"],
        "timed_cpu_s": {k: round(v, 2) for k, v in sorted(res["cpu_by_kind"].items())},
        **({"redeliveries": res["redeliveries"]} if "redeliveries" in res else {}),
    }))
    if args.trace:
        print(json.dumps({"traced_end_to_end": e2e}))
        metrics = res["layers"]
    else:
        metrics = e2e
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
