"""CDC load generator: a scripted MySQL binlog server and a webhook receiver
in one process, apart from the Spark driver under test.

The binlog side reuses ``tests/fake_mysql_server`` (``BinlogScript`` builds
real event bytes, ``FakeMySQLServer`` speaks the replication protocol). This
module only appends transactions on a schedule, advances SHOW MASTER STATUS
as each one commits, and counts what the server is asked for and sends. The
receiver stamps every payload's arrival with ``time.monotonic()`` (the same
clock the schedule uses) and counts the connections it accepts.

Control is one JSON command per stdin line, one JSON reply per stdout line:

    {"cmd": "open_loop", "n": 75, "rate": 25, "phase": "warmup"}
    {"cmd": "bulk", "n": 2000, "phase": "timed"}
    {"cmd": "wait", "phase": "live", "within": 1.0}
                                     -> {"done": bool}: all routed events of
                                        the phase reached the all-ops route
    {"cmd": "counters"}              -> server and receiver counters
    {"cmd": "report", "path": "..."} -> full record written as JSON
    {"cmd": "quit"}

Usage: python3 perfbench/loadgen.py --seed N   (prints its ports first)
"""

from __future__ import annotations

import argparse
import http.server
import json
import os
import random
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import tests.fake_mysql_server as fms  # noqa: E402
from binwatch_spark.sources.binlog_wire import (  # noqa: E402
    DELETE_ROWS_EVENT_V2,
    UPDATE_ROWS_EVENT_V2,
    WRITE_ROWS_EVENT_V2,
)

# The workload's wiring, defined once: the generator, the pipeline config
# handed to the program, the decode probe and the checker all read it.
DB = "shop"
ROUTED_TABLE = "users"
OTHER_TABLE = "audit"  # not in the pipeline's allowlist: never delivered
COLS = [("id", "longlong"), ("name", "varchar", 255), ("score", "long")]
INFO_SCHEMA = {
    (DB, t): [("id", "bigint", None), ("name", "varchar", "utf8mb4"),
              ("score", "int", None)]
    for t in (ROUTED_TABLE, OTHER_TABLE)
}
USER, PASSWORD = "repl", "replpw"
ROWS_EVENTS = (WRITE_ROWS_EVENT_V2, UPDATE_ROWS_EVENT_V2, DELETE_ROWS_EVENT_V2)

# The traffic mix. These shares are chosen, not measured from a production
# binlog (README.md, "Event mix", says what each one weighs in the metrics).
OTHER_SHARE = 0.1                # events on OTHER_TABLE
OP_SHARES = (("INSERT", 0.5), ("UPDATE", 0.3), ("DELETE", 0.2))
ROWS_PER_EVENT = (1, 4)          # uniform, inclusive

TEMPLATE = (
    '{"op":"{{ .Data.Operation }}","db":"{{ .Data.Database }}",'
    '"table":"{{ .Data.Table }}","file":"{{ .Log.BinlogFile }}",'
    '"pos":{{ .Log.BinlogPosition }},"rows":{{ .Data.Rows | toJson }}}'
)
# receiver path -> (route name, operations, payload shape). The all-ops
# route sees every routed event, so its arrivals signal a phase's completion.
ROUTES = {
    "/inserts": ("inserts", ("INSERT",), "template"),
    "/all": ("all-ops", ("INSERT", "UPDATE", "DELETE"), "item"),
}
COMPLETION_PATH = "/all"


def pipeline_config(binlog_port: int, http_port: int, start: list, checkpoint: str) -> dict:
    """The binwatch_spark config the program runs against this generator."""
    base = f"http://127.0.0.1:{http_port}"
    routes, connectors = [], []
    for path, (name, ops, shape) in ROUTES.items():
        connectors.append({"name": "hook-" + name, "type": "webhook",
                           "webhook": {"url": base + path}})
        route = {"name": name, "connector": "hook-" + name,
                 "operations": list(ops), "dbTable": f"{DB}.{ROUTED_TABLE}"}
        if shape == "template":
            route["template"] = TEMPLATE
        routes.append(route)
    return {
        "server": {"id": "perfbench-cdc", "senderWorkers": 1, "checkpointDir": checkpoint},
        "source": {
            "driver": "wire", "host": "127.0.0.1", "port": binlog_port,
            "user": USER, "password": PASSWORD, "serverID": 4242,
            "dbTables": {DB: [ROUTED_TABLE]},
            "startLocation": {"file": start[0], "position": start[1]},
        },
        "connectors": connectors,
        "routes": routes,
    }


def make_events(seed: int, n: int, first: int) -> list[dict]:
    """Events ``first .. first+n-1`` of the seed's stream, drawn with the
    shares above. Deterministic in (seed, index)."""
    out = []
    for i in range(first, first + n):
        r = random.Random(seed * 1_000_003 + i)
        table = OTHER_TABLE if r.random() < OTHER_SHARE else ROUTED_TABLE
        x = r.random()
        for op, share in OP_SHARES:
            if x < share:
                break
            x -= share
        rows = []
        for k in range(r.randint(*ROWS_PER_EVENT)):
            rows.append({
                "id": i * 8 + k,
                "name": "".join(r.choice("abcdefghij") for _ in range(r.randint(3, 12))),
                "score": r.randint(-50_000, 50_000),
            })
        out.append({"index": i, "table": table, "op": op, "rows": rows})
    return out


class ScriptedServer(fms.FakeMySQLServer):
    """Counts handshakes, SHOW MASTER STATUS queries, dumps and the rows
    events the dumps put on the wire."""

    def __init__(self, script):
        super().__init__(script, user=USER, password=PASSWORD,
                         info_schema=INFO_SCHEMA)
        self.connections = 0
        self.status_queries = 0
        self.rows_events_sent = 0
        send = fms.send_packet

        def counting_send(sock, seq, payload):
            send(sock, seq, payload)
            # payload = OK byte + event; the event type is header byte 4
            if len(payload) > 5 and payload[0] == 0 and payload[5] in ROWS_EVENTS:
                self.rows_events_sent += 1

        fms.send_packet = counting_send  # the server resolves it per call

    def _handshake(self, sock):
        self.connections += 1
        return super()._handshake(sock)

    def _handle_query(self, sock, sql):
        if sql.strip().lower().startswith("show master status"):
            self.status_queries += 1
        return super()._handle_query(sock, sql)


class Receiver(http.server.HTTPServer):
    """Single-threaded webhook endpoint: one connection at a time.
    ``on_payload(path, body)`` runs after each payload is stamped."""

    def __init__(self, on_payload):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.received: list[tuple[str, bytes, float]] = []
        self.connections = 0
        self.on_payload = on_payload

    def get_request(self):
        req = super().get_request()
        self.connections += 1
        return req


class _Handler(http.server.BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        self.server.received.append((self.path, body, time.monotonic()))
        self.server.on_payload(self.path, body)
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *args):
        return


class Generator:
    def __init__(self, seed: int):
        self.seed = seed
        self.script = fms.BinlogScript(file="mysql-bin.000001")
        self.server = ScriptedServer(self.script)
        self.server.master_status_row = (self.script.file, self.script.pos, "")
        self.server.start()
        self.receiver = Receiver(self._on_payload)
        threading.Thread(target=self.receiver.serve_forever, daemon=True).start()
        self.committed: list[dict] = []
        # routed events not yet seen on the all-ops route, by phase
        self._phase_of: dict[tuple, str] = {}
        self._pending: dict[str, set] = {}
        self._cond = threading.Condition()
        self.start_location = (self.script.file, self.script.pos)

    def _append(self, ev: dict) -> None:
        s = self.script
        s.add_table_map(DB, ev["table"], COLS)
        if ev["op"] == "INSERT":
            s.add_write_rows(DB, ev["table"], COLS, ev["rows"])
        elif ev["op"] == "DELETE":
            s.add_delete_rows(DB, ev["table"], COLS, ev["rows"])
        else:
            s.add_update_rows(DB, ev["table"], COLS,
                              [({**r, "score": r["score"] - 1}, r) for r in ev["rows"]])
        ev["file"], ev["pos"] = s.events[-1][0], s.events[-1][1]
        s.add_xid(ev["index"] + 1)

    def _publish(self) -> None:
        self.server.master_status_row = (self.script.file, self.script.pos, "")

    def _track(self, evs: list[dict], phase: str) -> None:
        with self._cond:
            pending = self._pending.setdefault(phase, set())
            for ev in evs:
                if ev["table"] == ROUTED_TABLE:
                    key = (ev["file"], ev["pos"])
                    self._phase_of[key] = phase
                    pending.add(key)

    def _on_payload(self, path: str, body: bytes) -> None:
        if path != COMPLETION_PATH:
            return
        try:
            d = json.loads(body)
            key = (d["Log"]["BinlogFile"], d["Log"]["BinlogPosition"])
        except (ValueError, KeyError, TypeError):
            return
        with self._cond:
            phase = self._phase_of.get(key)
            if phase is not None:
                self._pending[phase].discard(key)
                if not self._pending[phase]:
                    self._cond.notify_all()

    def open_loop(self, n: int, rate: float, phase: str) -> dict:
        evs = make_events(self.seed, n, len(self.committed))
        t0 = time.monotonic() + 0.05
        for k, ev in enumerate(evs):
            due = t0 + k / rate
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            self._append(ev)
            self._track([ev], phase)
            self._publish()
            ev.update(phase=phase, due=due, committed=time.monotonic())
            self.committed.append(ev)
        return {"ok": True}

    def bulk(self, n: int, phase: str) -> dict:
        evs = make_events(self.seed, n, len(self.committed))
        for ev in evs:
            self._append(ev)
        self._track(evs, phase)
        due = time.monotonic()
        self._publish()
        for ev in evs:
            ev.update(phase=phase, due=due, committed=due)
        self.committed.extend(evs)
        return {"ok": True}

    def wait(self, phase: str, timeout: float) -> dict:
        """Block until every routed event of ``phase`` reached the
        completion route, or ``timeout`` passes."""
        with self._cond:
            done = self._cond.wait_for(lambda: not self._pending.get(phase), timeout)
            return {"done": done, "left": len(self._pending.get(phase, ()))}

    def counters(self) -> dict:
        return {
            "connections": self.server.connections,
            "status_queries": self.server.status_queries,
            "dumps": len(self.server.dump_requests),
            "rows_events_sent": self.server.rows_events_sent,
            "requests": sum(1 for r in self.receiver.received if r[0] != "/probe"),
            "receiver_connections": self.receiver.connections,
        }

    def report(self, path: str) -> dict:
        rec = {
            "seed": self.seed,
            "start": list(self.start_location),
            "tip": [self.script.file, self.script.pos],
            "committed": self.committed,
            "received": [
                [p, b.decode("utf-8", "replace"), t]
                for p, b, t in list(self.receiver.received)
            ],
            "counters": self.counters(),
        }
        with open(path, "w") as fh:
            json.dump(rec, fh)
        return {"ok": True}

    def stop(self) -> None:
        self.server.stop()
        self.receiver.shutdown()
        self.receiver.server_close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    gen = Generator(args.seed)
    out = sys.stdout
    out.write(json.dumps({
        "binlog_port": gen.server.port,
        "http_port": gen.receiver.server_address[1],
        "start": list(gen.start_location),
    }) + "\n")
    out.flush()
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "quit":
            break
        if op == "open_loop":
            reply = gen.open_loop(cmd["n"], cmd["rate"], cmd["phase"])
        elif op == "bulk":
            reply = gen.bulk(cmd["n"], cmd["phase"])
        elif op == "wait":
            reply = gen.wait(cmd["phase"], cmd["within"])
        elif op == "counters":
            reply = gen.counters()
        elif op == "report":
            reply = gen.report(cmd["path"])
        else:
            reply = {"error": f"unknown command {op}"}
        out.write(json.dumps(reply) + "\n")
        out.flush()
    gen.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
