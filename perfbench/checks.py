"""Output checks computed apart from the program.

CDC: the generator's own record of what it committed is the truth. Each route
must receive exactly its matching events, in binlog order (the pipeline runs
with ``senderWorkers: 1``), with the committed operation, row values,
database/table and binlog file/position. A payload for a position already
delivered on that route is a redelivery: counted, and it must repeat the
first delivery byte for byte in meaning.

Queries: the program's rows are hashed with ``tools/oracle_check.value_hash``
and compared with the hash of the query's DuckDB oracle twin over the same
files (row count, column names and the order-insensitive value hash).
"""

from __future__ import annotations

import json

from loadgen import DB, ROUTED_TABLE, ROUTES

ROUTED = (DB, ROUTED_TABLE)


def wire_rows(rows: list[dict]) -> list[dict]:
    """Row values as the envelope carries them: integers as strings."""
    return [{"id": str(r["id"]), "name": r["name"], "score": str(r["score"])} for r in rows]


def expected_for(committed: list[dict], ops: set[str]) -> list[tuple]:
    return [
        (ev["op"], ROUTED[0], ev["table"],
         ev["file"], int(ev["pos"]), json.dumps(wire_rows(ev["rows"]), sort_keys=True))
        for ev in committed
        if ev["table"] == ROUTED[1] and ev["op"] in ops
    ]


def parse_payload(body: str, shape: str) -> tuple:
    d = json.loads(body)
    if shape == "template":
        return (d["op"], d["db"], d["table"], d["file"], int(d["pos"]),
                json.dumps(d["rows"], sort_keys=True))
    return (d["Data"]["Operation"], d["Data"]["Database"], d["Data"]["Table"],
            d["Log"]["BinlogFile"], int(d["Log"]["BinlogPosition"]),
            json.dumps(d["Data"]["Rows"], sort_keys=True))


def check_cdc(committed: list[dict], received: list[list]) -> dict:
    """``received``: [path, body, t] in arrival order. Returns problems (empty
    when correct), redelivery count and, per (route, file, pos), the first
    arrival time."""
    problems: list[str] = []
    redeliveries = 0
    first_seen: dict[tuple, float] = {}
    for path, (_name, ops, shape) in ROUTES.items():
        want = expected_for(committed, ops)
        got: list[tuple] = []
        seen: dict[tuple, tuple] = {}
        for rpath, body, t in received:
            if rpath != path:
                continue
            try:
                rec = parse_payload(body, shape)
            except (ValueError, KeyError, TypeError) as exc:
                problems.append(f"{path}: unparseable payload ({exc})")
                continue
            if (rec[1], rec[2]) != ROUTED:
                problems.append(f"{path}: delivered an event of {rec[1]}.{rec[2]}, "
                                "a table outside the allowlist")
                continue
            key = (rec[3], rec[4])
            if key in seen:
                redeliveries += 1
                if seen[key] != rec:
                    problems.append(f"{path}: redelivery of {key} differs")
                continue
            seen[key] = rec
            first_seen[(path, *key)] = t
            got.append(rec)
        if got == want:
            continue
        want_keys = {(w[3], w[4]) for w in want}
        got_keys = {(g[3], g[4]) for g in got}
        missing = want_keys - got_keys
        extra = got_keys - want_keys
        if missing:
            problems.append(f"{path}: {len(missing)} committed events not delivered")
        if extra:
            problems.append(f"{path}: {len(extra)} payloads match no committed event")
        if not missing and not extra:
            by_key = {(w[3], w[4]): w for w in want}
            if [(g[3], g[4]) for g in got] != [(w[3], w[4]) for w in want]:
                problems.append(f"{path}: delivered out of binlog order")
            bad = sum(1 for g in got if by_key[(g[3], g[4])] != g)
            if bad:
                problems.append(f"{path}: {bad} payloads differ from the committed event")
    return {"problems": problems, "redeliveries": redeliveries, "first_seen": first_seen}


def check_query(name: str, got: dict, oracle: dict) -> list[str]:
    """``got``/``oracle``: {"rows", "cols", "hash"}."""
    problems = []
    if got["rows"] != oracle["rows"]:
        problems.append(f"{name}: {got['rows']} rows, oracle has {oracle['rows']}")
    if sorted(got["cols"]) != sorted(oracle["cols"]):
        problems.append(f"{name}: columns {got['cols']} != oracle {oracle['cols']}")
    if got["hash"] != oracle["hash"]:
        problems.append(f"{name}: value hash differs from the oracle")
    return problems
