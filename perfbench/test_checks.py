"""Self-tests of the benchmark's output checks: each checker accepts the
true output and rejects a dropped, reordered or altered one.

    python3 -m pytest -q perfbench/test_checks.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import checks  # noqa: E402
import loadgen  # noqa: E402
from oracles import load_value_hash  # noqa: E402

value_hash = load_value_hash()


# ---------------------------------------------------------------- CDC --


def _committed(n: int = 40) -> list[dict]:
    evs = loadgen.make_events(seed=7, n=n, first=0)
    for i, ev in enumerate(evs):
        ev.update(file="mysql-bin.000001", pos=1000 + 200 * i, phase="live", due=float(i))
    return evs


def _payloads(committed: list[dict]) -> list[list]:
    """What a correct pipeline delivers: per route, its events in binlog
    order, in the two payload shapes the routes use."""
    out = []
    for ev in committed:
        if ev["table"] != loadgen.ROUTED_TABLE:
            continue
        rows = checks.wire_rows(ev["rows"])
        if ev["op"] == "INSERT":
            out.append(["/inserts", json.dumps({
                "op": ev["op"], "db": loadgen.DB, "table": ev["table"], "file": ev["file"],
                "pos": ev["pos"], "rows": rows}), ev["due"] + 1])
        out.append(["/all", json.dumps({
            "ItemID": 1,
            "Log": {"EventType": "x", "BinlogFile": ev["file"], "BinlogPosition": ev["pos"]},
            "Data": {"Database": loadgen.DB, "Table": ev["table"], "Operation": ev["op"],
                     "Rows": rows}}), ev["due"] + 1])
    return out


def _problems(committed, received):
    return checks.check_cdc(committed, received)["problems"]


def test_cdc_accepts_true_output():
    committed = _committed()
    verdict = checks.check_cdc(committed, _payloads(committed))
    assert verdict["problems"] == [] and verdict["redeliveries"] == 0


def test_cdc_counts_redelivery_without_failing():
    committed = _committed()
    received = _payloads(committed)
    verdict = checks.check_cdc(committed, received + received[:3])
    assert verdict["problems"] == [] and verdict["redeliveries"] == 3


def test_cdc_rejects_dropped():
    committed = _committed()
    received = _payloads(committed)
    assert _problems(committed, received[:-1])


def test_cdc_rejects_reordered():
    committed = _committed()
    received = [p for p in _payloads(committed) if p[0] == "/all"]
    received[2], received[3] = received[3], received[2]
    assert any("order" in p for p in _problems(committed, received))


def _alter_first_item(received, change):
    i = next(i for i, p in enumerate(received) if p[0] == "/all")
    d = json.loads(received[i][1])
    change(d)
    return received[:i] + [["/all", json.dumps(d), received[i][2]]] + received[i + 1:]


def test_cdc_rejects_altered_row_value():
    committed = _committed()

    def bump(d):
        row = d["Data"]["Rows"][0]
        row["score"] = str(int(row["score"]) + 1)

    assert _problems(committed, _alter_first_item(_payloads(committed), bump))


def test_cdc_rejects_altered_operation():
    committed = _committed()

    def flip(d):
        d["Data"]["Operation"] = "INSERT" if d["Data"]["Operation"] == "DELETE" else "DELETE"

    assert _problems(committed, _alter_first_item(_payloads(committed), flip))


def test_cdc_rejects_altered_position():
    committed = _committed()

    def shift(d):
        d["Log"]["BinlogPosition"] += 1

    assert _problems(committed, _alter_first_item(_payloads(committed), shift))


def test_cdc_rejects_table_outside_allowlist():
    committed = _committed()
    received = _payloads(committed)
    other = next(ev for ev in committed if ev["table"] == loadgen.OTHER_TABLE)
    received.append(["/all", json.dumps({
        "Log": {"BinlogFile": other["file"], "BinlogPosition": other["pos"]},
        "Data": {"Database": loadgen.DB, "Table": other["table"], "Operation": other["op"],
                 "Rows": checks.wire_rows(other["rows"])}}), 99.0])
    assert any("allowlist" in p for p in _problems(committed, received))


# ------------------------------------------------------------ queries --

ROWS = [(1, "a", 0.5), (2, "b", 1.5), (3, "c", 2.5), (4, "d", None)]
COLS = ["id", "name", "v"]
ORACLE = {"rows": len(ROWS), "cols": sorted(COLS), "hash": value_hash(ROWS, COLS)}


def _got(rows, cols=COLS):
    return {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(rows, cols)}


def test_query_accepts_true_output_in_any_row_order():
    assert checks.check_query("q", _got(list(reversed(ROWS))), ORACLE) == []


def test_query_rejects_dropped_row():
    assert checks.check_query("q", _got(ROWS[:-1]), ORACLE)


def test_query_rejects_values_reordered_across_rows():
    swapped = [(r[0], ROWS[(i + 1) % len(ROWS)][1], r[2]) for i, r in enumerate(ROWS)]
    assert checks.check_query("q", _got(swapped), ORACLE)


def test_query_rejects_altered_value():
    altered = [ROWS[0][:2] + (0.5000000000000001,), *ROWS[1:]]
    assert checks.check_query("q", _got(altered), ORACLE)


def test_query_rejects_renamed_column():
    assert checks.check_query("q", _got(ROWS, ["id", "name", "w"]), ORACLE)


if __name__ == "__main__":
    import pytest

    sys.exit(pytest.main(["-q", __file__]))
