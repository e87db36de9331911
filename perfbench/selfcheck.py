"""Self-tests of the benchmark; no Spark needed.

    python3 perfbench/selfcheck.py

Checks that the same seed gives the same inputs, that each oracle
catches a corrupted result, and that ``BENCHMARK.json`` declares every
metric with a valid name, unit and direction.
"""

from __future__ import annotations

import copy
import itertools
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import wl_catalog  # noqa: E402
import wl_oltp  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok   {what}")


def seeds_repeat() -> None:
    a, b, c = wl_oltp.make_stream(7), wl_oltp.make_stream(7), wl_oltp.make_stream(8)
    check(a == b, "oltp_mixed: same seed, same request stream")
    check(a != c, "oltp_mixed: another seed, another request stream")
    check(wl_oltp.preload_sql(7) == wl_oltp.preload_sql(7), "oltp_mixed: same seed, same preload")
    orders = lambda s: list(itertools.islice(wl_catalog.pass_orders(s), 4))  # noqa: E731
    check(orders(7) == orders(7), "catalog: same seed, same query order")
    check(orders(7) != orders(8), "catalog: another seed, another query order")


def oltp_oracle_catches() -> None:
    stream = wl_oltp.make_stream(3)[:60]
    ref, dut = wl_oltp.Oracle(3), wl_oltp.Oracle(3)

    def answer(o, req):
        return o.execute(req) if req.path == "/db/execute" else o.query(req)

    replies = [answer(dut, r) for r in stream]
    want = [answer(ref, r) for r in stream]
    check(all(wl_oltp.same(r, g, w) for r, g, w in zip(stream, replies, want)),
          "oltp_mixed: identical replies agree")
    ops = {r.op for r in stream}
    for op in sorted(ops):
        i = next(i for i, r in enumerate(stream) if r.op == op)
        bad = copy.deepcopy(replies[i])
        if stream[i].path == "/db/query":
            bad[0]["values"] = bad[0]["values"][1:] if bad[0]["values"] else [[0]]
        elif "error" in bad[0]:
            bad[0]["error"] = "no error"
        else:
            bad[0]["rows_affected"] = bad[0].get("rows_affected", 0) + 1
        check(not wl_oltp.same(stream[i], bad, want[i]), f"oltp_mixed: corrupted {op} reply caught")


def catalog_oracle_catches() -> None:
    import duckdb

    canon = wl_catalog.gate_canon()
    con = duckdb.connect()
    want = con.execute("SELECT range AS k, range * 0.5 AS v FROM range(5)").df()
    got = want.iloc[::-1].copy()  # row order is not compared
    check(wl_catalog.differ(canon, got, want) is None, "catalog: reordered rows agree")
    bad = got.copy()
    bad.loc[bad.index[0], "v"] += 1e-9
    check(wl_catalog.differ(canon, bad, want) is not None, "catalog: corrupted value caught")
    check(wl_catalog.differ(canon, got.iloc[1:], want) is not None, "catalog: missing row caught")
    con.close()


def metrics_declared() -> None:
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    everything = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in everything]
    check(len(names) == len(set(names)), "BENCHMARK.json: metric names are unique")
    check(all(NAME.match(n) for n in names), "BENCHMARK.json: names use [A-Za-z0-9_.-]")
    check(all(UNIT.match(m["unit"]) for m in everything), "BENCHMARK.json: units are valid")
    check(all(m["better"] in ("lower", "higher") for m in everything),
          "BENCHMARK.json: every metric has a direction")
    check(all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"]),
          "BENCHMARK.json: end-to-end bounds within (0, 0.25]")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    check(setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                     "bound": max(m["bound"] for m in spec["end_to_end"])}],
          "BENCHMARK.json: setup_s in s, lower, with the largest bound")
    try:
        run.with_units({"not.declared": 1.0}, trace=True)
        check(False, "undeclared metric rejected")
    except ValueError:
        check(True, "undeclared metric rejected")


if __name__ == "__main__":
    seeds_repeat()
    oltp_oracle_catches()
    catalog_oracle_catches()
    metrics_declared()
    print("selfcheck passed")
