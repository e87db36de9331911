"""``oltp_mixed``: dust's own statement traffic over HTTP.

A warehouse-mode ``DustSession`` (fresh directory per set-up) serves
``DustHttpService``. One client, closed loop: it sends the next request
envelope to ``/db/execute`` or ``/db/query`` when the previous reply is
in. The request stream comes from the seed alone; the oracle replays
the consumed prefix in stdlib ``sqlite3`` after the timed loop.

Flush policy: every write is a parquet version write plus a journal
append, with no fsync, so write costs are the page cache's, not a
storage device's.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import sqlite3
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from sparkenv import SPARK_KEYS, CpuMeter, SparkCounters

PRELOAD_ACCOUNTS = 1000
PRELOAD_EVENTS = 2000
SETUPS = 3  # set-ups per run (open, DDL, preload); setup_s takes their median
SPACE_CHECKPOINT = 11  # space_amp is sampled after this many writes (one block)
STREAM_BLOCKS = 250

DDL = [
    "CREATE TABLE accounts(id INTEGER PRIMARY KEY, email TEXT UNIQUE NOT NULL, "
    "balance INTEGER, note TEXT)",
    "CREATE TABLE events(acct INTEGER, kind TEXT, amount INTEGER)",
]
# Requests come in blocks of 20 with a fixed op mix, shuffled by the
# seed, so every run sees the same mix: reads 9 (45 %), writes 11 (55 %).
# The warm-up block and every other timed block, from the first, turn one
# of their three inserts into a duplicate-email insert, which must fail
# ("insert_dup", 1 timed insert in 6).
BLOCK = {
    "point": 3, "range": 2, "group": 2, "join": 2,
    "insert": 3, "event": 3, "update": 3, "delete": 1, "tx": 1,
}
READS = ("point", "range", "group", "join")
KINDS = ("deposit", "withdraw", "fee", "refund")
OPS = (*READS, "insert", "insert_dup", "event", "update", "delete", "tx")
# the first block after set-up is untimed: the first executions of a
# statement shape compile its plans, which a long-lived server has done.
# (JIT compilation of the write path goes on into the next blocks; a
# longer warm-up does not fit the benchmark's time budget.)
WARMUP_BLOCKS = 1
WARMUP = WARMUP_BLOCKS * sum(BLOCK.values())

SQL = {
    "point": "SELECT id, email, balance, note FROM accounts WHERE id = ?",
    "range": "SELECT id, balance FROM accounts WHERE id BETWEEN ? AND ? ORDER BY id",
    "group": "SELECT kind, COUNT(*) AS n, SUM(amount) AS total FROM events "
             "WHERE acct BETWEEN ? AND ? GROUP BY kind ORDER BY kind",
    "join": "SELECT a.id, a.email, e.kind, e.amount FROM accounts a "
            "JOIN events e ON e.acct = a.id WHERE a.id = ?",
    "insert": "INSERT INTO accounts(email, balance, note) VALUES (?, ?, ?)",
    "event": "INSERT INTO events(acct, kind, amount) VALUES (?, ?, ?)",
    "update": "UPDATE accounts SET balance = balance + ? WHERE id = ?",
    "delete": "DELETE FROM accounts WHERE id = ?",
    "debit": "UPDATE accounts SET balance = balance - ? WHERE id = ?",
}
# reads whose result order is fixed by a total ORDER BY (the rest are
# compared as multisets)
ORDERED = {"point", "range", "group"}


@dataclass
class Req:
    op: str
    path: str
    statements: list[tuple[str, list]]
    transaction: bool = False

    def body(self) -> bytes:
        return json.dumps({"request": {
            "transaction": self.transaction,
            "statements": [{"sql": s, "parameters": p} for s, p in self.statements],
        }}).encode()


def preload_rows(seed: int) -> tuple[list[tuple], list[tuple]]:
    rng = random.Random(f"preload-{seed}")
    accounts = [
        (i, f"user{i}@example.org", rng.randint(0, 10_000), f"n{rng.randint(0, 999)}")
        for i in range(1, PRELOAD_ACCOUNTS + 1)
    ]
    events = [
        (rng.randint(1, PRELOAD_ACCOUNTS), rng.choice(KINDS), rng.randint(1, 500))
        for _ in range(PRELOAD_EVENTS)
    ]
    return accounts, events


def preload_sql(seed: int) -> list[str]:
    """One multi-row INSERT per table."""
    accounts, events = preload_rows(seed)
    return [
        "INSERT INTO accounts(id, email, balance, note) VALUES "
        + ",".join(f"({a},'{b}',{c},'{d}')" for a, b, c, d in accounts),
        "INSERT INTO events(acct, kind, amount) VALUES "
        + ",".join(f"({a},'{b}',{c})" for a, b, c in events),
    ]


def make_stream(seed: int, blocks: int = STREAM_BLOCKS) -> list[Req]:
    """The seeded request stream, in blocks. Ids are drawn from the
    client's own view of the id space; deletes stay in the upper half of
    the preload and above, so reused emails (lower half) always collide."""
    rng = random.Random(f"stream-{seed}")
    next_id = PRELOAD_ACCOUNTS + 1
    half = PRELOAD_ACCOUNTS // 2
    fresh = 0

    def request(op: str) -> Req:
        nonlocal next_id, fresh
        some_id = rng.randint(1, next_id - 1)
        if op in ("point", "join"):
            return Req(op, "/db/query", [(SQL[op], [some_id])])
        if op == "range":
            return Req(op, "/db/query", [(SQL[op], [some_id, some_id + 20])])
        if op == "group":
            lo = rng.randint(1, PRELOAD_ACCOUNTS - 200)
            return Req(op, "/db/query", [(SQL[op], [lo, lo + 200])])
        if op in ("insert", "insert_dup"):
            if op == "insert_dup":
                email = f"user{rng.randint(1, half - 1)}@example.org"
            else:
                fresh += 1
                next_id += 1
                email = f"new{seed}-{fresh}@example.org"
            params = [email, rng.randint(0, 10_000), f"n{rng.randint(0, 999)}"]
            return Req(op, "/db/execute", [(SQL["insert"], params)])
        if op == "event":
            params = [some_id, rng.choice(KINDS), rng.randint(1, 500)]
            return Req(op, "/db/execute", [(SQL[op], params)])
        if op == "update":
            return Req(op, "/db/execute", [(SQL[op], [rng.randint(-50, 50), some_id])])
        if op == "delete":
            return Req(op, "/db/execute", [(SQL[op], [rng.randint(half, next_id - 1)])])
        # tx: a transfer between two accounts
        other, amt = rng.randint(1, next_id - 1), rng.randint(1, 100)
        return Req(op, "/db/execute", [
            (SQL["debit"], [amt, some_id]), (SQL["update"], [amt, other]),
            (SQL["event"], [some_id, "transfer", amt]),
        ], transaction=True)

    out = []
    for b in range(blocks):
        ops = [op for op, n in BLOCK.items() for _ in range(n)]
        if b < WARMUP_BLOCKS or (b - WARMUP_BLOCKS) % 2 == 0:
            ops[ops.index("insert")] = "insert_dup"
        rng.shuffle(ops)
        out.extend(request(op) for op in ops)
    return out


def is_write(op: str) -> bool:
    return op not in READS


def user_bytes(values) -> int:
    """Logical size of user values: 8 bytes per number, UTF-8 length
    per string."""
    return sum(
        len(v.encode()) if isinstance(v, str) else (8 if v is not None else 0)
        for v in values
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# -- oracle ---------------------------------------------------------------


class Oracle:
    """The same statements in stdlib sqlite3, with responses rendered in
    dust's wire form."""

    def __init__(self, seed: int):
        self.db = sqlite3.connect(":memory:", isolation_level=None)
        for s in DDL + preload_sql(seed):
            self.db.execute(s)

    def _run(self, sql: str, params: list) -> dict:
        try:
            cur = self.db.execute(sql, params)
        except sqlite3.Error as e:
            return {"error": str(e)}
        out = {}
        last = self.db.execute("SELECT last_insert_rowid()").fetchone()[0]
        if last:
            out["last_insert_id"] = last
        if cur.rowcount > 0:
            out["rows_affected"] = cur.rowcount
        return out

    def execute(self, req: Req) -> list[dict]:
        if not req.transaction:
            return [self._run(s, p) for s, p in req.statements]
        self.db.execute("BEGIN")
        out = []
        for s, p in req.statements:
            out.append(self._run(s, p))
            if "error" in out[-1]:
                self.db.execute("ROLLBACK")
                return out
        self.db.execute("COMMIT")
        return out

    def query(self, req: Req) -> list[dict]:
        (sql, params), = req.statements
        cur = self.db.execute(sql, params)
        rows = [list(r) for r in cur.fetchall()]
        cols = [d[0] for d in cur.description] if rows else []
        return [{"columns": cols, "values": rows}]

    def tables(self) -> dict[str, list[list]]:
        return {
            "accounts": [list(r) for r in self.db.execute(
                "SELECT id, email, balance, note FROM accounts ORDER BY id")],
            "events": [list(r) for r in self.db.execute(
                "SELECT acct, kind, amount FROM events")],
        }

    def live_bytes(self) -> int:
        return sum(user_bytes(r) for rows in self.tables().values() for r in rows)


def canon_rows(rows: list[list], ordered: bool) -> list[list]:
    return rows if ordered else sorted(rows, key=repr)


def same(req: Req, got, want) -> bool:
    if req.path == "/db/execute":
        return got == want
    if not isinstance(got, list) or len(got) != 1:
        return False
    g, w = got[0], want[0]
    ordered = req.op in ORDERED
    return (g.get("columns", []) == w["columns"]
            and canon_rows(g.get("values", []), ordered) == canon_rows(w["values"], ordered))


# -- run ------------------------------------------------------------------


@dataclass
class Sample:
    op: str
    statements: int
    ms: float  # latency at the client
    cpu_ms: float  # CpuMeter time spent meanwhile
    traced: bool
    request: int
    reply: object = None
    spark: dict = field(default_factory=dict)


def _setup(spark, seed: int, workdir: str):
    """``SETUPS`` times: open a session on a fresh warehouse, create and
    preload the tables. Returns the last session, its warehouse and the
    time of each set-up."""
    from dust_spark import DustSession, Request, Statement

    stmts = [Statement(s) for s in DDL + preload_sql(seed)]
    times, db = [], None
    for k in range(SETUPS):
        if db is not None:
            db.close()
        wh = os.path.join(workdir, f"warehouse{k}")
        t0 = time.perf_counter()
        db = DustSession(spark, warehouse=wh)
        errors = [r.error for r in db.execute(Request(statements=stmts)) if r.error]
        times.append(time.perf_counter() - t0)
        if errors:
            raise RuntimeError(f"preload failed: {errors[0]}")
    return db, wh, times


def _send(addr, req: Req):
    """POST one request envelope; the parsed reply, or a dict describing
    what went wrong (which the oracle then counts as a mismatch)."""
    conn = http.client.HTTPConnection(*addr, timeout=150)
    try:
        conn.request("POST", req.path, body=req.body(),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
    except (OSError, http.client.HTTPException) as e:
        return {"client_error": f"{type(e).__name__}: {e}"}
    finally:
        conn.close()
    if resp.status != 200:
        return {"http_status": resp.status, "body": data.decode(errors="replace")}
    return json.loads(data)


def run(spark, jvm_s: float, seed: int, seconds: float, trace: bool, workdir: str) -> dict:
    from dust_spark import Request
    from dust_spark.http_service import DustHttpService

    db, wh, setups = _setup(spark, seed, workdir)

    stream = make_stream(seed)
    block_len = sum(BLOCK.values())
    warm: list[Sample] = []
    tracer = counters = None
    if trace:
        from spans import Tracer, instrument_engine

        tracer = Tracer()
        tracer.enabled = False  # until the timed blocks
        counters = SparkCounters(spark)
        sc = spark.sparkContext
        instrument_engine(tracer, lambda: sc.setJobGroup(f"r{tracer.request}", "oltp_mixed"))

    svc = DustHttpService(db)
    svc.start()
    samples: list[Sample] = []
    space = None
    journal = os.path.join(wh, "journal.jsonl")
    writes = user_written = 0
    # the run ends on a block boundary, so every run sees the same op mix;
    # traced runs trace every other block (the first holds every op) and
    # compare against the untraced ones
    min_blocks = 2 if trace else 1
    meter = CpuMeter(spark)
    try:
        for i, req in enumerate(stream):
            if i < WARMUP:
                t0 = time.perf_counter()
                reply = _send(svc.listening_addr, req)
                ms = 1e3 * (time.perf_counter() - t0)
                warm.append(Sample(req.op, len(req.statements), ms, 0.0, False, i, reply))
                if i == WARMUP - 1:
                    # growth is counted from here, as are the timed writes
                    wh_start = dir_bytes(wh)
                    journal_start = os.path.getsize(journal) if os.path.exists(journal) else 0
                    t_start = time.perf_counter()
                continue
            block = (i - WARMUP) // block_len
            if ((i - WARMUP) % block_len == 0 and block >= min_blocks
                    and time.perf_counter() - t_start >= seconds):
                break
            traced = trace and block % 2 == 0
            if tracer is not None:
                tracer.request, tracer.enabled = i, traced
            wall0 = time.time()
            c0 = meter.seconds()
            t0 = time.perf_counter()
            reply = _send(svc.listening_addr, req)
            ms = 1e3 * (time.perf_counter() - t0)
            cpu_ms = 1e3 * (meter.seconds() - c0)
            s = Sample(req.op, len(req.statements), ms, cpu_ms, traced, i, reply)
            if traced:
                s.spark = counters.read(f"r{i}", (wall0, time.time()))
            samples.append(s)
            if is_write(req.op):
                writes += 1
                user_written += sum(user_bytes(p) for _, p in req.statements)
                if writes == SPACE_CHECKPOINT:
                    space = (i, dir_bytes(wh))
        elapsed = time.perf_counter() - t_start
    finally:
        svc.stop()
        if tracer is not None:
            tracer.close()

    # -- oracle (untimed) ------------------------------------------------
    oracle = Oracle(seed)
    failed, mismatches, live_at_checkpoint = 0, [], None
    for s in warm + samples:
        req = stream[s.request]
        want = oracle.execute(req) if req.path == "/db/execute" else oracle.query(req)
        if not same(req, s.reply, want):
            failed += 1
            if len(mismatches) < 5:
                mismatches.append({"request": s.request, "op": s.op, "got": s.reply, "want": want})
        if s.request == space[0]:
            live_at_checkpoint = oracle.live_bytes()
    final = {
        "accounts": db.query(Request.single(
            "SELECT id, email, balance, note FROM accounts ORDER BY id"))[0].values,
        "events": db.query(Request.single("SELECT acct, kind, amount FROM events"))[0].values,
    }
    for name, want in oracle.tables().items():
        if canon_rows(final[name], name == "accounts") != canon_rows(want, name == "accounts"):
            failed += 1
            mismatches.append({"table": name, "rows": len(final[name]), "want_rows": len(want)})
    attempted = len(warm) + len(samples)
    failed = min(failed, attempted)

    w = [s for s in samples if is_write(s.op)]
    r = [s for s in samples if not is_write(s.op)]
    out = {
        "attempted": attempted, "failed": failed, "mismatches": mismatches,
        "info": {"requests": len(samples), "writes": writes, "elapsed_s": elapsed,
                 "setups_s": setups, "jvm_s": jvm_s,
                 "samples": [(s.op, round(s.ms, 3), round(s.cpu_ms, 3)) for s in samples],
                 "warmup_ms": [(s.op, round(s.ms, 3)) for s in warm],
                 "wall": {"statements_per_s": sum(s.statements for s in samples) / elapsed,
                          "write_p50_ms": statistics.median(s.ms for s in w),
                          "read_p50_ms": statistics.median(s.ms for s in r)}},
    }
    if trace:
        out["metrics"] = _layers(samples, tracer, wh, wh_start, journal, journal_start,
                                 user_written, SparkCounters(spark).cached()[0])
        out["metrics"]["session.write_drift_ratio"] = drift_ratio(samples)
        out["tracer"] = tracer
    else:
        out["metrics"] = {
            "setup_s": statistics.median(setups),
            "ok_frac": 1 - failed / attempted,
            "heavy_cpu_ms": statistics.mean(s.cpu_ms for s in w),
            "light_cpu_ms": statistics.mean(s.cpu_ms for s in r),
            "space_amp": space[1] / live_at_checkpoint,
        }
    db.close()
    return out


def drift_ratio(samples: list[Sample]) -> float:
    """Write latency in the second half of the run over the first half,
    each write normalised by its op's median (so the op mix of a half
    does not move it)."""
    writes = [s for s in samples if is_write(s.op)]
    med = {op: statistics.median([s.ms for s in writes if s.op == op])
           for op in {s.op for s in writes}}
    norm = [s.ms / med[s.op] for s in writes]
    half = len(norm) // 2
    return statistics.median(norm[-half:]) / statistics.median(norm[:half])


PER_OP_KEYS = ("jobs", "stages", "tasks", "executor_cpu_ms")


def _layers(samples, tracer, wh, wh_start, journal, journal_start, user_written,
            n_cached) -> dict:
    traced = [s for s in samples if s.traced]
    ids = lambda group: {s.request for s in group}  # noqa: E731
    selfs = tracer.self_ms(ids(traced))
    tot = lambda name, group: sum(selfs[s.request].get(name, 0.0) for s in group)  # noqa: E731
    stmts = sum(s.statements for s in traced)
    wr = [s for s in traced if is_write(s.op)]
    rd = [s for s in traced if not is_write(s.op)]
    w_stmts = sum(s.statements for s in wr)
    session_ms = defaultdict(float)
    for sp in tracer.spans:
        if sp.name.startswith("session."):
            session_ms[sp.request] += 1e3 * (sp.end - sp.start)
    m = {
        "http_service.overhead_ms": statistics.mean(s.ms - session_ms[s.request] for s in traced),
        "dialect.rewrite_ms": tot("dialect", traced) / stmts,
        "dialect.calls": tracer.calls("dialect", ids(traced)) / stmts,
        "catalog.materialize_ms": tot("catalog.materialize", wr) / w_stmts,
        "catalog.materialize_calls": tracer.calls("catalog.materialize", ids(wr)) / w_stmts,
        "catalog.publish_ms": tot("catalog.publish", wr) / w_stmts,
        "catalog.bytes_written_per_user_byte": (dir_bytes(wh) - wh_start) / user_written,
        "catalog.partitions_at_end": _partitions(wh),
        "journal.bytes_per_stmt": (os.path.getsize(journal) - journal_start) / sum(
            s.statements for s in samples if is_write(s.op)),
        "model.rows_ms": tot("model.rows", rd) / len(rd),
        "cache.n_cached_rdds": n_cached,
    }
    for key in SPARK_KEYS:
        m[f"spark.{key}"] = sum(s.spark[key] for s in traced) / stmts
    for key in ("arrow_bytes_sent", "arrow_bytes_received"):
        m[key.replace("_", ".", 1)] = sum(s.spark[key] for s in traced) / stmts
    for op in OPS:
        group = [s for s in traced if s.op == op]
        n = sum(s.statements for s in group)
        m[f"session.self_ms.{op}"] = (
            tot("session.execute", group) + tot("session.query", group)) / len(group)
        for key in PER_OP_KEYS:
            m[f"spark.{key}.{op}"] = sum(s.spark[key] for s in group) / n
    untraced = [s for s in samples if not s.traced]
    diffs, weights = [], []
    for op in OPS:
        a = [s.ms for s in traced if s.op == op]
        b = [s.ms for s in untraced if s.op == op]
        if a and b:
            diffs.append(statistics.median(a) - statistics.median(b))
            weights.append(len(a) + len(b))
    m["trace.overhead_ms"] = sum(d * w for d, w in zip(diffs, weights)) / sum(weights)
    return m


def _partitions(wh: str) -> int:
    """Parquet part files in the tables' current versions."""
    with open(os.path.join(wh, "catalog.json")) as f:
        man = json.load(f)
    return sum(
        1 for t in man["tables"].values()
        for f in os.listdir(t["path"]) if f.startswith("part-")
    )
