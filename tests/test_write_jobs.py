"""Spark jobs per DML statement, pinned exactly.

The statements are the write shapes of the ``oltp_mixed`` benchmark
workload (perfbench/README.md): an auto-id INSERT into a table with an
INTEGER PRIMARY KEY and a UNIQUE column, the same INSERT reusing an
email, an INSERT into a keyless table, ``UPDATE ... SET balance =
balance + ? WHERE id = ?``, ``DELETE ... WHERE id = ?`` and the
3-statement transfer transaction. A literal INSERT batch collects on the
driver with no job, its keys are checked by one scan of the table, and
an UPDATE or DELETE re-checks only what it changed, so every statement
takes one to three jobs. Jobs are counted per statement through a job
group on the status tracker, in memory mode and in warehouse mode.

The counts are pinned with equality, not as ceilings: a change that adds
a job to a statement fails here, and one that removes a job updates the
pin on purpose.
"""

from __future__ import annotations

import uuid

import pytest

from dust_spark import DustSession
from dust_spark.model import Request, Statement

# jobs per statement; "tx" is the whole 3-statement transaction
JOBS = {
    "insert": 2,  # the key probe over the table, then the version write
    "insert_dup": 1,  # the key probe finds the clash; nothing is written
    "event": 1,  # no key to probe: the version write only
    # the count/check aggregation (a shuffle stage and a result stage
    # under AQE), then the version write
    "update": 3,
    "delete": 3,
    "update_zero": 2,  # the aggregation only: no version is written
    "delete_zero": 2,
    "tx": 7,  # update 3 + update 3 + event 1
}

SQL = {
    "insert": "INSERT INTO accounts(email, balance, note) VALUES (?, ?, ?)",
    "event": "INSERT INTO events(acct, kind, amount) VALUES (?, ?, ?)",
    "update": "UPDATE accounts SET balance = balance + ? WHERE id = ?",
    "debit": "UPDATE accounts SET balance = balance - ? WHERE id = ?",
    "delete": "DELETE FROM accounts WHERE id = ?",
}


def _jobs(spark, db: DustSession, statements: list, transaction: bool = False):
    """Run one request; return (jobs it launched, its responses)."""
    sc = spark.sparkContext
    group = f"write-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test_write_jobs")
    try:
        out = db.execute(
            Request(
                transaction=transaction,
                statements=[Statement(sql=s, parameters=list(p)) for s, p in statements],
            )
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture(params=["memory", "warehouse"])
def bank(request, spark, tmp_path):
    db = (
        DustSession(spark, warehouse=str(tmp_path / "wh"))
        if request.param == "warehouse"
        else DustSession(spark)
    )
    db.execute_string_stmt(
        "CREATE TABLE accounts(id INTEGER PRIMARY KEY, email TEXT UNIQUE NOT NULL, "
        "balance INTEGER, note TEXT)"
    )
    db.execute_string_stmt("CREATE TABLE events(acct INTEGER, kind TEXT, amount INTEGER)")
    db.execute_string_stmt(
        "INSERT INTO accounts(id, email, balance, note) VALUES "
        + ",".join(f"({i}, 'user{i}@example.org', {i * 10}, 'n{i}')" for i in range(1, 41))
    )
    db.execute_string_stmt(
        "INSERT INTO events(acct, kind, amount) VALUES "
        + ",".join(f"({i % 40 + 1}, 'k{i % 3}', {i})" for i in range(80))
    )
    yield db
    db.close()


def _one(spark, db, op: str, sql: str, params: list):
    jobs, (resp,) = _jobs(spark, db, [(sql, params)])
    assert jobs == JOBS[op], (op, jobs)
    return resp


def test_insert_jobs(spark, bank):
    resp = _one(spark, bank, "insert", SQL["insert"], ["new1@example.org", 5, "x"])
    assert (resp.error, resp.last_insert_id, resp.rows_affected) == ("", 41, 1)


def test_duplicate_insert_jobs(spark, bank):
    resp = _one(spark, bank, "insert_dup", SQL["insert"], ["user3@example.org", 5, "x"])
    assert resp.error == "UNIQUE constraint failed: accounts.email"


def test_keyless_insert_jobs(spark, bank):
    resp = _one(spark, bank, "event", SQL["event"], [7, "deposit", 12])
    assert (resp.error, resp.rows_affected) == ("", 1)


def test_update_jobs(spark, bank):
    resp = _one(spark, bank, "update", SQL["update"], [25, 9])
    assert (resp.error, resp.rows_affected) == ("", 1)
    assert bank.query_string_stmt("SELECT balance FROM accounts WHERE id = 9")[0].values == [[115]]


def test_delete_jobs(spark, bank):
    resp = _one(spark, bank, "delete", SQL["delete"], [30])
    assert (resp.error, resp.rows_affected) == ("", 1)


def test_zero_row_update_and_delete_write_no_version(spark, bank):
    version = bank.catalog.tables["accounts"].version
    resp = _one(spark, bank, "update_zero", SQL["update"], [25, 999])
    assert (resp.error, resp.rows_affected) == ("", 0)
    resp = _one(spark, bank, "delete_zero", SQL["delete"], [999])
    assert (resp.error, resp.rows_affected) == ("", 0)
    assert bank.catalog.tables["accounts"].version == version


def test_transfer_transaction_jobs(spark, bank):
    stmts = [(SQL["debit"], [10, 4]), (SQL["update"], [10, 5]), (SQL["event"], [4, "transfer", 10])]
    jobs, out = _jobs(spark, bank, stmts, transaction=True)
    assert [r.error for r in out] == ["", "", ""]
    assert jobs == JOBS["tx"], jobs
    got = bank.query_string_stmt("SELECT id, balance FROM accounts WHERE id IN (4, 5) ORDER BY id")
    assert got[0].values == [[4, 30], [5, 60]]
