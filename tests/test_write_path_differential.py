"""sqlite3 differentials for the rules the statement write path relies on.

A literal INSERT batch is checked on the driver: in-batch key
duplicates, auto rowids, NOT NULL / CHECK / UNIQUE in SQLite's per-row
order, and one scan for keys the table already holds. An UPDATE re-checks
only the rows and columns it changed, and an UPDATE or DELETE that
changes nothing writes no table version. Each case runs the same
statements through DustSession and in-process sqlite3 and compares every
reply (error text, rows affected, last insert id) and the table after
every statement.
"""

from __future__ import annotations

import sqlite3

import pytest

from dust_spark import DustSession


def _norm(rows):
    return [[bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r] for r in rows]


def _differential(spark, tmp_path, ddl: list[str], steps: list[str], query: str, warehouse=False):
    ref = sqlite3.connect(":memory:")
    ref.isolation_level = None
    db = DustSession(spark, warehouse=str(tmp_path / "wh")) if warehouse else DustSession(spark)
    try:
        for s in ddl:
            ref.execute(s)
            assert db.execute_string_stmt(s)[0].error == "", s
        for s in steps:
            if s.startswith("PRAGMA"):
                ref.execute(s)
                assert db.execute_string_stmt(s)[0].error == "", s
                continue
            try:
                cur = ref.execute(s)
                want = ("", cur.rowcount, cur.lastrowid if s.startswith("INSERT") else None)
            except sqlite3.Error as e:
                want = (str(e), None, None)
            got = db.execute_string_stmt(s)[0]
            have = (
                got.error,
                None if got.error else got.rows_affected,
                got.last_insert_id if s.startswith("INSERT") and not got.error else None,
            )
            assert have == want, s
            assert _norm(db.query_string_stmt(query)[0].values) == _norm(
                ref.execute(query).fetchall()
            ), s
    finally:
        db.close()


def test_in_batch_duplicate_keys(spark, tmp_path):
    _differential(
        spark,
        tmp_path,
        ["CREATE TABLE k(id INTEGER PRIMARY KEY, r REAL UNIQUE, b BLOB UNIQUE, x INT, y TEXT, UNIQUE(x, y))"],
        [
            "INSERT INTO k(r) VALUES (0.0), (-0.0)",
            "INSERT INTO k(r) VALUES (1.5), (-0.0)",
            "INSERT INTO k(r) VALUES (0.0)",
            "INSERT INTO k(b) VALUES (X'01'), (X'0102')",
            "INSERT INTO k(b) VALUES (X'0102')",
            "INSERT INTO k(b) VALUES (X'03'), (X'03')",
            # a NULL in any key column exempts the row
            "INSERT INTO k(x, y) VALUES (1, NULL), (1, NULL), (NULL, 'a'), (NULL, 'a')",
            "INSERT INTO k(x, y) VALUES (1, 'a'), (2, 'a'), (1, 'a')",
            "INSERT INTO k(x, y) VALUES (1, 'a'), (1, 'b')",
            "INSERT INTO k(x, y) VALUES (3, 'c'), (1, 'b')",
        ],
        "SELECT id, r, hex(b), x, y FROM k ORDER BY id",
    )


def test_nan_keys_match_general_path(spark):
    """SQLite stores NaN as NULL, so no sqlite3 statement yields a NaN
    key. The literal path must exempt NaN keys like NULL ones, as the
    general INSERT ... SELECT path does."""
    db = DustSession(spark)
    try:
        db.execute_string_stmt("CREATE TABLE s(r REAL)")
        db.execute_string_stmt("CREATE TABLE n(r REAL UNIQUE)")
        nan = "CAST('NaN' AS REAL)"
        assert db.execute_string_stmt(f"INSERT INTO s VALUES ({nan}), ({nan})")[0].error == ""
        assert db.execute_string_stmt("INSERT INTO n SELECT r FROM s")[0].rows_affected == 2
        got = db.execute_string_stmt(f"INSERT INTO n VALUES ({nan}), ({nan}), (1.0)")[0]
        assert (got.error, got.rows_affected) == ("", 3)
        got = db.execute_string_stmt(f"INSERT INTO n VALUES ({nan}), (1.0)")[0]
        assert got.error == "UNIQUE constraint failed: n.r"
        assert db.query_string_stmt("SELECT count(*) FROM n")[0].values == [[5]]
    finally:
        db.close()


@pytest.mark.parametrize("warehouse", [False, True])
def test_explicit_rowids_mixed_with_auto(spark, tmp_path, warehouse):
    _differential(
        spark,
        tmp_path,
        ["CREATE TABLE r(id INTEGER PRIMARY KEY, v INT)"],
        [
            "INSERT INTO r(v) VALUES (1), (2)",
            "INSERT INTO r(id, v) VALUES (NULL, 3), (10, 4), (NULL, 5)",
            # the auto id 12 is taken by the explicit 12 after it
            "INSERT INTO r(id, v) VALUES (NULL, 6), (12, 7)",
            "INSERT INTO r(id, v) VALUES (5, 8), (5, 9)",
            "INSERT INTO r(id, v) VALUES (2, 8)",
            "INSERT INTO r(id, v) VALUES (-4, 8), (NULL, 9)",
            "INSERT INTO r DEFAULT VALUES",
        ],
        "SELECT id, v FROM r ORDER BY id",
        warehouse=warehouse,
    )


def test_implicit_rowid_collisions(spark, tmp_path):
    _differential(
        spark,
        tmp_path,
        ["CREATE TABLE h(a INT, b INT CHECK (b > 0))"],
        [
            "INSERT INTO h(rowid, a, b) VALUES (1, 1, 1)",
            "INSERT INTO h(rowid, a, b) VALUES (1, 2, -1)",
            "INSERT INTO h(rowid, a, b) VALUES (1, 2, 1)",
            "INSERT INTO h(rowid, a, b) VALUES (NULL, 2, 1), (3, 3, 1), (NULL, 4, 1)",
            "INSERT INTO h(rowid, a, b) VALUES (7, 5, 1), (7, 6, 1)",
        ],
        "SELECT rowid, a, b FROM h ORDER BY rowid",
    )


def test_error_precedence(spark, tmp_path):
    """One row breaking NOT NULL, CHECK and UNIQUE at once reports NOT
    NULL (first failing column in table order), then CHECK, then the
    keys; across rows, the first failing row decides."""
    _differential(
        spark,
        tmp_path,
        [
            "CREATE TABLE p(id INTEGER PRIMARY KEY, z TEXT NOT NULL, b INT CHECK (b > 0), "
            "u INT UNIQUE, a TEXT NOT NULL)"
        ],
        [
            "INSERT INTO p VALUES (1, 'z', 1, 5, 'x')",
            "INSERT INTO p VALUES (1, NULL, -1, 5, NULL)",
            "INSERT INTO p VALUES (1, 'z', -1, 5, NULL)",
            "INSERT INTO p VALUES (1, 'z', -1, 5, 'y')",
            "INSERT INTO p VALUES (1, 'z', 1, 5, 'y')",
            "INSERT INTO p VALUES (2, 'z', 1, 5, 'y')",
            "INSERT INTO p(z, b, u, a) VALUES ('q', 1, 5, 'q'), (NULL, 1, 8, 'q')",
            "INSERT INTO p(z, b, u, a) VALUES ('q', 1, 7, 'q'), (NULL, 1, 8, 'q')",
            "INSERT INTO p(z, b, u, a) VALUES ('q', 1, 7, 'q'), ('r', 1, 8, 'r')",
        ],
        "SELECT id, z, b, u, a FROM p ORDER BY id",
    )


def test_update_rechecks_changed_rows_and_columns(spark, tmp_path):
    _differential(
        spark,
        tmp_path,
        ["CREATE TABLE u(id INTEGER PRIMARY KEY, e TEXT UNIQUE, n INT NOT NULL, c INT CHECK (c < 100))"],
        [
            "INSERT INTO u VALUES (1, 'a', 1, 1), (2, 'b', 2, 2), (3, NULL, 3, 3)",
            "UPDATE u SET e = 'a' WHERE id = 2",
            "UPDATE u SET e = 'z' WHERE id = 2",
            "UPDATE u SET e = NULL WHERE id = 1",
            "UPDATE u SET n = NULL WHERE id = 3",
            "UPDATE u SET c = c + 100 WHERE id = 2",
            "UPDATE u SET id = 1 WHERE id = 3",
            "UPDATE u SET id = 10 WHERE id = 3",
            "UPDATE u SET e = 'q', c = c + 1",
            "UPDATE u SET c = c + 1",
        ],
        "SELECT id, e, n, c FROM u ORDER BY id",
    )


def test_update_through_generated_column(spark, tmp_path):
    _differential(
        spark,
        tmp_path,
        [
            "CREATE TABLE g(id INTEGER PRIMARY KEY, a INT, b INT, "
            "s INT GENERATED ALWAYS AS (a + b) UNIQUE, CHECK (s < 50))"
        ],
        [
            "INSERT INTO g(a, b) VALUES (1, 2), (10, 20)",
            "INSERT INTO g(a, b) VALUES (2, 1)",
            "UPDATE g SET a = 28 WHERE id = 1",
            "UPDATE g SET b = 100 WHERE id = 1",
            "UPDATE g SET a = 5 WHERE id = 1",
        ],
        "SELECT id, a, b, s FROM g ORDER BY id",
    )


@pytest.mark.parametrize("warehouse", [False, True])
def test_zero_row_update_delete_keep_next_rowid(spark, tmp_path, warehouse):
    _differential(
        spark,
        tmp_path,
        [
            "CREATE TABLE z(id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE za(id INTEGER PRIMARY KEY AUTOINCREMENT, v INT)",
        ],
        [
            "INSERT INTO z(v) VALUES (1), (2), (3)",
            "DELETE FROM z WHERE id = 3",
            "UPDATE z SET v = 9 WHERE id = 99",
            "DELETE FROM z WHERE id = 99",
            "INSERT INTO z(v) VALUES (4)",
            "UPDATE z SET id = 20 WHERE id = 99",
            "INSERT INTO z(v) VALUES (5)",
            "INSERT INTO za(v) VALUES (1), (2)",
            "DELETE FROM za WHERE id = 2",
            "DELETE FROM za WHERE id = 99",
            "UPDATE za SET v = 0 WHERE id = 99",
            "INSERT INTO za(v) VALUES (3)",
        ],
        "SELECT 'z', id, v FROM z UNION ALL SELECT 'za', id, v FROM za ORDER BY 1, 2",
        warehouse=warehouse,
    )


def test_moved_rowids_keep_next_rowid(spark, tmp_path):
    """Every writer that moves rowids (UPDATE ... FROM, an upsert's DO
    UPDATE SET, an ON UPDATE CASCADE into a child's rowid) moves the
    high-water with them, so the next auto id never lands on a taken
    rowid."""
    _differential(
        spark,
        tmp_path,
        [
            "CREATE TABLE s(x INT)",
            "CREATE TABLE t(id INTEGER PRIMARY KEY, v INT)",
            "CREATE TABLE p(k INT UNIQUE)",
            "CREATE TABLE c(id INTEGER PRIMARY KEY REFERENCES p(k) ON UPDATE CASCADE, v INT)",
        ],
        [
            "INSERT INTO s VALUES (2)",
            "INSERT INTO t(v) VALUES (1)",
            "UPDATE t SET id = s.x FROM s",
            "INSERT INTO t(v) VALUES (9)",
            "INSERT INTO t(id, v) VALUES (3, 0) ON CONFLICT(id) DO UPDATE SET id = 7",
            "INSERT INTO t(v) VALUES (8)",
            "PRAGMA foreign_keys = ON",
            "INSERT INTO p VALUES (1)",
            "INSERT INTO c(id, v) VALUES (1, 1)",
            "UPDATE p SET k = 50 WHERE k = 1",
            "PRAGMA foreign_keys = OFF",
            "INSERT INTO c(v) VALUES (2)",
        ],
        "SELECT 't', id, v FROM t UNION ALL SELECT 'c', id, v FROM c ORDER BY 1, 2",
    )
