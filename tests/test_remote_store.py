"""Remote engine / store analog (sources/remote_store.py): the
reference's fusestore-backed Remote engine (remote_table.rs:27-181,
remote_database.rs) mapped to a Flight meta service + direct executor
scans of store parquet parts, driven through the Engine.
"""

from __future__ import annotations

import pytest

from fuse_query_spark.engine import Engine
from fuse_query_spark.errors import (
    DatabaseAlreadyExists,
    FuseQueryError,
    UnknownDatabase,
    UnknownTable,
)
from fuse_query_spark.sources.remote_store import FuseStoreFlight, StoreFlightClient


@pytest.fixture()
def store(tmp_path):
    s = FuseStoreFlight(str(tmp_path / "store"))
    yield s
    s.shutdown()


def _engine(spark, store) -> Engine:
    eng = Engine(spark)
    eng.attach_store(store.url)
    return eng


class TestRemoteEngine:
    def test_create_shows_remote_engine(self, spark, store):
        eng = _engine(spark, store)
        eng.sql("CREATE DATABASE db1; USE db1; CREATE TABLE t1(a int, b varchar)")
        rows = eng.sql("SELECT * FROM system.tables WHERE database='db1'").collect()
        assert [(r.database, r.name, r.engine) for r in rows] == [("db1", "t1", "remote")]

    def test_local_database_stays_local(self, spark, store):
        # 05_0001 shape: ENGINE = Local bypasses the store entirely
        eng = _engine(spark, store)
        eng.sql("CREATE DATABASE dbl ENGINE = Local; CREATE TABLE dbl.t(c1 int) ENGINE = Null")
        rows = eng.sql("SELECT engine FROM system.tables WHERE database='dbl'").collect()
        assert rows[0].engine == "Null"
        assert "dbl" not in store.state.meta

    def test_insert_select_roundtrip(self, spark, store):
        eng = _engine(spark, store)
        eng.sql(
            "CREATE DATABASE db1; USE db1;"
            "CREATE TABLE nums(n bigint, s varchar);"
            "INSERT INTO nums SELECT number, CAST(number % 3 AS STRING) FROM numbers(1000)"
        )
        out = eng.sql("SELECT COUNT(*) AS c, SUM(n) AS s FROM nums").collect()[0]
        assert (out.c, out.s) == (1000, 499500)

    def test_values_literal_parity(self, spark, store):
        # plan_parser.rs:348-371 renders value tuples via
        # Value::to_string() — quoted strings keep their quotes
        # (09_0001_remote_insert.result pins this)
        eng = _engine(spark, store)
        eng.sql(
            "CREATE DATABASE db1; USE db1;"
            "CREATE TABLE t1(a varchar, b varchar);"
            "INSERT INTO t1(a,b) VALUES('1', 'v1'),('2','v2')"
        )
        rows = sorted((r.a, r.b) for r in eng.sql("SELECT * FROM t1").collect())
        assert rows == [("'1'", "'v1'"), ("'2'", "'v2'")]

    def test_cross_engine_visibility(self, spark, store):
        # the real fusestore semantic: a second query node attaching
        # the same store sees the first node's tables AND data
        a = _engine(spark, store)
        a.sql(
            "CREATE DATABASE shared; "
            "CREATE TABLE shared.t(n bigint);"
            "INSERT INTO shared.t SELECT number FROM numbers(100)"
        )
        b = _engine(spark, store)
        assert b.sql("SELECT COUNT(*) AS c FROM shared.t").collect()[0].c == 100
        assert "shared" in b.catalog.remote_dbs

    def test_store_restart_persists_meta(self, spark, store, tmp_path):
        eng = _engine(spark, store)
        eng.sql(
            "CREATE DATABASE keep; CREATE TABLE keep.t(n bigint);"
            "INSERT INTO keep.t SELECT number FROM numbers(10)"
        )
        root = store.state.root
        store.shutdown()
        revived = FuseStoreFlight(root)
        try:
            eng2 = Engine(spark)
            eng2.attach_store(revived.url)
            assert eng2.sql("SELECT SUM(n) AS s FROM keep.t").collect()[0].s == 45
        finally:
            revived.shutdown()

    def test_drop_table_removes_store_files(self, spark, store):
        import os

        eng = _engine(spark, store)
        eng.sql(
            "CREATE DATABASE db1; CREATE TABLE db1.t(n bigint);"
            "INSERT INTO db1.t SELECT number FROM numbers(10)"
        )
        tdir = os.path.join(store.state.root, "db1", "t")
        assert any(p.endswith(".parquet") for p in os.listdir(tdir))
        eng.sql("DROP TABLE db1.t")
        assert not os.path.exists(tdir)
        with pytest.raises(FuseQueryError) as exc:
            eng.sql("DROP TABLE db1.t")
        assert exc.value.code == 25

    def test_drop_database_error_code(self, spark, store):
        eng = _engine(spark, store)
        eng.sql("CREATE DATABASE db1; DROP DATABASE db1")
        with pytest.raises(FuseQueryError) as exc:
            eng.sql("DROP DATABASE db1")
        assert exc.value.code == 3

    def test_remote_scan_pushes_filters(self, spark, store):
        # read_plan returns part paths and Spark scans them directly,
        # so scan-level pushdown must survive the remote indirection
        eng = _engine(spark, store)
        eng.sql(
            "CREATE DATABASE db1; USE db1; CREATE TABLE t(n bigint);"
            "INSERT INTO t SELECT number FROM numbers(10000)"
        )
        df = eng.sql("SELECT n FROM t WHERE n > 9990")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(n), GreaterThan(n,9990)]" in plan
        assert df.count() == 9


    def test_typed_columns_roundtrip(self, spark, store):
        # INSERT … SELECT ships Spark-written parts (timestamps as INT96)
        # through the store's do_put, which re-encodes them: the SELECT
        # must read every column back under the declared schema, also
        # timestamps outside the nanosecond range (1677..2262)
        eng = _engine(spark, store)
        eng.sql(
            "CREATE DATABASE db1; USE db1;"
            "CREATE TABLE t(n bigint, ts timestamp, d date, x decimal(20,2),"
            " a array<bigint>, m map<string, bigint>)"
        )
        select = (
            "SELECT number AS n,"
            " CASE number WHEN 0 THEN TIMESTAMP'0001-01-01 00:00:00'"
            " WHEN 1 THEN TIMESTAMP'9999-12-31 23:59:59.999999'"
            " ELSE timestamp_micros(1704164645123456 + number) END AS ts,"
            " date_add(DATE'2024-01-02', CAST(number AS INT)) AS d,"
            " CAST(12345678901234567.25 AS DECIMAL(20,2)) + number AS x,"
            " IF(number = 2, NULL, array(number, 2)) AS a,"
            " map('k', number) AS m"
            " FROM numbers(4)"
        )
        eng.sql(f"INSERT INTO t {select}")
        # year 1 does not fit a Python datetime in every time zone
        cols = "n, unix_micros(ts) AS ts, d, x, a, m"
        want = eng.sql(f"SELECT {cols} FROM ({select}) ORDER BY n").collect()
        got = eng.sql(f"SELECT {cols} FROM t ORDER BY n").collect()
        assert got == want
        assert len(got) == 4 and got[2].a is None

    def test_create_database_if_not_exists_sees_other_engine(self, spark, store):
        a = _engine(spark, store)
        b = _engine(spark, store)
        b.sql("CREATE DATABASE late; CREATE TABLE late.t(n bigint)")
        a.sql("CREATE DATABASE IF NOT EXISTS late")  # no-op, not an error
        assert a.sql("SELECT COUNT(*) AS c FROM late.t").collect()[0].c == 0
        b.sql("CREATE DATABASE late2")
        with pytest.raises(DatabaseAlreadyExists) as exc:
            a.sql("CREATE DATABASE late2")
        assert exc.value.code == 3

    def test_attach_rejects_non_flight_url(self, spark):
        with pytest.raises(ValueError, match="grpc://"):
            Engine(spark).attach_store("http://127.0.0.1:1")


class TestStoreClient:
    def test_meta_errors_map_to_reference_codes(self, store):
        c = StoreFlightClient(store.url)
        with pytest.raises(UnknownDatabase):
            c.drop_database("nope")
        c.create_database("db")
        with pytest.raises(UnknownTable):
            c.read_plan("db", "nope")
        with pytest.raises(UnknownTable):
            c.append_parquet("db", "nope", b"")

    def test_illegal_identifiers_rejected(self, store):
        c = StoreFlightClient(store.url)
        with pytest.raises(ConnectionError):
            c.create_database("../evil")

    def test_duplicate_database_keeps_its_type(self, store):
        c = StoreFlightClient(store.url)
        c.create_database("x")
        with pytest.raises(DatabaseAlreadyExists) as exc:
            c.create_database("x")
        assert str(exc.value) == "Code: 3, Database 'x' already exists"

    def test_wire_errors_carry_the_message_once(self, store):
        c = StoreFlightClient(store.url)
        with pytest.raises(UnknownDatabase) as exc:
            c.drop_database("nope")
        assert exc.value.message == "Unknown database: 'nope'"
        assert str(exc.value) == "Code: 3, Unknown database: 'nope'"

    def test_empty_append_writes_no_part(self, store):
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        c = StoreFlightClient(store.url)
        c.create_database("db")
        c.create_table("db", "t", '{"type":"struct","fields":[]}')
        buf = io.BytesIO()
        pq.write_table(pa.table({"n": pa.array([], pa.int64())}), buf)
        assert c.append_parquet("db", "t", b"") == ""
        assert c.append_parquet("db", "t", buf.getvalue()) == ""
        assert c.read_plan("db", "t")["parts"] == []

    def test_sub_microsecond_timestamps_not_truncated(self, store):
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        c = StoreFlightClient(store.url)
        c.create_database("db")
        c.create_table("db", "t", '{"type":"struct","fields":[]}')
        buf = io.BytesIO()
        pq.write_table(pa.table({"ts": pa.array([1_000_000_001], pa.timestamp("ns"))}), buf)
        with pytest.raises(ConnectionError, match="lose data"):
            c.append_parquet("db", "t", buf.getvalue())
        assert c.read_plan("db", "t")["parts"] == []
