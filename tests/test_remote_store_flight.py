"""Flight protocol of the fusestore analog (sources/remote_store.py),
driven with a real pyarrow.flight client AND through the Engine.

Parity targets: fusestore flight_service.rs:84-118 (BasicAuth
handshake, root-only), :67-79 (token check on every call),
store_do_action.rs:47-63 (serde-enum action bodies),
store_do_get.rs:25-28 (Read/Pull tickets), :181-207 (do_put append
with PutResult metadata)."""

from __future__ import annotations

import io

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import pyarrow.flight as flight

from fuse_query_spark.engine import Engine
from fuse_query_spark.errors import (
    TableAlreadyExists,
    UnknownDatabase,
    UnknownTable,
)
from fuse_query_spark.sources.remote_store import (
    FuseStoreFlight,
    StoreFlightClient,
)


@pytest.fixture(scope="module")
def server(tmp_path_factory):
    srv = FuseStoreFlight(str(tmp_path_factory.mktemp("flight_store")))
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def client(server):
    return StoreFlightClient(server.url)


def _parquet_bytes(rows: dict) -> bytes:
    buf = io.BytesIO()
    pq.write_table(pa.table(rows), buf)
    return buf.getvalue()


class TestAuth:
    def test_unknown_user_rejected(self, server):
        from fuse_query_spark.sources.remote_store import _ClientAuth

        con = flight.connect(server.url)
        with pytest.raises(flight.FlightUnauthenticatedError, match="Don't know user"):
            con.authenticate(_ClientAuth(username="mallory"))

    def test_unauthenticated_calls_rejected(self, server):
        con = flight.connect(server.url)
        with pytest.raises(flight.FlightUnauthenticatedError):
            list(con.do_action(flight.Action("", b'{"ListDatabases": {}}')))


class TestMetaPlane:
    def test_ddl_roundtrip_and_error_codes(self, client):
        client.create_database("fdb")
        client.create_table("fdb", "t1", '{"type":"struct","fields":[]}')
        assert "t1" in client.databases()["fdb"]
        with pytest.raises(TableAlreadyExists):
            client.create_table("fdb", "t1", "{}")
        with pytest.raises(UnknownDatabase):
            client.drop_database("nope")
        with pytest.raises(UnknownTable):
            client.drop_table("fdb", "nope")
        client.drop_table("fdb", "t1")
        assert client.databases()["fdb"] == {}


class TestDataPlane:
    def test_append_read_plan_and_read_partition(self, client):
        client.create_database("fdata")
        client.create_table("fdata", "nums", '{"type":"struct","fields":[]}')
        part = client.append_parquet(
            "fdata", "nums", _parquet_bytes({"n": list(range(100))})
        )
        plan = client.read_plan("fdata", "nums")
        assert plan["parts"] == [part]
        # protocol-parity read: stream the partition over do_get
        t = client.read_partition(part)
        assert sorted(t.column("n").to_pylist()) == list(range(100))

    def test_pull_file_roundtrips_bytes(self, client):
        part = client.read_plan("fdata", "nums")["parts"][0]
        raw = client.pull_file(part)
        t = pq.read_table(io.BytesIO(raw))
        assert t.num_rows == 100

    def test_reads_outside_root_rejected(self, client):
        with pytest.raises(Exception, match="outside the store root|no such"):
            client.read_partition("/etc/passwd")

    def test_pull_file_multi_chunk_exact(self, client, server):
        """Files past the 1 MiB chunk size must round-trip byte-exact.
        Regression: the chunker read `i : i + 1 << 20` which parses as
        `i : (i+1) << 20` — overlapping chunks silently duplicated
        bytes for every file > 2 MiB (a 3 MiB file came back as 4 MiB).
        3.5 MiB of non-repeating bytes catches both length and content
        corruption at every chunk boundary."""
        import os

        import numpy as np

        size = 3 * (1 << 20) + (1 << 19)  # 3.5 MiB — 4 chunks, last partial
        data = np.random.default_rng(7).integers(0, 256, size, dtype=np.uint8).tobytes()
        path = os.path.join(server.state.root, "bigblob.bin")
        with open(path, "wb") as f:
            f.write(data)
        got = client.pull_file(path)
        assert len(got) == size
        assert got == data


class TestWireErrorMapping:
    def test_error_payload_with_braces_stays_typed(self):
        """The wire-error JSON may itself contain braces (e.g. a schema
        string in the message). Regression: find("}") truncated at the
        first one, degrading a typed UnknownTable into ConnectionError."""
        import json

        from fuse_query_spark.sources.remote_store import _map_client_error

        inner = json.dumps(
            {"code": 25, "error": 'no table with schema {"fields": {"a": 1}}'}
        )
        err = flight.FlightServerError(f"gRPC status detail: {inner} (extra tail)")
        with pytest.raises(UnknownTable, match="fields"):
            _map_client_error(err)


class TestEngineOverFlight:
    def test_remote_engine_end_to_end(self, spark, server):
        eng = Engine(spark)
        eng.attach_store(server.url)
        eng.sql(
            "CREATE DATABASE fldb; USE fldb;"
            "CREATE TABLE nums(n bigint, s varchar);"
            "INSERT INTO nums SELECT number, CAST(number % 3 AS STRING) FROM numbers(500)"
        )
        rows = eng.sql("SELECT * FROM system.tables WHERE database='fldb'").collect()
        assert [(r.name, r.engine) for r in rows] == [("nums", "remote")]
        got = eng.sql(
            "SELECT s, COUNT(*) AS c, SUM(n) AS t FROM nums GROUP BY s ORDER BY s"
        ).collect()
        assert [(r.s, r.c) for r in got] == [("0", 167), ("1", 167), ("2", 166)]
        assert sum(r.t for r in got) == 500 * 499 // 2
        eng.sql("DROP TABLE nums; DROP DATABASE fldb")
