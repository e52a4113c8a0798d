"""Remote-engine analog: a local "fusestore" service + client, speaking
the reference store's wire protocol, Arrow Flight.

The reference's Remote engine (datasources/remote/remote_table.rs:27-181,
remote_table_do_read.rs, remote_database.rs) backs tables in a separate
store process reached over Arrow Flight: CREATE/DROP go through MetaApi
(store_client_provider.rs), reads call `client.read_plan(db, tbl, scan)`
to get back the partition list, and `append_data` streams blocks to the
store. `CREATE DATABASE` without `ENGINE = Local` lands in the remote
database (09_0000_remote_create_table expects engine `remote`).

The Spark-first mapping, and the scale rationale:

- **Meta plane** — ``_StoreState`` is the store's catalog over a root
  directory: database/table DDL, schema registry (persisted as
  ``_meta.json`` so the store survives restarts), and ``read_plan``
  returning the table's parquet part locations. This mirrors MetaApi's
  create_table/drop_table/get_table and StorageApi::read_plan.
- **Data plane** — the reference streams every data block through the
  store service (Flight do_get per partition). On Spark that would
  funnel a distributed scan through one socket; the idiomatic analog is
  the Hive-metastore/object-store split: ``read_plan`` returns part
  LOCATIONS and Spark executors scan those parquet parts directly, in
  parallel, with pushdown and pruning intact. At cluster scale the
  store root is an object-store prefix (s3a://...) and nothing changes
  structurally: meta over Flight, data read by executors from storage.
  The do_get Read stream exists for protocol parity and store-side
  consumers.
- **Append** — the engine writes blocks as parquet via Spark (rows
  never pass through the driver as rows) and streams each part's
  record batches to the store with do_put, which writes them back as
  one Spark-readable parquet part. At scale this becomes a direct
  executor write to the store prefix; the do_put hop is the
  single-process stand-in.

Flight parity (fusestore/store/src/api/rpc/flight_service.rs):
- handshake: BasicAuth payload, only user "root" is known
  (flight_service.rs:84-118); every subsequent call carries the issued
  token and is rejected without it (check_token, :67-79). Mapped onto
  pyarrow's ServerAuthHandler/ClientAuthHandler pair; each server
  issues its own random token.
- do_action: serde-enum JSON bodies — {"CreateDatabase": {"plan":
  ...}}, CreateTable/DropTable/DropDatabase/GetTable/ReadPlan
  (common/flights/src/store_do_action.rs:47-63; the reference wraps
  the JSON in a one-field protobuf envelope, FlightStoreRequest —
  carried here as the bare JSON, the envelope being transport
  plumbing with no semantic content). Results return JSON bodies.
- do_get: StoreDoGet enum tickets (store_do_get.rs:25-28) —
  {"Read": {"part": ...}} streams one partition's rows as record
  batches (read_partition), {"Pull": {"key": ...}} streams a raw
  file's bytes (do_pull_file).
- do_put: append a stream of record batches to db/table (the
  descriptor path carries the target, standing in for the reference's
  gRPC metadata keys); the appended part name returns in the
  PutResult metadata (flight_service.rs:181-207).
- list_flights/get_flight_info/get_schema/do_exchange/list_actions:
  unimplemented!() in the reference — the base class raises here too.
- ListDatabases is a documented EXTENSION action (the engine's SHOW
  DATABASES over an attached store needs a listing; the reference
  reads its meta state engine-side instead).
"""

from __future__ import annotations

import io
import json
import os
import re
import secrets
import shutil
import threading

import pyarrow as pa
import pyarrow.flight as flight
import pyarrow.parquet as pq

from fuse_query_spark.errors import (
    DatabaseAlreadyExists,
    TableAlreadyExists,
    UnknownDatabase,
    UnknownTable,
)

_SAFE_NAME = re.compile(r"^\w+$")


class _StoreState:
    """Store-side catalog + file layout: <root>/<db>/<table>/part-N.parquet,
    schemas in <root>/_meta.json (Spark StructType.json strings)."""

    def __init__(self, root: str):
        self.root = root
        self.lock = threading.Lock()
        self.meta_path = os.path.join(root, "_meta.json")
        os.makedirs(root, exist_ok=True)
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                self.meta: dict[str, dict[str, str]] = json.load(f)
        else:
            self.meta = {}

    def _flush(self) -> None:
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.meta, f)
        os.replace(tmp, self.meta_path)

    @staticmethod
    def _check_name(*names: str) -> None:
        for n in names:
            if not _SAFE_NAME.match(n or ""):
                raise ValueError(f"illegal identifier: {n!r}")

    def create_database(self, db: str) -> None:
        self._check_name(db)
        with self.lock:
            if db in self.meta:
                raise DatabaseAlreadyExists(f"Database '{db}' already exists")
            self.meta[db] = {}
            os.makedirs(os.path.join(self.root, db), exist_ok=True)
            self._flush()

    def drop_database(self, db: str) -> None:
        self._check_name(db)
        with self.lock:
            if db not in self.meta:
                raise UnknownDatabase(f"Unknown database: '{db}'")
            del self.meta[db]
            shutil.rmtree(os.path.join(self.root, db), ignore_errors=True)
            self._flush()

    def create_table(self, db: str, table: str, schema_json: str) -> None:
        self._check_name(db, table)
        with self.lock:
            if db not in self.meta:
                raise UnknownDatabase(f"Unknown database: '{db}'")
            if table in self.meta[db]:
                raise TableAlreadyExists(f"Table '{db}.{table}' already exists")
            self.meta[db][table] = schema_json
            os.makedirs(os.path.join(self.root, db, table), exist_ok=True)
            self._flush()

    def drop_table(self, db: str, table: str) -> None:
        self._check_name(db, table)
        with self.lock:
            if db not in self.meta:
                raise UnknownDatabase(f"Unknown database: '{db}'")
            if table not in self.meta[db]:
                raise UnknownTable(f"Unknown table: '{db}.{table}'")
            del self.meta[db][table]
            shutil.rmtree(os.path.join(self.root, db, table), ignore_errors=True)
            self._flush()

    def read_plan(self, db: str, table: str) -> dict:
        self._check_name(db, table)
        with self.lock:
            if db not in self.meta:
                raise UnknownDatabase(f"Unknown database: '{db}'")
            if table not in self.meta[db]:
                raise UnknownTable(f"Unknown table: '{db}.{table}'")
            tdir = os.path.join(self.root, db, table)
            parts = sorted(
                os.path.join(tdir, p) for p in os.listdir(tdir) if p.endswith(".parquet")
            ) if os.path.isdir(tdir) else []
            return {"schema": self.meta[db][table], "parts": parts}

    def append_part(self, db: str, table: str, data: bytes) -> str:
        """Write one parquet part; no bytes append nothing and return ''."""
        self._check_name(db, table)
        with self.lock:
            if db not in self.meta or table not in self.meta[db]:
                raise UnknownTable(f"Unknown table: '{db}.{table}'")
            if not data:
                return ""
            tdir = os.path.join(self.root, db, table)
            os.makedirs(tdir, exist_ok=True)
            n = sum(1 for p in os.listdir(tdir) if p.endswith(".parquet"))
            path = os.path.join(tdir, f"part-{n:05d}.parquet")
            while os.path.exists(path):  # dropped-and-recreated gap safety
                n += 1
                path = os.path.join(tdir, f"part-{n:05d}.parquet")
            with open(path, "wb") as f:
                f.write(data)
            return path

    def databases(self) -> dict[str, dict[str, str]]:
        with self.lock:
            return {db: dict(tables) for db, tables in self.meta.items()}


# Wire error codes, one per exception type. The reference's
# common/exception codes, except DatabaseAlreadyExists: its stateless-suite
# code 3 collides with UnknownDatabase, so the wire carries the code
# exception.rs:205 later gave it (4001). The exception raised client-side
# still reports its engine code (3).
_WIRE_ERRORS = {
    3: UnknownDatabase,
    25: UnknownTable,
    2: TableAlreadyExists,
    4001: DatabaseAlreadyExists,
}
_ERR_CODE = {exc: code for code, exc in _WIRE_ERRORS.items()}


def _wire_err(e: Exception) -> flight.FlightServerError:
    code = _ERR_CODE.get(type(e), 1000)
    msg = getattr(e, "message", str(e))
    return flight.FlightServerError(json.dumps({"code": code, "error": msg}))


def _map_client_error(e: flight.FlightError):
    """Wire errors carry {"code": N, "error": msg} JSON; re-raise the
    typed exception for the code (ConnectionError for any other)."""
    msg = str(e)
    start = msg.find('{"code"')
    if start < 0:
        raise ConnectionError(msg) from None
    try:
        payload, _ = json.JSONDecoder().raw_decode(msg[start:])
    except json.JSONDecodeError:
        raise ConnectionError(msg) from None
    text = payload.get("error", "store error")
    exc_type = _WIRE_ERRORS.get(payload.get("code"), ConnectionError)
    raise exc_type(text) from None


class _ServerAuth(flight.ServerAuthHandler):
    """BasicAuth handshake -> bearer token (flight_service.rs:84-118:
    only user "root" exists; everything else is unauthenticated)."""

    def __init__(self):
        super().__init__()
        self._token = secrets.token_hex(16).encode()

    def authenticate(self, outgoing, incoming):
        payload = incoming.read()
        user = bytes(payload).split(b":", 1)[0]
        if user != b"root":
            raise flight.FlightUnauthenticatedError(
                f"Don't know user {user.decode(errors='replace')}"
            )
        outgoing.write(self._token)

    def is_valid(self, token):
        if bytes(token) != self._token:
            raise flight.FlightUnauthenticatedError("Error auth-token-bin is empty")
        return b"root"


class _ClientAuth(flight.ClientAuthHandler):
    def __init__(self, username: str = "root", password: str = ""):
        super().__init__()
        self._payload = f"{username}:{password}".encode()
        self._token = b""

    def authenticate(self, outgoing, incoming):
        outgoing.write(self._payload)
        self._token = incoming.read()

    def get_token(self):
        return self._token


class FuseStoreFlight(flight.FlightServerBase):
    """The store service. Serves from construction until shutdown();
    the default location binds loopback on an ephemeral port, and
    `.url` is the address clients connect to."""

    def __init__(self, root: str, location: str = "grpc://127.0.0.1:0"):
        super().__init__(location, auth_handler=_ServerAuth())
        self.state = _StoreState(root)
        self.url = f"{location.rsplit(':', 1)[0]}:{self.port}"

    # --- do_action: meta plane ----------------------------------------
    def do_action(self, context, action: flight.Action):
        try:
            body = json.loads(action.body.to_pybytes().decode("utf-8") or "{}")
        except (UnicodeDecodeError, json.JSONDecodeError) as e:
            raise flight.FlightServerError(f"invalid action body: {e}") from None
        if not isinstance(body, dict) or len(body) != 1:
            raise flight.FlightServerError(
                "expected a single-variant StoreDoAction object"
            )
        variant, payload = next(iter(body.items()))
        try:
            if variant == "CreateDatabase":
                self.state.create_database(payload["plan"]["db"])
                out = {}
            elif variant == "DropDatabase":
                self.state.drop_database(payload["plan"]["db"])
                out = {}
            elif variant == "CreateTable":
                p = payload["plan"]
                self.state.create_table(p["db"], p["table"], p["schema"])
                out = {}
            elif variant == "DropTable":
                p = payload["plan"]
                self.state.drop_table(p["db"], p["table"])
                out = {}
            elif variant == "GetTable":
                plan = self.state.read_plan(payload["db"], payload["table"])
                out = {"schema": plan["schema"]}
            elif variant == "ReadPlan":
                sp = payload["scan_plan"]
                out = self.state.read_plan(sp["db"], sp["table"])
            elif variant == "ListDatabases":  # documented extension
                out = {"databases": self.state.databases()}
            else:
                raise NotImplementedError(f"UnImplement action {variant}")
        except (
            UnknownDatabase,
            UnknownTable,
            TableAlreadyExists,
            DatabaseAlreadyExists,
            ValueError,
            KeyError,
        ) as e:
            raise _wire_err(e) from None
        return iter([flight.Result(json.dumps(out).encode("utf-8"))])

    # --- do_get: data plane -------------------------------------------
    def do_get(self, context, ticket: flight.Ticket):
        try:
            t = json.loads(ticket.ticket.decode("utf-8"))
        except (UnicodeDecodeError, json.JSONDecodeError) as e:
            raise flight.FlightServerError(f"invalid ticket: {e}") from None
        if "Read" in t:  # stream one partition's rows (read_partition)
            part = t["Read"]["part"]
            if not self._part_ok(part):
                raise flight.FlightServerError("part outside the store root")
            try:
                table = pq.read_table(part)
            except FileNotFoundError:
                raise _wire_err(UnknownTable(f"no such part: {part}")) from None
            return flight.RecordBatchStream(table)
        if "Pull" in t:  # stream a raw file's bytes (do_pull_file)
            key = t["Pull"]["key"]
            if not self._part_ok(key):
                raise flight.FlightServerError("key outside the store root")
            try:
                with open(key, "rb") as f:
                    data = f.read()
            except FileNotFoundError:
                raise _wire_err(UnknownTable(f"no such file: {key}")) from None
            chunks = [data[i : i + (1 << 20)] for i in range(0, len(data), 1 << 20)] or [b""]
            table = pa.table({"data": pa.array(chunks, pa.binary())})
            return flight.RecordBatchStream(table)
        raise flight.FlightServerError("ticket must be a Read or Pull StoreDoGet")

    def _part_ok(self, path: str) -> bool:
        root = os.path.realpath(self.state.root)
        return os.path.realpath(path).startswith(root + os.sep)

    # --- do_put: block-stream append ----------------------------------
    def do_put(self, context, descriptor, reader, writer):
        path = [p.decode() for p in descriptor.path or []]
        if len(path) != 2:
            raise flight.FlightServerError("descriptor path must be [db, table]")
        db, tbl = path
        table = reader.read_all()
        buf = io.BytesIO()
        # pyarrow writes timestamp[ns] as INT64 nanos, a type Spark cannot
        # read back: write micros, Spark's own unit. A value with sub-micro
        # digits raises rather than being truncated (ArrowInvalid is a
        # ValueError). A stream without rows appends no part.
        try:
            if table.num_rows:
                pq.write_table(table, buf, coerce_timestamps="us")
            part = self.state.append_part(db, tbl, buf.getvalue())
        except (UnknownDatabase, UnknownTable, ValueError) as e:
            raise _wire_err(e) from None
        writer.write(pa.py_buffer(json.dumps({"part": part}).encode("utf-8")))


class StoreFlightClient:
    """MetaApi/StorageApi analog over Flight (store_client_provider.rs
    hands out exactly this kind of connection; remote_table.rs calls
    read_plan/append_data through it)."""

    def __init__(self, url: str, username: str = "root", password: str = ""):
        self.url = url
        self.con = flight.connect(url)
        self.con.authenticate(_ClientAuth(username, password))

    def _action(self, variant: str, payload: dict) -> dict:
        a = flight.Action("", json.dumps({variant: payload}).encode("utf-8"))
        try:
            results = list(self.con.do_action(a))
        except flight.FlightError as e:
            _map_client_error(e)
        if not results:
            return {}
        return json.loads(results[0].body.to_pybytes().decode("utf-8") or "{}")

    def create_database(self, db: str) -> None:
        self._action("CreateDatabase", {"plan": {"db": db}})

    def drop_database(self, db: str) -> None:
        self._action("DropDatabase", {"plan": {"db": db}})

    def create_table(self, db: str, table: str, schema_json: str) -> None:
        self._action(
            "CreateTable", {"plan": {"db": db, "table": table, "schema": schema_json}}
        )

    def drop_table(self, db: str, table: str) -> None:
        self._action("DropTable", {"plan": {"db": db, "table": table}})

    def read_plan(self, db: str, table: str) -> dict:
        return self._action("ReadPlan", {"scan_plan": {"db": db, "table": table}})

    def append_parquet(self, db: str, table: str, data: bytes) -> str:
        # no bytes is an empty block stream; the store still checks the
        # target. Spark writes timestamps as INT96, which decode to
        # timestamp[ns] by default and wrap outside 1677..2262: decode
        # them as micros, Spark's own unit.
        table_data = (
            pq.read_table(io.BytesIO(data), coerce_int96_timestamp_unit="us")
            if data
            else pa.table({})
        )
        desc = flight.FlightDescriptor.for_path(db.encode(), table.encode())
        try:
            writer, meta_reader = self.con.do_put(desc, table_data.schema)
            writer.write_table(table_data)
            writer.done_writing()
            buf = meta_reader.read()
            writer.close()
        except flight.FlightError as e:
            _map_client_error(e)
        if buf is None:
            raise ConnectionError("store returned no append metadata")
        return json.loads(buf.to_pybytes().decode("utf-8"))["part"]

    def databases(self) -> dict[str, dict[str, str]]:
        return self._action("ListDatabases", {})["databases"]

    def read_partition(self, part: str):
        """Stream one partition's rows over do_get (read_partition) —
        the protocol-parity path; Spark scans part locations directly."""
        t = flight.Ticket(json.dumps({"Read": {"part": part}}).encode("utf-8"))
        return self.con.do_get(t).read_all()

    def pull_file(self, key: str) -> bytes:
        t = flight.Ticket(json.dumps({"Pull": {"key": key}}).encode("utf-8"))
        table = self.con.do_get(t).read_all()
        return b"".join(bytes(x) for x in table.column("data").to_pylist())
