"""interactive_sql: two MySQL-protocol clients run a closed loop of
seeded ClickHouse-dialect statements against `servers.MySQLServer`
over one `Engine` with the benchmark tables attached.

One pass is one round on one connection: TRUNCATE of the connection's
Parquet-engine sink table, then the twelve read templates and two
INSERTs in seeded order, then a read-back of the sink. Reads are
compared with DuckDB over the same parquet; the read-back checks the
round's writes.
"""

from __future__ import annotations

import os
import random
import threading
import time

from check_oracle import table_hash  # tools/check_oracle.py comparison policy
from fuse_query_spark.sources.tables import TABLES
from fuse_query_spark.testing import duckdb_conn

from harness import Recorder
from wire import MySQLClient

CLIENTS = 2
# a measured window runs at least this many statements, so that at
# least 10 lie beyond op_p90_ms
MIN_STATEMENTS = 100

# name -> (ClickHouse-dialect SQL sent over the wire, DuckDB oracle SQL,
# parameter generator). Aliases pin the column names on both sides;
# float sums only run over integral values so both engines agree bit
# for bit.
TEMPLATES = {
    "point_order": (
        "SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p, o_orderpriority AS pr "
        "FROM orders WHERE o_orderkey = {k}",
        None,
        lambda r, n: {"k": r.randrange(n["orders"])},
    ),
    "point_customer": (
        "SELECT c_name AS name, c_acctbal AS bal, c_mktsegment AS seg "
        "FROM customer WHERE c_custkey = {k}",
        None,
        lambda r, n: {"k": r.randrange(n["customer"])},
    ),
    "flags_groupby": (
        "SELECT l_returnflag AS f, l_linestatus AS s, count() AS n, sum(l_quantity) AS q "
        "FROM lineitem WHERE l_shipdate < '{d}' GROUP BY l_returnflag, l_linestatus",
        "SELECT l_returnflag AS f, l_linestatus AS s, count(*) AS n, sum(l_quantity) AS q "
        "FROM lineitem WHERE l_shipdate < '{d}' GROUP BY l_returnflag, l_linestatus",
        lambda r, n: {"d": f"{r.randrange(1995, 2002)}-{r.randrange(1, 13):02d}-01"},
    ),
    "combinators": (
        "SELECT o_orderpriority AS p, uniq(o_custkey) AS u, countIf(o_orderstatus = 'F') AS nf, "
        "sumIf(o_custkey, o_totalprice > {x}) AS sc FROM orders GROUP BY o_orderpriority",
        "SELECT o_orderpriority AS p, count(DISTINCT o_custkey) AS u, "
        "count(*) FILTER (WHERE o_orderstatus = 'F') AS nf, "
        "sum(o_custkey) FILTER (WHERE o_totalprice > {x}) AS sc FROM orders GROUP BY o_orderpriority",
        lambda r, n: {"x": r.randrange(1_000, 500_000)},
    ),
    "numbers_agg": (
        "SELECT sum(number) AS s, count() AS n FROM numbers({N}) WHERE number % {m} = {r}",
        "SELECT sum(range) AS s, count(*) AS n FROM range({N}) WHERE range % {m} = {r}",
        lambda r, n: {"N": r.randrange(100_000, 1_000_000), "m": r.randrange(3, 20), "r": r.randrange(3)},
    ),
    "dim_join": (
        "SELECT n_name AS nation, count() AS n, max(c_acctbal) AS top FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = '{seg}' GROUP BY n_name",
        "SELECT n_name AS nation, count(*) AS n, max(c_acctbal) AS top FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = '{seg}' GROUP BY n_name",
        lambda r, n: {"seg": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])},
    ),
    "system_tables": (
        "SELECT name, engine FROM system.tables WHERE database = 'default'",
        None,  # expected rows come from the catalog the benchmark built
        lambda r, n: {},
    ),
    "scan_heavy": (
        "SELECT l_orderkey AS k, l_partkey AS p, l_suppkey AS s, l_quantity AS q, "
        "l_extendedprice AS e, l_shipdate AS d FROM lineitem WHERE l_orderkey BETWEEN {a} AND {b}",
        None,
        lambda r, n: (lambda a: {"a": a, "b": a + n["orders"] // 10})(r.randrange(n["orders"])),
    ),
    "topk": (
        "SELECT o_custkey AS c, max(o_totalprice) AS m FROM orders WHERE o_orderdate >= '{d}' "
        "GROUP BY o_custkey ORDER BY m DESC, c LIMIT 10",
        None,
        lambda r, n: {"d": f"{r.randrange(1995, 2001)}-{r.randrange(1, 13):02d}-01"},
    ),
    "events_uniq": (
        "SELECT event_type AS t, count() AS n, uniq(user_id) AS u, max(value) AS mx FROM events "
        "WHERE user_id % {m} = {r} GROUP BY event_type",
        "SELECT event_type AS t, count(*) AS n, count(DISTINCT user_id) AS u, max(value) AS mx "
        "FROM events WHERE user_id % {m} = {r} GROUP BY event_type",
        lambda r, n: {"m": r.randrange(2, 9), "r": r.randrange(2)},
    ),
    "having": (
        "SELECT p_brand AS b, count() AS n, min(p_retailprice) AS lo FROM part "
        "WHERE p_size <= {s} GROUP BY p_brand HAVING count() > {h}",
        "SELECT p_brand AS b, count(*) AS n, min(p_retailprice) AS lo FROM part "
        "WHERE p_size <= {s} GROUP BY p_brand HAVING count(*) > {h}",
        lambda r, n: {"s": r.randrange(5, 50), "h": r.randrange(0, n["part"] // 100)},
    ),
    "limit_by": (
        "SELECT o_orderpriority AS p, o_orderkey AS k, o_totalprice AS t FROM orders "
        "WHERE o_custkey < {c} ORDER BY p, k LIMIT 2 BY p",
        "SELECT p, k, t FROM (SELECT o_orderpriority AS p, o_orderkey AS k, o_totalprice AS t, "
        "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn "
        "FROM orders WHERE o_custkey < {c}) WHERE rn <= 2",
        lambda r, n: {"c": r.randrange(1, n["customer"] // 10)},
    ),
}


def text_cell(v):
    """A DuckDB value as the MySQL front-end's text protocol renders it."""
    from datetime import date, datetime

    if v is None:
        return None
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


class InteractiveSQL:
    name = "interactive_sql"
    items_per_pass = None  # an op is one statement

    def __init__(self, data_dir: str, work_dir: str, seed: int, sizes: dict):
        self.data_dir, self.work_dir, self.sizes = data_dir, work_dir, sizes
        self.rngs = [random.Random(seed * 1000 + c) for c in range(CLIENTS)]
        self.log: list = []  # (template, sql, params, cols, rows, expected)
        self._log_lock = threading.Lock()
        self.server = None
        self.clients: list = []
        self.tracer = None

    def setup(self, spark) -> None:
        from fuse_query_spark.engine import Engine
        from fuse_query_spark.servers import MySQLServer

        self.engine = Engine(spark)
        self.engine.attach_parquet_dir(self.data_dir)
        for c in range(CLIENTS):
            loc = os.path.join(self.work_dir, f"sink_{c}")
            self.engine.sql(
                f"CREATE TABLE sink_{c} (k BIGINT, c BIGINT, v DOUBLE) ENGINE = Parquet location = '{loc}'"
            )
        self.server = MySQLServer(self.engine, port=0)
        port = self.server.start()
        self.clients = [MySQLClient(port) for _ in range(CLIENTS)]
        for cl in self.clients:
            cl.query("SELECT 1 AS one")

    def teardown(self) -> None:
        for cl in self.clients:
            cl.close()
        self.clients = []
        if self.server is not None:
            self.server.stop()
            self.server = None

    # ---- one round on one connection ----

    @staticmethod
    def _done(rec: Recorder, deadline: float | None) -> bool:
        return deadline is not None and time.perf_counter() >= deadline and len(rec.ops) >= MIN_STATEMENTS

    def _round(self, c: int, rec: Recorder, deadline: float | None, reads=tuple(TEMPLATES)) -> None:
        """One round; a round cut short by the end of the window records
        its statements but no pass."""
        rng, cl, sink = self.rngs[c], self.clients[c], f"sink_{c}"
        t0, start = time.perf_counter(), time.time()
        rec.run("ddl", "truncate", cl.query, f"TRUNCATE TABLE {sink}")
        stmts = [("read", name) for name in reads] + [("write", "insert_values"), ("write", "insert_select")]
        rng.shuffle(stmts)
        keys: list = []
        for kind, name in stmts:
            if self._done(rec, deadline):
                return
            if kind == "read":
                params = TEMPLATES[name][2](rng, self.sizes)
                self._read(c, rec, name, TEMPLATES[name][0].format(**params), params)
            elif name == "insert_values":
                rows = [(rng.randrange(10**9), rng.randrange(10**6), round(rng.uniform(0, 1e4), 2)) for _ in range(5)]
                values = ", ".join(f"({k}, {cc}, {v})" for k, cc, v in rows)
                if rec.run("write", name, cl.query, f"INSERT INTO {sink} VALUES {values}")[0]:
                    keys += [k for k, _, _ in rows]
            else:
                a = rng.randrange(self.sizes["orders"] - 20)
                sql = (
                    f"INSERT INTO {sink} SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                    f"WHERE o_orderkey BETWEEN {a} AND {a + 19}"
                )
                if rec.run("write", name, cl.query, sql)[0]:
                    keys += list(range(a, a + 20))
        expected = (["n", "sk"], [[str(len(keys)), str(sum(keys)) if keys else None]])
        self._read(c, rec, "read_back", f"SELECT count() AS n, sum(k) AS sk FROM {sink}", expected=expected)
        if self.tracer is not None:
            self.tracer.poll()  # counter snapshot per round, before the stores evict stages
        rec.add_pass(start, time.perf_counter() - t0)

    def _read(self, c: int, rec: Recorder, name: str, sql: str, params=None, expected=None) -> None:
        ok, res = rec.run("read", name, self.clients[c].query, sql)
        if ok:
            with self._log_lock:
                self.log.append((name, sql, params, res[0], res[1], expected))

    def _loop(self, c: int, rec: Recorder, deadline: float | None) -> None:
        if deadline is None:
            # warm pass: the connections split the read templates, so
            # each one is compiled once while both run
            self._round(c, rec, None, tuple(TEMPLATES)[c::CLIENTS])
            return
        while True:
            self._round(c, rec, deadline)
            if self._done(rec, deadline):
                return

    def run(self, rec: Recorder, seconds: float | None) -> None:
        """The warm pass when `seconds` is None, else rounds until
        `seconds` have passed and MIN_STATEMENTS ran."""
        deadline = None if seconds is None else time.perf_counter() + seconds
        threads = [threading.Thread(target=self._loop, args=(c, rec, deadline)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    # ---- checks, outside every timed region ----

    def verify(self, rec: Recorder) -> None:
        con = duckdb_conn(self.data_dir)
        cache: dict = {}
        sys_rows = [[t, "Parquet"] for t in TABLES] + [[f"sink_{c}", "Parquet"] for c in range(CLIENTS)]
        for name, sql, params, cols, rows, expected in self.log:
            if name == "system_tables":
                expected = (["name", "engine"], sys_rows)
            elif expected is None:
                duck_sql = (TEMPLATES[name][1] or TEMPLATES[name][0]).format(**params)
                if duck_sql not in cache:
                    res = con.execute(duck_sql)
                    cache[duck_sql] = (
                        [d[0] for d in res.description],
                        [[text_cell(v) for v in r] for r in res.fetchall()],
                    )
                expected = cache[duck_sql]
            ok = cols == expected[0] and table_hash(rows, cols)[0] == table_hash(expected[1], expected[0])[0]
            if not ok:
                rec.fail(f"{name}: wrong result for {sql[:120]!r}")
        con.close()
        self.log.clear()

