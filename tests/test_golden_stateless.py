"""Golden runner: execute the reference's OWN stateless suite verbatim
(/root/reference/tests/suites/0_stateless/*.sql) through Engine.sql and
compare against its *.result files.

This is the strongest parity claim the repo makes: not hand-picked
mirrors (test_engine_sql.py does that, statement by statement) but the
reference's unmodified test files, output-format and all.

Conventions handled (same as the reference's test harness):
- tab-separated values; NULL; true/false; Float64 printed without a
  trailing .0 when integral (e.g. avg → `80`).
- `-- {ErrorCode N}` trailing a statement → the statement must raise a
  FuseQueryError with that code and produce no output.
- an expected line starting with `ERROR ` → the statement must raise
  (these are client-protocol renderings; we check the `Code: N` inside
  when present).
- EXPLAIN / EXPLAIN PIPELINE → plan text is engine-specific by design
  (we print Spark plans, not the reference's transforms), so the
  statement must run and its one expected plan line is consumed
  without content comparison. Plan PROPERTIES are gated separately in
  test_plans.py.
- statements with no top-level ORDER BY compare as line multisets
  (hash-aggregation output order is engine-dependent in both systems).
- CSV `location = '...'` paths are relative to the reference repo root
  and rewritten to absolute (read-only) paths.

Skipped files are listed with reasons in SKIP below.
"""

from __future__ import annotations

import os
import re

import pytest

from fuse_query_spark.engine import Engine
from fuse_query_spark.errors import FuseQueryError

SUITE_DIR = "/root/reference/tests/suites/0_stateless"
_SUITE_ABSENT = "reference-suite-absent"  # the one case collected without SUITE_DIR

SKIP: set[str] = set()  # r5: the remote-engine analog closed the last 2 skips

# Environment parity: the reference CI leaves a `for_test` database
# behind (created outside the 0_stateless suite) and its recorded
# system.databases snapshots include it.
PRE_SQL = {
    "02_0005_function_compare": ["CREATE DATABASE IF NOT EXISTS for_test"],
}

# Statements whose recorded output we intentionally diverge from:
# (file, statement substring) → (expected lines consumed, reason).
# (02_0002's UInt64 cast divergence closed in r4: toTypeName now
# statically infers reference type names — dialect/typer.py.)
DIVERGE = {}

_ERRCODE = re.compile(r"--\s*\{\s*ErrorCode\s+(\d+)")


def _sql_files():
    if not os.path.isdir(SUITE_DIR):
        return [_SUITE_ABSENT]
    return sorted(
        f[:-4] for f in os.listdir(SUITE_DIR) if f.endswith(".sql") and f[:-4] not in SKIP
    )


def _parse(path: str):
    """Yield (statement, expected_error_code | None) in file order."""
    out = []
    buf: list[str] = []
    for raw_line in open(path):
        code = None
        m = _ERRCODE.search(raw_line)
        if m:
            code = int(m.group(1))
        line = re.sub(r"--.*$", "", raw_line).rstrip("\n")
        while ";" in line:
            stmt_part, line = line.split(";", 1)
            buf.append(stmt_part)
            stmt = "\n".join(buf).strip()
            buf = []
            if stmt:
                # a trailing annotation sits on the same line as the `;`
                out.append((stmt, code if m else None))
        if line.strip():
            buf.append(line)
    if "\n".join(buf).strip():
        out.append(("\n".join(buf).strip(), None))
    return out


def _fmt(v) -> str:
    if v is None:
        return "NULL"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, float):
        return str(int(v)) if v == int(v) and abs(v) < 2**53 else repr(v)
    return str(v)


def _rewrite_location(stmt: str) -> str:
    return re.sub(
        r"location\s*=\s*'(?!/)([^']*)'",
        lambda m: f"location = '/root/reference/{m.group(1)}'",
        stmt,
        flags=re.IGNORECASE,
    )


def _produces_output(stmt: str) -> bool:
    head = stmt.split(None, 1)[0].upper()
    return head in ("SELECT", "SHOW", "DESCRIBE", "DESC", "WITH")


@pytest.mark.parametrize("name", _sql_files())
def test_reference_golden_file(spark, name, tmp_path, request):
    if name == _SUITE_ABSENT:
        pytest.fail(f"reference stateless suite not found: {SUITE_DIR}")
    statements = _parse(os.path.join(SUITE_DIR, f"{name}.sql"))
    expected = open(os.path.join(SUITE_DIR, f"{name}.result")).read().splitlines()
    engine = Engine(spark)
    # The reference CI runs fuse-query connected to fusestore, so
    # `CREATE DATABASE x` (no ENGINE clause) lands remote (09_*). A
    # fresh per-test store keeps files isolated from each other.
    from fuse_query_spark.sources.remote_store import FuseStoreFlight

    store = FuseStoreFlight(str(tmp_path / "store"))
    request.addfinalizer(store.shutdown)
    engine.attach_store(store.url)
    for pre in PRE_SQL.get(name, []):
        engine.sql(pre)
    cursor = 0

    for stmt, err_code in statements:
        stmt = _rewrite_location(stmt)
        head = stmt.split(None, 1)[0].upper()

        diverge = next(
            (v for (f, sub), v in DIVERGE.items() if f == name and sub in stmt), None
        )
        if diverge is not None:
            n_lines, _reason = diverge
            engine.sql(stmt).collect()  # must still run
            cursor += n_lines
            continue

        if err_code is not None:
            with pytest.raises(FuseQueryError) as exc:
                df = engine.sql(stmt)
                if df is not None:
                    df.collect()
            assert exc.value.code == err_code, f"{name}: {stmt!r} raised code {exc.value.code}"
            continue

        if cursor < len(expected) and expected[cursor].startswith("ERROR "):
            want = expected[cursor]
            cursor += 1
            with pytest.raises(Exception) as exc:
                df = engine.sql(stmt)
                if df is not None:
                    df.collect()
            mcode = re.search(r"Code: (\d+)", want)
            if mcode and isinstance(exc.value, FuseQueryError):
                assert exc.value.code == int(mcode.group(1)), f"{name}: {stmt!r}"
            continue

        if head == "EXPLAIN":
            df = engine.sql(stmt)
            assert df is not None and df.collect() is not None, f"{name}: {stmt!r}"
            cursor += 1  # reference plan text: consumed, not compared
            continue

        df = engine.sql(stmt)
        if not _produces_output(stmt):
            continue
        actual = ["\t".join(_fmt(v) for v in row) for row in df.collect()]
        want = expected[cursor : cursor + len(actual)]
        cursor += len(actual)
        if re.search(r"(?is)\border\s+by\b", stmt):
            assert actual == want, f"{name}: {stmt!r}"
        else:
            assert sorted(actual) == sorted(want), f"{name}: {stmt!r}"

    assert cursor == len(expected), (
        f"{name}: consumed {cursor} of {len(expected)} expected lines"
    )
