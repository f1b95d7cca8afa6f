"""Local replica of the driver's DuckDB correctness oracle.

The external driver runs every ``queries()[name]`` against
``oracle_sql()[name]`` (DuckDB) at sf0.01 and compares row count + schema +
order-insensitive value hash. This module reproduces that check locally so a
query is never *declared* before it has been *verified* (SURVEY.md §5.2
rule: "never declare a query whose hash we haven't matched locally").
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

from .catalog import TABLES
from .plans import executed_plan


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with the fixture views registered (driver-style).

    - ``TimeZone`` pinned UTC: Spark's session zone is pinned UTC
      (session.RUNTIME_CONFS), and _canon_value strips tzinfo — on a
      non-UTC host an unpinned DuckDB would localize TIMESTAMPTZ cells
      to a different wall clock before the strip, failing (or worse,
      coincidentally passing) every timestamp comparison.
    - Directory-layout parquet (Spark-written tables, the synth tiers)
      binds via a glob; DuckDB's read_parquet validates at CREATE VIEW
      and cannot read a bare directory path.
    - A missing table skips its view instead of aborting the whole
      sweep (queries that touch it fail individually; the rest run).
    """
    import os

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        try:
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet({src})"
            )
        except Exception:  # missing/unreadable: surface per-query
            pass
    return con


def _canon_value(v):
    """Canonicalize one cell so Spark and DuckDB results compare equal."""
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # The driver hashes repr-level values: repr(-0.0) != repr(0.0),
        # so negative zero MUST stay distinct here (collapsing it with
        # `v + 0.0` made this sim blinder than the driver). A distinct marker —
        # not the float itself — because Python's -0.0 == 0.0 would
        # erase the difference in tuple comparison.
        if v == 0.0 and math.copysign(1.0, v) < 0.0:
            return "\x00-0.0"
        return v
    if isinstance(v, _dt.datetime):
        # aware values convert to UTC BEFORE the strip: Spark's session
        # zone is pinned UTC, so the naive twin of an instant is its
        # UTC wall clock — stripping a localized datetime on a non-UTC
        # host would compare different wall clocks
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc)
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, _dt.timedelta):
        return v.total_seconds()
    return v


def _canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name (driver behavior), canonicalize, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def _driver_shape_issues(side: str, cols: list[str], rows: list[tuple]) -> list[str]:
    """Run the driver's ACTUAL canonicalization op: pandas sort_values.

    The external driver sorts results with
    ``pandas.DataFrame.sort_values`` over all columns, which raises
    ``TypeError: unhashable type`` on array/map cells — a failure mode the
    tuple-sort in ``_canon_rows`` cannot see. Reproduce it here so any
    driver-incompatible output schema fails locally, on both the Spark
    result and the oracle result.
    """
    import numpy as np
    import pandas as pd

    # direct cell walk first: pandas' multi-column sort_values
    # factorizes (hashes) cells and raises TypeError on lists — but a
    # SINGLE column sorts via argsort, where Python list
    # comparison succeeds, so a one-array-column result would slip
    # through the sort probe below. Flag container cells explicitly
    # instead of depending on pandas' sort implementation details
    # (every row, not just the first: a nullable array column can hold
    # None in row 0 and a list further down).
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, (list, tuple, dict, set, np.ndarray)):
                return [
                    f"{side} result column {cols[i]!r} holds "
                    f"{type(v).__name__} cells — driver-canonicalizer "
                    "incompatible; flatten array/map columns "
                    "(array_join / string_agg discipline)"
                ]

    try:
        pdf = pd.DataFrame(rows, columns=cols)
        if len(pdf):
            pdf.sort_values(by=sorted(cols), kind="mergesort")
    except TypeError as exc:
        return [
            f"{side} result is driver-canonicalizer incompatible "
            f"(pandas sort_values: {exc}) — flatten array/map columns "
            "(array_join / string_agg discipline)"
        ]
    return []


def _negzero_issues(side: str, cols: list[str], rows: list[tuple]) -> list[str]:
    """Ban emitted ``-0.0`` registry-wide.

    A cell that rounds to negative zero means the value is
    indistinguishable from 0 at the declared precision while its SIGN is
    partition-summation-order noise — the driver's repr-level hash
    distinguishes ``-0.0`` from ``0.0``, so such a query is a coin-flip
    red row across runs/engines. The discipline (SURVEY §7.4 rule 2):
    emit a boolean witness (``abs(x) < eps AS x_zero_ok``) or normalize
    with ``+ 0.0`` — NOT bare ``abs()``, which DuckDB defines as
    sign-preserving on -0.0 while Spark clears it.
    """
    issues: list[str] = []
    for r in rows:
        for i, v in enumerate(r):
            if (
                isinstance(v, float)
                and v == 0.0
                and math.copysign(1.0, v) < 0.0
            ):
                issues.append(
                    f"{side} result column {cols[i]!r} emits -0.0 — "
                    "sign-unstable zero; "
                    "emit a boolean witness or `+ 0.0` instead"
                )
                break
        if issues:
            break
    return issues


#: DuckDB result type → Spark ``simpleString`` it must pair with for the
#: driver's *type-sensitive* value hash to match. HUGEINT/UHUGEINT are
#: deliberately absent: DuckDB's bare ``sum(int)`` is HUGEINT, which
#: pandas/arrow widens to float64/object and the driver hash diverges even
#: when the values are equal — oracles must ``CAST(... AS BIGINT)`` instead.
_DUCK_TO_SPARK = {
    "BOOLEAN": "boolean",
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp_ntz",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
    "BLOB": "binary",
}

#: type kinds that hash identically after the driver's canonicalization
#: (python ints of any width; naive vs zoned timestamps collapse once the
#: tz is stripped), so a width difference inside one kind is not an error.
_TYPE_KINDS = {
    "tinyint": "i",
    "smallint": "i",
    "int": "i",
    "bigint": "i",
    "float": "f",
    "double": "f",
    "timestamp": "ts",
    "timestamp_ntz": "ts",
}


def _duck_type_to_spark(t) -> str:
    """Canonical Spark simpleString for a DuckDB result type (best effort)."""
    s = str(t).upper()
    if s.endswith("[]"):
        return f"array<{_duck_type_to_spark(s[:-2])}>"
    if s.startswith("DECIMAL"):
        return s.lower()
    return _DUCK_TO_SPARK.get(s, s.lower())


def _type_issues(schema: StructType, rel) -> list[str]:
    """Flag DuckDB↔Spark result-type pairs the driver's hash would split.

    The driver's value hash is type-sensitive: HUGEINT vs
    BIGINT hash-mismatches even with equal values. Compare the oracle's
    result types against the Spark schema by *hash kind* so a locally-green
    query predicts a driver-green query.
    """
    issues = []
    s_types = {f.name: f.dataType.simpleString() for f in schema.fields}
    for col, dtyp in zip(rel.columns, rel.types):
        d = _duck_type_to_spark(dtyp)
        s = s_types.get(col)
        if s is None:
            continue  # column-name diff reported separately
        if d == s:
            continue
        if _TYPE_KINDS.get(d) is not None and _TYPE_KINDS.get(d) == _TYPE_KINDS.get(s):
            continue
        if d.startswith("array<") and s.startswith("array<"):
            di, si = d[6:-1], s[6:-1]
            if di == si or (
                _TYPE_KINDS.get(di) is not None
                and _TYPE_KINDS.get(di) == _TYPE_KINDS.get(si)
            ):
                continue
        issues.append(f"type-kind mismatch on {col!r}: duck={d} spark={s}")
    return issues


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    duck_rows: int
    issues: list[str] = field(default_factory=list)
    #: The Spark side as built, in plain data only: a held DataFrame would
    #: pin its cached and checkpointed blocks. ``plan`` is the executed
    #: plan taken before the collect; ``error`` is what the builder (or
    #: the collect) raised, for readers of the build to re-raise.
    schema: StructType | None = None
    plan: str = ""
    rows: list[Row] = field(default_factory=list)
    error: Exception | None = None

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} duck={self.duck_rows}"
        for issue in self.issues[:6]:
            msg += f"\n    - {issue}"
        return msg


def compare(
    name: str,
    spark_df: DataFrame,
    con: duckdb.DuckDBPyConnection,
    sql: str,
) -> CompareResult:
    """Run both sides and diff (count, column names, types, canonical values).

    Values compare exactly, as the driver's hash does.
    """
    rows = spark_df.collect()
    return _compare_rows(name, spark_df.schema, rows, con, sql)


def _compare_rows(
    name: str,
    schema: StructType,
    rows: list[Row],
    con: duckdb.DuckDBPyConnection,
    sql: str | None,
) -> CompareResult:
    """:func:`compare` on Spark rows already collected."""
    if sql is None:
        raise ValueError("no oracle SQL: there is no rows-only check")
    issues: list[str] = []
    s_cols = schema.names
    s_rows = [tuple(r) for r in rows]
    rel = con.sql(sql)
    d_cols = list(rel.columns)
    issues.extend(_type_issues(schema, rel))
    d_rows = rel.fetchall()

    if sorted(s_cols) != sorted(d_cols):
        issues.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        issues.append("row counts differ")
    issues.extend(_negzero_issues("spark", s_cols, s_rows))
    issues.extend(_negzero_issues("duck", d_cols, d_rows))
    issues.extend(_driver_shape_issues("spark", s_cols, s_rows))
    issues.extend(_driver_shape_issues("duck", d_cols, d_rows))

    if not issues:
        cs = _canon_rows(s_cols, s_rows)
        cd = _canon_rows(d_cols, d_rows)
        if cs != cd:
            n_bad = sum(1 for a, b in zip(cs, cd) if a != b)
            issues.append(f"{n_bad}/{len(cs)} canonical rows differ")
            for a, b in zip(cs, cd):
                if a != b:
                    issues.append(f"spark={a!r}")
                    issues.append(f"duck ={b!r}")
                    break
    return CompareResult(name, not issues, len(s_rows), len(d_rows), issues)


def check_queries(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
) -> list[CompareResult]:
    """Build, plan and collect each declared query once at ``sf_dir`` and
    check it against its oracle; every result carries its build."""
    from .registry import load_all

    registry = load_all()
    if names:
        unknown = sorted(set(names) - set(registry))
        if unknown:  # a typo must not read as a 0/0 green sweep
            raise KeyError(f"not in the registry: {unknown}")
    con = duck_connect(sf_dir)
    results = []
    for name, q in registry.items():
        if names and name not in names:
            continue
        try:
            df = q.builder(spark, sf_dir)
            schema, plan = df.schema, executed_plan(df)
            rows = df.collect()
        except Exception as exc:  # surface, don't abort the sweep
            results.append(CompareResult(
                name, False, -1, -1, [f"{type(exc).__name__}: {exc}"],
                error=exc,
            ))
            continue
        try:
            res = _compare_rows(name, schema, rows, con, q.oracle)
        except Exception as exc:  # a missing or broken oracle fails this query
            res = CompareResult(
                name, False, len(rows), -1, [f"{type(exc).__name__}: {exc}"]
            )
        res.schema, res.plan, res.rows = schema, plan, rows
        results.append(res)
    return results
