"""DuckDB oracle-parity harness (SURVEY.md §5.2 item 3).

Mirrors the driver's t2 correctness gate: run the Spark query and the
DuckDB oracle SQL over the same parquet, compare row count, schema
(column names + types), and order-insensitive canonicalized values.
Used by tests and by the `python -m ariadne_cartograph_spark.plans.parity_cli`
iteration loop.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from dataclasses import dataclass, field

import duckdb

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr-level exactness: queries round explicitly, so both engines
        # must produce bit-identical doubles.
        return repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, _dt.datetime):
        return "ts:" + v.isoformat()
    if isinstance(v, _dt.date):
        return "date:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_canon_value(v[k])}" for k in sorted(v)) + "}"
    return f"{type(v).__name__}:{v}"


def canonical_rows(columns: list[str], rows: list[tuple]) -> list[str]:
    """Sort columns by name (as the driver does), canonicalize, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_canon_value(r[i]) for i in order) for r in rows)


@dataclass
class ParityReport:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    spark_cols: list[str]
    oracle_cols: list[str]
    mismatches: list[tuple[str, str]] = field(default_factory=list)  # (spark, oracle)
    error: str | None = None
    # Split clocks (r8 advice): engine-side collect vs DuckDB oracle
    # execution, so a slow ENTRY in a sweep artifact is attributable —
    # "the recursive-CTE oracle is the 40s, the engine side is 2s" is
    # a different conclusion from the reverse.
    spark_sec: float | None = None
    oracle_sec: float | None = None

    def describe(self) -> str:
        if self.ok:
            return f"OK    {self.name}: {self.spark_rows} rows"
        lines = [f"FAIL  {self.name}: spark={self.spark_rows} oracle={self.oracle_rows} rows"]
        if self.error:
            lines.append(f"  error: {self.error}")
        if sorted(self.spark_cols) != sorted(self.oracle_cols):
            lines.append(f"  cols spark : {sorted(self.spark_cols)}")
            lines.append(f"  cols oracle: {sorted(self.oracle_cols)}")
        for s, o in self.mismatches[:5]:
            lines.append(f"  spark : {s}")
            lines.append(f"  oracle: {o}")
        return "\n".join(lines)


def compare(
    name: str,
    spark_df: DataFrame,
    oracle_sql: str,
    sf_dir: str,
    con: duckdb.DuckDBPyConnection | None = None,
) -> ParityReport:
    import time as _time

    try:
        _t0 = _time.time()
        s_rows = [tuple(r) for r in spark_df.collect()]
        spark_sec = round(_time.time() - _t0, 3)
        s_cols = list(spark_df.columns)
        own_con = con is None
        if own_con:
            con = duckdb_connection(sf_dir)
        try:
            _t1 = _time.time()
            # Fetch through Arrow — the driver's hasher canonicalizes the
            # Arrow representation, so type drift invisible to fetchall()
            # (e.g. DuckDB sum(int) → HUGEINT → decimal128 while Spark
            # emits int64) must fail HERE, not only in the driver gate.
            tbl = con.execute(oracle_sql).arrow()
            o_cols = list(tbl.schema.names)
            hugeints = [
                f.name
                for f in tbl.schema
                if str(f.type).startswith("decimal")
            ]
            if hugeints:
                return ParityReport(
                    name, False, len(s_rows), tbl.num_rows, s_cols, o_cols,
                    error=(
                        "oracle emits decimal128 (DuckDB HUGEINT?) columns "
                        f"{hugeints} — CAST(... AS BIGINT/DOUBLE) in the oracle"
                    ),
                )
            o_rows = [tuple(d.values()) for d in tbl.to_pylist()]
            oracle_sec = round(_time.time() - _t1, 3)
        finally:
            if own_con:
                con.close()
    except Exception as e:  # surface engine errors as parity failures
        return ParityReport(name, False, -1, -1, [], [], error=f"{type(e).__name__}: {e}")

    report = ParityReport(
        name, True, len(s_rows), len(o_rows), s_cols, o_cols,
        spark_sec=spark_sec, oracle_sec=oracle_sec,
    )
    if sorted(s_cols) != sorted(o_cols) or len(s_rows) != len(o_rows):
        report.ok = False
    s_canon = canonical_rows(s_cols, s_rows)
    o_canon = canonical_rows(o_cols, o_rows)
    if s_canon != o_canon:
        report.ok = False
        sset, oset = set(s_canon), set(o_canon)
        only_s = [r for r in s_canon if r not in oset]
        only_o = [r for r in o_canon if r not in sset]
        for i in range(max(len(only_s), len(only_o))):
            report.mismatches.append(
                (only_s[i] if i < len(only_s) else "<none>", only_o[i] if i < len(only_o) else "<none>")
            )
    return report


def run_catalog_parity(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[ParityReport]:
    from .catalog import REGISTRY, get_queries

    from ..operators.dedup import release_caches
    from ..session import release_session_state

    get_queries()  # force module load
    reports = []
    con = duckdb_connection(sf_dir)
    try:
        for name, entry in sorted(REGISTRY.items()):
            if names and name not in names:
                continue
            if entry.oracle is None:
                continue
            try:
                report = compare(name, entry.fn(spark, sf_dir), entry.oracle, sf_dir, con=con)
            except Exception as e:  # a plan-build error fails this entry only
                report = ParityReport(name, False, -1, -1, [], [], error=f"{type(e).__name__}: {e}")
            reports.append(report)
            # near-dup builders persist shingle frames; release between
            # queries so a 78-entry sweep doesn't accumulate caches
            release_caches()
            release_session_state(spark)
    finally:
        con.close()
    return reports
