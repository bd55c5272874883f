"""Local differential-oracle harness.

Mirrors the driver's t2 check (SURVEY.md §5.2.1): run the Spark query
and the DuckDB oracle SQL on the same parquet tables, compare
row-count + column names + order-insensitive canonicalized values.
Strict on purpose — anything that fails here would fail the driver.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb
import numpy as np
import pandas as pd

from systematic_review_classification_spark.sources.tables import TABLES

NULL = "␀NULL"


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def plan_of(df, mode: str = "formatted") -> str:
    """The physical plan as ``df.explain(mode)`` prints it."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _norm_cell(v):
    if v is None:
        return NULL
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return NULL
        return repr(f)
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return NULL
        return v.isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return NULL
    except (TypeError, ValueError):
        pass
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    df = df[sorted(df.columns)]
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, key: str = "?") -> None:
    sp = spark_df.toPandas()
    du = con.execute(sql).df()
    assert sorted(sp.columns) == sorted(du.columns), (
        f"[{key}] column mismatch: spark={sorted(sp.columns)} duckdb={sorted(du.columns)}"
    )
    assert len(sp) == len(du), f"[{key}] row count: spark={len(sp)} duckdb={len(du)}"
    srows, drows = canonical_rows(sp), canonical_rows(du)
    if srows != drows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b
        ][:5]
        cols = sorted(sp.columns)
        msg = "\n".join(
            f"  row {i}:\n    spark : {dict(zip(cols, a))}\n    duckdb: {dict(zip(cols, b))}"
            for i, a, b in diffs
        )
        raise AssertionError(f"[{key}] value mismatch ({len(diffs)}+ rows differ):\n{msg}")


def run_world(
    spark, world_dir: str, tables, excluded, duck_casts=None
) -> list[tuple[str, str]]:
    """World-sweep runner shared by the tests/test_*_world.py tier.

    Runs EVERY registered key against the world's parquet tables and
    returns the list of (key, failure) pairs — empty means the whole
    registry survives the world. Oracled keys compare both engines;
    rows-only keys (approx / seeded ML / streaming — no oracle by
    design) run in survive-don't-abort mode: the Spark side must fully
    evaluate without raising, because the NaN world proved a green
    fixture does not prove abort-safety (8 oracled keys aborted on
    ANSI CAST(NaN AS BIGINT) before round 6; the rows-only keys had
    never been priced at all until round 7). One pass prices the full
    registry per pathological dataset; each world test owns only its
    fixture rows and its documented exclusions.

    ``duck_casts`` — optional {table: {column: DUCK_TYPE}} applied to
    the oracle views via SELECT * REPLACE, mirroring the ingest-time
    width normalization the engine's ``load()`` performs (schema-drift
    world): the driver's own corpus is canonical, so its plain views
    and the engine agree without casts; a drifted world must present
    BOTH engines the same widened logical types.
    """
    import duckdb as _duckdb

    from systematic_review_classification_spark import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    con = _duckdb.connect()
    for t in tables:
        casts = (duck_casts or {}).get(t)
        proj = "*"
        if casts:
            # Quote identifiers so a column name that collides with a
            # reserved word (or ever carries odd characters) produces
            # valid SQL instead of a confusing parse error.
            repl = ", ".join(
                f'CAST("{c}" AS {ty}) AS "{c}"' for c, ty in casts.items()
            )
            proj = f"* REPLACE ({repl})"
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT {proj} FROM read_parquet('{world_dir}/{t}.parquet/*.parquet')"
        )
    fails: list[tuple[str, str]] = []
    try:
        for key in queries:
            if key in excluded:
                continue
            if key not in oracles:
                try:
                    queries[key](spark, world_dir).toPandas()
                except Exception as e:  # noqa: BLE001 — collect every failure
                    fails.append(
                        (key, "SPARK rows-only: " + str(e).split("\n")[0][:120])
                    )
                continue
            try:
                sp = canonical_rows(queries[key](spark, world_dir).toPandas())
            except Exception as e:  # noqa: BLE001 — collect every failure
                fails.append((key, "SPARK: " + str(e).split("\n")[0][:120]))
                continue
            try:
                du = canonical_rows(con.execute(oracles[key]).df())
            except Exception as e:  # noqa: BLE001
                fails.append((key, "ORACLE: " + str(e).split("\n")[0][:120]))
                continue
            if sp != du:
                fails.append((key, f"MISMATCH sp={sp[:2]} du={du[:2]}"))
    finally:
        con.close()
    return fails
