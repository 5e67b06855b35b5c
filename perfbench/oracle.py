"""Correctness gates, all run in DuckDB outside the timed region.

Oracle answers are cached on disk, keyed by the SQL text and the
content hash of the input files, so a repeated seed costs nothing.
"""

from __future__ import annotations

import hashlib
import pickle
from pathlib import Path

import duckdb

from financial_data_pipeline_optimization_spark.plans.finance import DEFAULT_COMPANIES

import gen


class OracleCache:
    """Query results on disk under ``root``; written and read only by
    this benchmark."""

    def __init__(self, root: Path) -> None:
        self.root = root
        root.mkdir(parents=True, exist_ok=True)

    def rows(self, con, sql: str, inputs: list[Path]) -> tuple[list[str], list[tuple]]:
        key = hashlib.sha256(
            (sql + gen.content_hash(inputs)).encode()
        ).hexdigest()
        path = self.root / f"{key}.pkl"
        if path.exists():
            return pickle.loads(path.read_bytes())
        rel = con.execute(sql)
        result = ([c[0] for c in rel.description], rel.fetchall())
        tmp = path.with_suffix(".tmp")
        tmp.write_bytes(pickle.dumps(result))
        tmp.replace(path)
        return result


def _rows(path: Path) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


# ---------------------------------------------------------------------------
# finance_etl: first arrival wins
# ---------------------------------------------------------------------------

_ROW_HASH = (
    "hash(d, y, mo, dy, q, wd, t, c, o, h, l, cl, v, dv, ss)"
)


def _projection(src: str, company: str, year: str, extra: str = "") -> str:
    return f"""
      SELECT {extra} "Date" AS d, CAST({year} AS INT) AS y,
             CAST(month("Date") AS INT) AS mo, CAST(day("Date") AS INT) AS dy,
             CAST(quarter("Date") AS INT) AS q, dayname("Date") AS wd,
             Ticker AS t, {company} AS c,
             CAST(coalesce(Open, 0) AS DOUBLE) AS o,
             CAST(coalesce(High, 0) AS DOUBLE) AS h,
             CAST(coalesce(Low, 0) AS DOUBLE) AS l,
             CAST(coalesce(Close, 0) AS DOUBLE) AS cl,
             CAST(coalesce(Volume, 0) AS BIGINT) AS v,
             CAST(coalesce(Dividends, 0) AS DOUBLE) AS dv,
             CAST(coalesce(ss, 0) AS DOUBLE) AS ss
      FROM {src}"""


def warehouse_expected(landing: list[Path]) -> tuple[int, int]:
    """(rows, order-insensitive hash) of the warehouse the landing
    files must produce: one row per (Ticker, Date), the earliest file
    in ``landing`` order winning, nulls filled as the pipeline fills
    them and Company looked up in the pipeline's company map."""
    arrivals = " UNION ALL ".join(
        f"SELECT * EXCLUDE (\"Stock Splits\"), \"Stock Splits\" AS ss, "
        f"{i} AS arrival FROM read_parquet('{p}')"
        for i, p in enumerate(landing)
    )
    dim = ", ".join(
        f"('{t}', '{c.replace(chr(39), chr(39) * 2)}')"
        for t, c in DEFAULT_COMPANIES.items()
    )
    first = (
        f"(SELECT * FROM ({arrivals}) QUALIFY row_number() OVER "
        f"(PARTITION BY Ticker, \"Date\" ORDER BY arrival) = 1) f "
        f"LEFT JOIN (VALUES {dim}) m(mt, mc) ON f.Ticker = m.mt"
    )
    sql = (
        f"SELECT count(*), sum({_ROW_HASH}) FROM ("
        + _projection(first, "coalesce(mc, 'Unknown')", 'year("Date")')
        + ")"
    )
    with duckdb.connect() as con:
        n, h = con.execute(sql).fetchone()
    return n, int(h)


def warehouse_actual(path: Path) -> tuple[int, int, int]:
    """(rows, distinct non-null ids, order-insensitive hash) of a
    written warehouse."""
    src = f"(SELECT *, stock_splits AS ss FROM {_rows(path)})"
    sql = (
        f"SELECT count(*), count(DISTINCT id), sum({_ROW_HASH}) FROM ("
        + _projection(src, "Company", "Year", extra="id,")
        + ")"
    )
    with duckdb.connect() as con:
        n, ids, h = con.execute(sql).fetchone()
    return n, ids, int(h or 0)


# ---------------------------------------------------------------------------
# curation: the registered funnel oracle's survivors
# ---------------------------------------------------------------------------


def survivors_sql(funnel_oracle: str) -> str:
    """The registered ``corpus_curation_funnel`` oracle cut after its
    ``survivors`` CTE, selecting the surviving ids."""
    start = funnel_oracle.index("survivors AS (") + len("survivors AS ")
    depth = 0
    for end in range(start, len(funnel_oracle)):
        depth += {"(": 1, ")": -1}.get(funnel_oracle[end], 0)
        if depth == 0:
            return funnel_oracle[: end + 1] + "\nSELECT doc_id FROM survivors"
    raise ValueError("corpus_curation_funnel oracle has no closed survivors CTE")


def survivor_ids(cache: OracleCache, funnel_oracle: str, docs: Path) -> set[int]:
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')"
        )
        _, rows = cache.rows(con, survivors_sql(funnel_oracle), [docs])
    return {r[0] for r in rows}


def written_ids(path: Path) -> tuple[list[int], set[str]]:
    with duckdb.connect() as con:
        ids = [r[0] for r in con.execute(f"SELECT doc_id FROM {_rows(path)}").fetchall()]
        splits = {r[0] for r in con.execute(f"SELECT DISTINCT split FROM {_rows(path)}").fetchall()}
    return ids, splits


# ---------------------------------------------------------------------------
# query_mix: registered oracles over the mix tables
# ---------------------------------------------------------------------------


def query_rows(
    cache: OracleCache, sql: str, sf_dir: Path
) -> tuple[list[str], list[tuple]]:
    tables = sorted(sf_dir.glob("*.parquet"))
    with duckdb.connect() as con:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')"
            )
        return cache.rows(con, sql, tables)
