"""Correctness checks for every timed operation.

- Registered queries and the 13 deterministic reference templates are
  compared exactly and order-insensitively with the repository's oracle
  rules (``tests/oracle_harness.compare``).
- The 7 reference templates whose LIMIT makes row identity engine-dependent
  get ``compare_limited``: the right row count, every row drawn from the
  unlimited oracle result, and for ORDER BY templates the oracle's key
  sequence.
- Warehouse loads are compared with ``expected_tables``, the reference's
  transform (T1-T5) applied in plain Python to the distinct union of the
  records delivered so far.
"""

from __future__ import annotations

import math
import os
import re
from collections import Counter

import duckdb
import pandas as pd

from tests.oracle_harness import compare

from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
    artifact_templates as AT,
)

ARTIFACT_TABLES = ("artifactmetadata", "artifactmedia", "artifactcolors")
METADATA_STRINGS = ("title", "culture", "period", "century", "medium", "dimensions")
METADATA_TAIL = ("department", "classification")
MEDIA_COUNTS = ("imagecount", "mediacount", "colorcount", "rank")
COLOR_STRINGS = ("spectrum", "hue", "color")
_LIMIT = re.compile(r"\s+LIMIT\s+(\d+)\s*$", re.IGNORECASE)
_ORDER = re.compile(r"ORDER BY\s+(\w+)", re.IGNORECASE)


def _cell(v):
    """Normalise a cell for multiset comparison: NULL/NaN -> None, floats to
    9 significant digits (the oracle harness's tolerance), numpy -> Python."""
    if v is None:
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return float(f"{v:.9g}")
    return v


def rows(df: pd.DataFrame, cols: list[str] | None = None) -> list[tuple]:
    cols = cols or sorted(df.columns)
    return [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]


def compare_limited(got: pd.DataFrame, unlimited: pd.DataFrame, limit: int,
                    order_key: str | None) -> list[str]:
    """LIMIT-aware check against the oracle result without its LIMIT."""
    if sorted(got.columns) != sorted(unlimited.columns):
        return [f"columns: got={sorted(got.columns)} oracle={sorted(unlimited.columns)}"]
    want = min(limit, len(unlimited))
    if len(got) != want:
        return [f"row count: got={len(got)} want=min({limit}, {len(unlimited)})={want}"]
    pool = Counter(rows(unlimited))
    for r in rows(got):
        if pool[r] <= 0:
            return [f"row not in the unlimited oracle result: {r}"]
        pool[r] -= 1
    if order_key is not None:
        got_keys = [r[0] for r in rows(got, [order_key])]
        want_keys = [r[0] for r in rows(unlimited, [order_key])][:want]
        if got_keys != want_keys:
            return [f"{order_key} sequence: got={got_keys} oracle={want_keys}"]
    return []


def store_connection(workdir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the parquet tables ``app.insert`` wrote."""
    con = duckdb.connect()
    for t in ARTIFACT_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(workdir, t)}/*.parquet')")
    return con


class TemplateOracle:
    """Oracle results for the 20 reference templates over one store,
    computed on first use and cached, always outside the timed region."""

    def __init__(self, workdir: str) -> None:
        self.workdir = workdir
        self._cache: dict[str, pd.DataFrame] = {}

    def check(self, name: str, got: pd.DataFrame) -> list[str]:
        sql = AT.duckdb_sql(name)
        limited = name in AT.NONDETERMINISTIC_LIMIT
        if limited:
            m = _LIMIT.search(sql)
            sql = sql[:m.start()]
        if name not in self._cache:
            with store_connection(self.workdir) as con:
                self._cache[name] = con.execute(sql).fetch_df()
        want = self._cache[name]
        if not limited:
            return compare(got, want)
        key = _ORDER.search(sql)
        return compare_limited(got, want, int(m.group(1)), key.group(1) if key else None)


def _s(v) -> str:
    return "" if v is None else v


def _n(v) -> int:
    return 0 if v is None else v


def _finite(v):
    return None if v is None or math.isnan(v) or math.isinf(v) else float(v)


def expected_tables(records: list[dict]) -> dict[str, list[tuple]]:
    """T1-T5 outside Spark: the rows each table must hold after loading
    ``records`` (first delivery of an id wins, as INSERT IGNORE keeps it)."""
    seen: dict[int, dict] = {}
    for r in records:
        seen.setdefault(r["id"], r)
    meta, media, colors = [], [], []
    for i, r in seen.items():
        acc = r.get("accessionyear")
        meta.append((i, *(_s(r.get(c)) for c in METADATA_STRINGS),
                     _s(r.get("description"))[:500],
                     *(_s(r.get(c)) for c in METADATA_TAIL),
                     acc, _s(r.get("accessionmethod"))))
        media.append((i, *(_n(r.get(c)) for c in MEDIA_COUNTS),
                      r.get("datebegin"), r.get("dateend")))
        for c in (r.get("colors") or [])[:5]:
            pct = c.get("percent")
            colors.append((i, *(_s(c.get(k)) for k in COLOR_STRINGS),
                           _finite(0.0 if pct is None else pct), _s(c.get("css3"))))
    return {"artifactmetadata": meta, "artifactmedia": media, "artifactcolors": colors}


TABLE_COLUMNS = {
    "artifactmetadata": ["id", *METADATA_STRINGS, "description", *METADATA_TAIL,
                         "accessionyear", "accessionmethod"],
    "artifactmedia": ["objectid", *MEDIA_COUNTS, "datebegin", "dateend"],
    "artifactcolors": ["objectid", *COLOR_STRINGS, "percent", "css3"],
}


def check_store(workdir: str, expected: dict[str, list[tuple]]) -> list[str]:
    """Compare each stored table with its expected rows, as multisets."""
    errs = []
    with store_connection(workdir) as con:
        for t, cols in TABLE_COLUMNS.items():
            got = Counter(rows(con.execute(f"SELECT * FROM {t}").fetch_df(), cols))
            want = Counter(tuple(_cell(v) for v in r) for r in expected[t])
            if got != want:
                missing, extra = sum((want - got).values()), sum((got - want).values())
                ids = sorted({r[0] for r in (want - got)})
                errs.append(f"{t}: {missing} expected rows missing, {extra} unexpected "
                            f"(missing ids {ids[:1]}..{ids[-1:]})")
    return errs
