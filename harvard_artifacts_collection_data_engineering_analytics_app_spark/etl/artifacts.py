"""Artifact-domain ETL: the reference's transform/load semantics, Spark-first.

Reproduces exactly the reference's tri-state null semantics
(``harvard_artifacts_app.py:157-208``, SURVEY.md §1.2):

- missing **strings** become ``''`` (T1, :167-177)
- missing **counts** become ``0`` (T1, :186-189)
- ``accessionyear``/``datebegin``/``dateend`` stay **NULL** (:178,190,191)
- description truncated to 500 chars (T2, :175)
- colors array exploded, **first 5 kept in array order** (T3, :197-206)
- NaN/±inf sanitized to NULL on load (T4, ``clean_rows`` :226-233)
- primary-key dedup à la INSERT IGNORE (T5, :241,255,267)

All pure Catalyst expressions — codegen applies, no Python row loops
(the reference iterates rows in Python, :228). Each table is one
``selectExpr`` of SQL text: the Column API costs about a millisecond of
driver Python per expression node, the SQL parser a fraction of that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

METADATA_STRING_COLS = (
    "title",
    "culture",
    "period",
    "century",
    "medium",
    "dimensions",
    "department",
    "classification",
    "accessionmethod",
)
MEDIA_COUNT_COLS = ("imagecount", "mediacount", "colorcount", "rank")
COLOR_STRING_COLS = ("spectrum", "hue", "color", "css3")
MAX_COLORS_PER_ARTIFACT = 5  # harvard_artifacts_app.py:198
DESCRIPTION_MAX_CHARS = 500  # harvard_artifacts_app.py:175


def _str_default(c: str) -> str:
    """T1: missing string → '' (reference .get(field, ''))."""
    return f"coalesce(`{c}`, '') AS `{c}`"


def transform_metadata(raw: DataFrame) -> DataFrame:
    """Raw API records → artifactmetadata rows (T1 + T2)."""
    return raw.selectExpr(
        "id",
        *map(_str_default, METADATA_STRING_COLS[:6]),
        # T2: None-safe truncation to 500 chars (:175)
        f"substring(coalesce(description, ''), 1, {DESCRIPTION_MAX_CHARS}) AS description",
        *map(_str_default, METADATA_STRING_COLS[6:8]),
        "CAST(accessionyear AS INT) AS accessionyear",  # stays NULL when missing (:178)
        _str_default("accessionmethod"),
    )


def transform_media(raw: DataFrame) -> DataFrame:
    """Raw API records → artifactmedia rows (T1)."""
    return raw.selectExpr(
        "id AS objectid",
        # T1: missing count → 0 (reference .get(field, 0))
        *[f"CAST(coalesce(`{c}`, 0) AS INT) AS `{c}`" for c in MEDIA_COUNT_COLS],
        "CAST(datebegin AS INT) AS datebegin",  # NULL-able (:190)
        "CAST(dateend AS INT) AS dateend",  # NULL-able (:191)
    )


def transform_colors(raw: DataFrame) -> DataFrame:
    """Raw API records → artifactcolors rows (T3): the first 5 colors in
    API array order (``slice``), one row each (``inline``); a record
    without the colors key or with an empty array gives no row, matching
    the reference's `if 'colors' in artifact` (:197)."""
    fields = [f"coalesce(c.{c}, '') AS {c}" for c in COLOR_STRING_COLS[:3]]
    fields += ["coalesce(c.percent, 0D) AS percent", "coalesce(c.css3, '') AS css3"]
    return raw.selectExpr(
        "id AS objectid",
        f"inline(transform(slice(colors, 1, {MAX_COLORS_PER_ARTIFACT}), "
        f"c -> struct({', '.join(fields)})))",
    )


def sanitize_floats(df: DataFrame) -> DataFrame:
    """T4: NaN/±inf → NULL for every floating-point column (:226-233)."""
    finite = ("CASE WHEN isnan({0}) OR abs({0}) = double('Infinity') "
              "THEN NULL ELSE {0} END AS {0}")
    return df.selectExpr(*(
        finite.format(f"`{f.name}`") if f.dataType.typeName() in ("double", "float")
        else f"`{f.name}`"
        for f in df.schema.fields
    ))


def dedup_primary_key(
    df: DataFrame, key: str, existing: DataFrame | None = None
) -> DataFrame:
    """T5: INSERT IGNORE semantics (:241,255,267).

    Within-batch: keep one row per key. Cross-batch: drop keys already in
    the target table via a left-anti join (at scale: broadcast the key set
    when small, else shuffle-hash on the key — Spark/AQE picks).
    """
    out = df.dropDuplicates([key])
    if existing is not None:
        out = out.join(existing.select(key), on=key, how="left_anti")
    return out


def transform_all(raw: DataFrame) -> dict[str, DataFrame]:
    """The full E2 pipeline (harvard_artifacts_app.py:401-402). Only
    artifactcolors has a floating-point column, so only it runs T4."""
    return {
        "artifactmetadata": dedup_primary_key(transform_metadata(raw), "id"),
        "artifactmedia": dedup_primary_key(transform_media(raw), "objectid"),
        "artifactcolors": sanitize_floats(transform_colors(raw)),
    }
