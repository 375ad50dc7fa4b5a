"""DuckDB oracle for the back-fill's output.

The expected ``(key, zh-Hans, zh-Hant)`` of every row is derived from the
generated input with the engine's DuckDB twins of the conversion
(``to_simplified_sql`` / ``to_traditional_sql``) and the reference's
qualification rules; the output is reduced to the same triple. For an
in-place back-fill the whole row is checked as well: the other columns
unchanged, and the tags map the input's with the two zh keys set on the
rows that needed them, compared as entries sorted by key. Both sides are
compared as (row count, sum of row hashes) per table.

``flip=True`` changes one output value before hashing: the negative
control that shows a single wrong value fails the check.
"""

from __future__ import annotations

import duckdb

from openmaptiles_zh_modifier_spark.functions.zh import (
    HAN_REGEX_RE2,
    to_simplified_sql,
    to_traditional_sql,
)

HANS = "name:zh-Hans"
HANT = "name:zh-Hant"


def _tag(key: str) -> str:
    return f"map_extract(tags, '{key}')[1]"


def _expected(relation: str, key: str) -> str:
    """Every column of ``relation`` (a DuckDB table expression with
    ``name`` and ``tags``) plus the row's key ``k``, whether the back-fill
    must update it (``upd``) and the ``hans`` / ``hant`` it must leave."""
    zh = (
        f"coalesce({_tag('name:zh')}, CASE WHEN name <> '' AND "
        f"regexp_matches(name, '{HAN_REGEX_RE2}') THEN name END)"
    )
    return f"""
    WITH base AS (
        SELECT *, {key} AS k, {zh} AS zh,
               {_tag('name:zh')} AS zh_tag,
               {_tag(HANS)} AS hans_raw, {_tag(HANT)} AS hant_raw
        FROM {relation}
    ), flagged AS (
        SELECT *, nullif(hans_raw, '') AS hans_old,
               nullif(hant_raw, '') AS hant_old,
               (name IS NOT NULL OR zh_tag IS NOT NULL)
               AND (hans_raw IS NULL OR hant_raw IS NULL)
               AND zh IS NOT NULL AS upd
        FROM base
    )
    SELECT *,
           CASE WHEN upd THEN coalesce(hans_old, {to_simplified_sql('zh')})
                ELSE hans_raw END AS hans,
           CASE WHEN upd THEN coalesce(hant_old, {to_traditional_sql('zh')})
                ELSE hant_raw END AS hant
    FROM flagged
    """


def _entries(tags: str) -> str:
    """A map's entries as ``[key, value]`` pairs sorted by key."""
    return f"list_sort(list_transform(map_entries({tags}), e -> [e.key, e.value]))"


def expected_sql(relation: str, key: str) -> str:
    """(k, hans, hant) the back-fill must leave in each row of ``relation``."""
    return f"SELECT k, hans, hant FROM ({_expected(relation, key)})"


def actual_sql(relation: str, key: str) -> str:
    return f"SELECT {key} AS k, {_tag(HANS)} AS hans, {_tag(HANT)} AS hant FROM {relation}"


def expected_rows_sql(relation: str, key: str, columns: list[str]) -> str:
    """(k, hans, hant, *columns, tags) an in-place back-fill must leave:
    ``columns`` as in the input, and on the rows it updates the input's
    tags with both zh keys set (an existing value is overwritten)."""
    merged = (
        "CASE WHEN upd THEN map_concat(coalesce(tags, MAP {}::MAP(VARCHAR, VARCHAR)), "
        f"MAP {{'{HANS}': hans, '{HANT}': hant}}) ELSE tags END"
    )
    cols = "".join(f'"{c}", ' for c in columns)
    return f"SELECT k, hans, hant, {cols}{_entries(merged)} AS tags FROM ({_expected(relation, key)})"


def actual_rows_sql(relation: str, key: str, columns: list[str]) -> str:
    cols = "".join(f'"{c}", ' for c in columns)
    return (
        f"SELECT {key} AS k, {_tag(HANS)} AS hans, {_tag(HANT)} AS hant, "
        f"{cols}{_entries('tags')} AS tags FROM {relation}"
    )


def digest(con: duckdb.DuckDBPyConnection, rows_sql: str, flip: bool = False) -> tuple[int, int]:
    """(rows, sum of row hashes) over a query whose rows start with
    (k, hans, hant)."""
    if flip:
        rows_sql = f"""
        SELECT * REPLACE (CASE WHEN k = (SELECT min(k) FROM ({rows_sql}))
                          THEN coalesce(hans, '') || '*' ELSE hans END AS hans)
        FROM ({rows_sql})
        """
    rows, h = con.sql(f"SELECT count(*), sum(hash(r)) FROM ({rows_sql}) r").fetchone()
    return int(rows), int(h or 0)


def parquet(path_glob: str) -> str:
    return f"read_parquet('{path_glob}')"
