"""The zh-Hans / zh-Hant back-fill pipeline — the reference's one real query.

Semantics re-expressed from OMTZHModifier.java (SURVEY.md §2/§3):

  scan → project(P1) → filter(P2 server + P4 residual) → normalize(P5)
       → derive(F5 coalesce cascade) → changed-rows(F6) → write-back(F7/S5)

as ONE lazy DataFrame plan per table. The row rule is written once, in
:func:`zh_derivation`; every write-back form is a ``where``/``select``
over its expressions. The reference's manual id-range
batching loop (OMTZHModifier.java:130-137) disappears: file splits / JDBC
partitioning replace it, and the whole derivation is a shuffle-free,
map-side-only transform — at 100 TB this runs as a single stage of
whole-stage-codegen tasks with zero exchange.

Behavioral quirk B1 (SURVEY.md §2.10): the reference's SELECT reads the
existing Hant value from the misspelled key ``names:zh-Hant``
(OMTZHModifier.java:135-136) while its WHERE and UPDATE use the correct
``name:zh-Hant`` — so an existing Hant value is effectively never seen and
gets regenerated whenever the row qualifies. ``compat_names_typo=True``
reproduces that faithfully; the default implements the evident intent.

Quirk B7 (verified against OMTZHModifier.java:138 + :220-225): the
server-side WHERE tests the RAW hstore values with ``IS NULL``, while the
empty-string→missing normalization happens client-side only for rows that
already passed. Consequence: a row whose hans and hant are BOTH ``''``
never qualifies and is never updated; a row with one ``''`` and one NULL
qualifies (via the NULL) and then has both regenerated. We reproduce this
exactly in both compat modes — the filter uses raw ``isNull()``, the
derivation normalizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.functions.zh import (
    CURATED,
    is_han,
    nullif_empty,
    opencc_tables_from_env,
    to_simplified,
    to_traditional,
)


KEY_ZH = "name:zh"
KEY_HANS = "name:zh-Hans"
KEY_HANT = "name:zh-Hant"
KEY_HANT_TYPO = "names:zh-Hant"  # B1: the reference's misspelled read key


def zh_derivation(compat_names_typo: bool = False, tables=None) -> dict[str, Column]:
    """The back-fill row rule, written once, as named column expressions
    over ``(name, tags)``. Every write-back form is a ``where``/``select``
    over these:

    - ``candidate``: passes the server-side WHERE and has a zh source
    - ``update``: a candidate whose hans or hant is missing (F6)
    - ``zh``, ``hans_old``, ``hant_old``: the P4 source and P5-normalized
      existing values
    - ``hans``, ``hant``: the F5 coalesce cascade
    - ``needs_update``: the F6 changed-row flag
    - ``new_tags``: the F7 post-update tags map

    ``tables`` (or env ``SPARK_GRAFT_OPENCC_DIR``, resolved here) swaps
    in ingested OpenCC dictionaries; ``CURATED`` pins the curated tables
    whatever the environment says.
    """
    if tables is CURATED:
        tables = None
    elif tables is None:
        tables = opencc_tables_from_env()
    name = F.col("name")
    tags = F.col("tags")

    # P2 server-side WHERE (OMTZHModifier.java:137-138): some name source
    # AND a zh variant missing. Raw IS NULL (B7) and the CORRECT keys even
    # in typo mode: only the reference's SELECT is misspelled.
    qualifies = (name.isNotNull() | tags[KEY_ZH].isNotNull()) & (
        tags[KEY_HANT].isNull() | tags[KEY_HANS].isNull()
    )
    # P4 residual: zh source = tags['name:zh'], else name when it is a
    # non-empty Han-script string (:209-218).
    name_usable = name.isNotNull() & (name != F.lit("")) & is_han(name)
    zh = F.coalesce(tags[KEY_ZH], F.when(name_usable, name))
    # P5: '' and NULL are the same "missing" state (:220-225).
    hans_old = nullif_empty(tags[KEY_HANS])
    hant_old = nullif_empty(
        tags[KEY_HANT_TYPO if compat_names_typo else KEY_HANT]
    )
    # F5 coalesce cascade (:227-235) + F6 changed-row flag (:207,237-244).
    hans = F.coalesce(hans_old, to_simplified(zh, tables))
    hant = F.coalesce(hant_old, to_traditional(zh, tables))
    needs_update = hans_old.isNull() | hant_old.isNull()
    candidate = qualifies & zh.isNotNull()
    # F7: hstore ``||`` is map_concat under LAST_WIN (right operand wins).
    new_tags = F.map_concat(
        F.coalesce(tags, F.create_map().cast("map<string,string>")),
        F.create_map(F.lit(KEY_HANS), hans, F.lit(KEY_HANT), hant),
    )
    return {
        "candidate": candidate,
        "update": candidate & needs_update,
        "zh": zh,
        "hans_old": hans_old,
        "hant_old": hant_old,
        "hans": hans,
        "hant": hant,
        "needs_update": needs_update,
        "new_tags": new_tags,
    }


def derive_zh_columns(
    df: DataFrame,
    id_field: str = "id",
    compat_names_typo: bool = False,
    tables=None,
) -> DataFrame:
    """Project + filter + derive. Returns
    ``(id_field, name, zh, hans_old, hant_old, hans, hant, needs_update)``
    for rows that pass the server-side filter AND have a usable zh source.

    Pure column expressions — Catalyst pushes the filter into the scan and
    prunes the projection to exactly (id_field, name, tags).
    """
    d = zh_derivation(compat_names_typo, tables)
    cols = ("zh", "hans_old", "hant_old", "hans", "hant", "needs_update")
    return df.where(d["candidate"]).select(
        F.col(id_field), F.col("name"), *(d[c].alias(c) for c in cols)
    )


def updates_frame(
    df: DataFrame,
    id_field: str = "id",
    compat_names_typo: bool = False,
    tables=None,
) -> DataFrame:
    """The changed-rows frame ``(id_field, hans, hant)`` — the engine's
    equivalent of the reference's List<ChineseValues> per batch
    (OMTZHModifier.java:140-152), but computed distributed and lazy."""
    d = zh_derivation(compat_names_typo, tables)
    return df.where(d["update"]).select(
        F.col(id_field), d["hans"].alias("hans"), d["hant"].alias("hant")
    )


def updates_frame_with_tags(
    df: DataFrame,
    id_field: str = "id",
    compat_names_typo: bool = False,
    tables=None,
) -> DataFrame:
    """Changed-rows frame ``(id_field, hans, hant, new_tags_map)`` in ONE
    projection over ONE scan — for sinks that must write the full
    post-update tags value (the JDBC staging path). Deliberately NOT a
    join of :func:`updates_frame` back onto the source: over a live JDBC
    source, two scans are two snapshots, and pairing hans/hant from one
    snapshot with tags from another silently loses concurrent writes."""
    d = zh_derivation(compat_names_typo, tables)
    return df.where(d["update"]).select(
        F.col(id_field),
        d["hans"].alias("hans"),
        d["hant"].alias("hant"),
        d["new_tags"].alias("new_tags_map"),
    )


def backfill_table(
    df: DataFrame,
    id_field: str = "id",
    compat_names_typo: bool = False,
    tables=None,
) -> DataFrame:
    """Full-table rewrite form of the write-back (S5 option b): ``tags``
    becomes the F7 post-update map where the row updates, and every other
    row and column passes through untouched. NO JOIN and NO SHUFFLE: the
    update is recomputed where it applies, which at lake scale beats
    materializing an updates frame and joining it back.
    """
    d = zh_derivation(compat_names_typo, tables)
    return df.withColumn(
        "tags", F.when(d["update"], d["new_tags"]).otherwise(F.col("tags"))
    )
