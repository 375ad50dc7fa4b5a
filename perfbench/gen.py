"""Seeded input generator for the back-fill benchmark (pyarrow + numpy only).

Usage::

    python3 perfbench/gen.py --workload cjk_lake --seed 1 --out DIR

Writes the workload's parquet tables under ``DIR/lake`` and a
``DIR/manifest.json`` that records the stated input size: rows per table,
Han fraction, back-log fraction and file counts. The same (workload, seed,
GEN_VERSION) always gives byte-identical tables, so the runner caches the
output directory under that key. This module never imports the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import vocab

GEN_VERSION = 1

HANS = "name:zh-Hans"
HANT = "name:zh-Hant"
ZH = "name:zh"
EN = "name:en"

# Per-workload shape. ``tables`` lists (name, key columns, has name column);
# ``done`` is the share of Han-named rows that already carry both zh keys.
WORKLOADS = {
    "cjk_lake": {
        "tables": [
            ("place", ("id",), True),
            ("poi", ("osm_id",), True),
            ("transportation_name", ("id", "osm_id"), True),
            ("water", ("id",), False),
        ],
        "rows": 2000,
        "files": 8,
        "han": 0.70,
        "done": 0.14,
    },
    "settled_lake": {
        "tables": [
            (
                f"layer_{i:02d}",
                ("id",) if i % 3 else ("osm_id",),
                i % 3 != 2,
            )
            for i in range(6)
        ],
        "rows": 3000,
        "files": 2,
        "han": 0.70,
        "done": 0.996,
    },
    "cow_inplace": {
        "tables": [("places", ("id",), True)],
        "rows": 60_000,
        "regions": 32,
        "backlog_regions": 6,
        "backlog": 0.02,
        "han": 0.70,
    },
}


def _han_pool(rng: np.random.Generator, size: int) -> np.ndarray:
    """Han names of 2-6 tokens mixing Traditional-only, Simplified-only and
    neutral characters with phrase-table words of both directions."""
    kinds = rng.choice(5, size=(size, 6), p=[0.3, 0.3, 0.25, 0.075, 0.075])
    lengths = rng.integers(2, 7, size=size)
    picks = rng.integers(0, 1 << 30, size=(size, 6))
    sources = (
        vocab.TRAD_CHARS,
        vocab.SIMP_CHARS,
        vocab.NEUTRAL_CHARS,
        vocab.TRAD_WORDS,
        vocab.SIMP_WORDS,
    )
    out = []
    for i in range(size):
        out.append(
            "".join(
                sources[k][p % len(sources[k])]
                for k, p in zip(kinds[i, : lengths[i]], picks[i, : lengths[i]])
            )
        )
    return np.array(out, dtype=object)


def _latin_pool(rng: np.random.Generator, size: int) -> np.ndarray:
    words = vocab.LATIN_WORDS
    a = rng.integers(0, len(words), size=size)
    b = rng.integers(0, len(words), size=size)
    n = rng.integers(1, 200, size=size)
    return np.array(
        [f"{words[x]} {words[y]} {k}" for x, y, k in zip(a, b, n)], dtype=object
    )


def _tags(
    rng: np.random.Generator,
    names: np.ndarray,
    is_han: np.ndarray,
    todo: np.ndarray,
    han_pool: np.ndarray,
    latin_pool: np.ndarray,
) -> tuple[pa.Array, dict]:
    """tags map per row. Han rows in ``todo`` lack at least one zh key;
    the other Han rows carry both. A few ``todo`` rows hold exactly one
    key, half of those as '' (one '' and one missing key still qualifies,
    and both keys are regenerated). Some rows carry ``name:zh``, which
    then is the conversion source; a few Latin-named rows have null tags."""
    n = len(names)
    done = is_han & ~todo
    has_en = ~is_han | (rng.random(n) < 0.2)
    has_zh = is_han & (rng.random(n) < 0.15)
    half = todo & (rng.random(n) < 0.05)
    coin = rng.random(n) < 0.5
    has_hans = done | half & coin
    has_hant = done | half & ~coin
    empty = half & (rng.random(n) < 0.5)
    null_tags = ~is_han & (rng.random(n) < 0.005)

    en_val = latin_pool[rng.integers(0, len(latin_pool), size=n)]
    zh_val = han_pool[rng.integers(0, len(han_pool), size=n)]
    hans_val = han_pool[rng.integers(0, len(han_pool), size=n)]
    hant_val = han_pool[rng.integers(0, len(han_pool), size=n)]

    present = np.stack([has_en, has_zh, has_hans, has_hant], axis=1)
    present[null_tags] = False
    keys = np.array([EN, ZH, HANS, HANT], dtype=object)
    vals = np.stack(
        [
            en_val,
            zh_val,
            np.where(empty, "", hans_val),
            np.where(empty, "", hant_val),
        ],
        axis=1,
    )
    counts = present.sum(axis=1)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    flat_keys = np.broadcast_to(keys, present.shape)[present]
    flat_vals = vals[present]
    # a null offset marks its row's map null
    tags = pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32(), mask=np.append(null_tags, False)),
        pa.array(flat_keys, pa.string()),
        pa.array(flat_vals, pa.string()),
    )
    return tags, {"with_zh_tag": int(has_zh.sum()), "null_tags": int(null_tags.sum())}


def _table(
    rng: np.random.Generator,
    n: int,
    keys: tuple[str, ...],
    has_name: bool,
    key_base: int,
    han: float,
    todo_share: float | np.ndarray,
    han_pool: np.ndarray,
    latin_pool: np.ndarray,
) -> tuple[pa.Table, dict]:
    is_han = rng.random(n) < han
    todo = is_han & (rng.random(n) < todo_share)
    names = np.where(
        is_han,
        han_pool[rng.integers(0, len(han_pool), size=n)],
        latin_pool[rng.integers(0, len(latin_pool), size=n)],
    )
    tags, tag_stats = _tags(rng, names, is_han, todo, han_pool, latin_pool)
    cols: dict[str, pa.Array] = {}
    ids = key_base + rng.permutation(n).astype(np.int64)
    for i, k in enumerate(keys):
        cols[k] = pa.array(ids + i * 10_000_000_000, pa.int64())
    if has_name:
        cols["name"] = pa.array(names, pa.string())
    cols["tags"] = tags
    cols["class"] = pa.array(
        np.array(["road", "village", "park", "shop", "lake"], dtype=object)[
            rng.integers(0, 5, size=n)
        ],
        pa.string(),
    )
    cols["rank"] = pa.array(rng.integers(0, 20, size=n).astype(np.int32))
    stats = {
        "rows": n,
        "han_rows": int(is_han.sum()),
        "backlog_rows": int(todo.sum()) if has_name else 0,
        **tag_stats,
    }
    return pa.table(cols), stats


def _write(table: pa.Table, path: str, files: int) -> int:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )
    return files


_SPARK_TYPES = {
    pa.int64(): "long",
    pa.int32(): "integer",
    pa.string(): "string",
}


def _spark_schema_json(schema: pa.Schema) -> str:
    fields = []
    for f in schema:
        if pa.types.is_map(f.type):
            t = {
                "type": "map",
                "keyType": "string",
                "valueType": "string",
                "valueContainsNull": True,
            }
        else:
            t = _SPARK_TYPES[f.type]
        fields.append({"name": f.name, "type": t, "nullable": True, "metadata": {}})
    return json.dumps({"type": "struct", "fields": fields})


def _write_cow(table: pa.Table, root: str, part_col: str) -> int:
    """Version 1 of a copy-on-write table (the engine's
    ``operators.cow_table`` layout): one data file per partition under a
    commit directory, listed by ``_manifests/v0000000001.json``."""
    commit = "commit-000000000001"
    col = table.column(part_col).to_numpy(zero_copy_only=False)
    files = []
    for value in sorted(set(col)):
        rel = os.path.join(commit, f"__cow_pv={value}", "part-00000.parquet")
        os.makedirs(os.path.join(root, os.path.dirname(rel)))
        pq.write_table(
            table.filter(pa.array(col == value)), os.path.join(root, rel)
        )
        files.append({"path": rel, "partition": str(value)})
    os.makedirs(os.path.join(root, "_manifests"))
    manifest = {
        "version": 1,
        "partition_by": part_col,
        "files": files,
        "schema": _spark_schema_json(table.schema),
        "commit_ts": 0.0,
    }
    with open(os.path.join(root, "_manifests", "v0000000001.json"), "w") as f:
        json.dump(manifest, f)
    return len(files)


def generate(workload: str, seed: int, out: str) -> dict:
    spec = WORKLOADS[workload]
    rng = np.random.default_rng([GEN_VERSION, seed, sorted(WORKLOADS).index(workload)])
    han_pool = _han_pool(rng, 6000)
    latin_pool = _latin_pool(rng, 1000)
    lake = os.path.join(out, "lake")
    tables = {}
    for t, (name, keys, has_name) in enumerate(spec["tables"]):
        n = spec["rows"]
        if workload == "cow_inplace":
            region = rng.integers(0, spec["regions"], size=n)
            backlog_regions = rng.choice(
                spec["regions"], size=spec["backlog_regions"], replace=False
            )
            in_backlog = np.isin(region, backlog_regions)
            # the whole back-log sits in the chosen regions
            share = spec["backlog"] * n / max(1, in_backlog.sum()) / spec["han"]
            todo_share = np.where(in_backlog, share, 0.0)
        else:
            todo_share = 1.0 - spec["done"]
        table, stats = _table(
            rng, n, keys, has_name, t * 1_000_000, spec["han"], todo_share,
            han_pool, latin_pool,
        )
        if workload == "cow_inplace":
            table = table.append_column(
                "region",
                pa.array([f"r{r:02d}" for r in region], pa.string()),
            )
            stats["backlog_regions"] = sorted(f"r{r:02d}" for r in backlog_regions)
        if workload == "cow_inplace":
            stats["files"] = _write_cow(table, os.path.join(out, "cow"), "region")
        else:
            stats["files"] = _write(
                table, os.path.join(lake, f"{name}.parquet"), spec["files"]
            )
        stats["qualifies"] = has_name
        tables[name] = stats
    qual = [s for s in tables.values() if s["qualifies"]]
    rows = sum(s["rows"] for s in qual)
    manifest = {
        "workload": workload,
        "seed": seed,
        "gen_version": GEN_VERSION,
        "tables": tables,
        "qualifying_tables": len(qual),
        "qualifying_rows": rows,
        "han_fraction": round(sum(s["han_rows"] for s in qual) / rows, 4),
        "backlog_fraction": round(sum(s["backlog_rows"] for s in qual) / rows, 4),
        "files": sum(s["files"] for s in tables.values()),
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(a.workload, a.seed, tmp)
    os.replace(tmp, a.out)


if __name__ == "__main__":
    main()
