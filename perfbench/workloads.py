"""The benchmark's workloads: what one pass does, how it is reset and how
its output is checked, plus the conversion-kernel probe of the traced run.

Imported only once the engine is known to be importable; importing it
loads pyspark and the engine, which counts toward the first set-up.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

import oracle
import probes
from openmaptiles_zh_modifier_spark.catalog import classify_all, discover_parquet_tables
from openmaptiles_zh_modifier_spark.operators import cow_table
from openmaptiles_zh_modifier_spark.operators.zh_backfill import derive_zh_columns
from openmaptiles_zh_modifier_spark.plans.pipeline import run_backfill, run_backfill_cow

# the cow table's columns besides its key ``id`` and ``tags``
COW_COLUMNS = ["name", "class", "rank", "region"]


def tree_bytes(path: str) -> dict[str, int]:
    """Path -> size of every file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def hash_all(df) -> int:
    """XOR of a 64-bit hash over every column (maps by their entries)."""
    cols = [
        F.map_entries(f.name) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(F.bit_xor(F.xxhash64(*cols))).collect()[0][0]


class LakeWorkload:
    """``run_backfill`` over a parquet lake, writing every qualifying table
    back under an emptied output root. Without ``out_root`` the count in
    ``run_backfill`` prunes the conversion, so nothing would be converted."""

    def __init__(self, data: str, work: str):
        self.lake = os.path.join(data, "lake")
        self.out = os.path.join(work, "out")

    def catalog(self, spark):
        tables = discover_parquet_tables(spark, self.lake)
        return tables, classify_all(tables)

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, spark, tracer) -> dict:
        report = run_backfill(spark, self.lake, out_root=self.out)
        return {
            "updated": report.total_updated,
            "rows": sum(t.n_rows for t in report.tables),
            "table_s": [t.seconds for t in report.tables],
        }

    def read_after(self, spark, tracer) -> None:
        with tracer.span("io.readback"):
            for t in sorted(os.listdir(self.out)):
                hash_all(spark.read.parquet(os.path.join(self.out, t)))

    def written(self) -> dict[str, int]:
        return tree_bytes(self.out)

    def expected(self, con, classes) -> dict:
        return {
            c.table: oracle.digest(
                con,
                oracle.expected_sql(
                    oracle.parquet(f"{self.lake}/{c.table}.parquet/*.parquet"), c.id_field
                ),
            )
            for c in classes
        }

    def actual(self, con, spark, classes, flip: bool) -> dict:
        got = {}
        for c in classes:
            path = f"{self.out}/{c.table}.parquet"
            got[c.table] = (
                oracle.digest(
                    con, oracle.actual_sql(oracle.parquet(f"{path}/*.parquet"), c.id_field), flip
                )
                if os.path.isdir(path)
                else None
            )
        return got

    def kernel_frames(self, spark, classes):
        tables, _ = self.catalog(spark)
        return [(tables[c.table], c.id_field) for c in classes]


class CowWorkload:
    """``run_backfill_cow`` on a partitioned copy-on-write table, then a
    full read of the version it committed. Before each pass the table is
    restored, untimed, to version 1, so every pass starts from the same
    state. The check covers every column of the committed version."""

    def __init__(self, data: str, work: str):
        self.source = os.path.join(data, "cow")
        self.root = os.path.join(work, "cow")
        shutil.copytree(self.source, self.root)
        with open(os.path.join(data, "manifest.json")) as f:
            self.rows = json.load(f)["qualifying_rows"]
        self.version = self.clean = 1
        self.before: dict[str, int] = {}

    def catalog(self, spark):
        tables = {"places": cow_table.cow_read(spark, self.root)}
        return tables, classify_all(tables)

    def reset(self) -> None:
        if cow_table.cow_history(self.root)[-1] != self.clean:
            self.clean = cow_table.cow_restore(self.root, 1)
        self.before = tree_bytes(self.root)

    def run(self, spark, tracer) -> dict:
        t0 = time.perf_counter()
        with tracer.span("pipeline.run_backfill_cow"):
            self.version, updated = run_backfill_cow(spark, self.root)
        t1 = time.perf_counter()
        with tracer.span("cow.read_after"):
            hash_all(cow_table.cow_read(spark, self.root, version=self.version))
        return {
            "updated": updated,
            "rows": self.rows,
            "table_s": [t1 - t0],
            "read_after_s": time.perf_counter() - t1,
        }

    def read_after(self, spark, tracer) -> None:
        pass  # part of the pass

    def written(self) -> dict[str, int]:
        return {p: s for p, s in tree_bytes(self.root).items() if p not in self.before}

    def expected(self, con, classes) -> dict:
        rel = oracle.parquet(f"{self.source}/commit-*/*/*.parquet")
        return {"places": oracle.digest(con, oracle.expected_rows_sql(rel, "id", COW_COLUMNS))}

    def actual(self, con, spark, classes, flip: bool) -> dict:
        con.register(
            "snap",
            cow_table.cow_read(spark, self.root, version=self.version)
            .select("id", *COW_COLUMNS, F.map_entries("tags").alias("tags"))
            .toArrow(),
        )
        rel = "(SELECT * REPLACE (map_from_entries(tags) AS tags) FROM snap)"
        return {"places": oracle.digest(con, oracle.actual_rows_sql(rel, "id", COW_COLUMNS), flip)}

    def kernel_frames(self, spark, classes):
        return [(cow_table.cow_read(spark, self.root, version=1), "id")]

    def committed_files(self, spark) -> int:
        return len(cow_table.cow_read(spark, self.root, version=self.version).inputFiles())


WORKLOADS = {
    "cjk_lake": LakeWorkload,
    "settled_lake": LakeWorkload,
    "cow_inplace": CowWorkload,
}


def kernel(frames, tracer, name: str) -> dict:
    """The conversion alone: hash hans/hant over exactly the rows a pass
    updates, with no write."""
    c0 = probes.tree_cpu_s()
    with tracer.span(name) as s:
        for df, key in frames:
            r = (
                derive_zh_columns(df, key)
                .where(F.col("needs_update"))
                .agg(
                    F.count(F.lit(1)),
                    F.sum(F.length("zh")),
                    F.bit_xor(F.xxhash64("hans", "hant")),
                )
                .collect()[0]
            )
            s.count("rows", r[0])
            s.count("chars", r[1] or 0)
    return {
        "s": s.duration,
        "cpu_s": probes.tree_cpu_s() - c0,
        "rows": s.counts.get("rows", 0),
        "chars": s.counts.get("chars", 0),
    }
