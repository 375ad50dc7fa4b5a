"""End-to-end zh back-fill against the ACID COW table format
(`plans.pipeline.run_backfill_cow`): the reference's keyed UPDATE
(OMTZHModifier.java:156-169) as a transactional lake MERGE. Asserts the
post-merge table equals the plain `backfill_table` rewrite of the same
data, that the previous version stays readable (time travel), and that
a no-op run does not burn a version.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from openmaptiles_zh_modifier_spark.operators.cow_table import (
    cow_create,
    cow_read,
)
from openmaptiles_zh_modifier_spark.operators.zh_backfill import backfill_table
from openmaptiles_zh_modifier_spark.plans.pipeline import run_backfill_cow
from tests.test_zh_backfill import LATTICE, SCHEMA, mk


def _canon(df):
    rows = df.collect()
    return sorted(
        (r.id, r.name, None if r.tags is None else sorted(r.tags.items()))
        for r in rows
    )


@pytest.fixture()
def lattice_cow(spark, tmp_path):
    root = str(tmp_path / "zh_cow")
    df = mk(spark, [Row(id=i, name=n, tags=t) for i, n, t, *_ in LATTICE])
    cow_create(spark, root, df)
    return root, df


def test_cow_backfill_matches_plain_rewrite(spark, lattice_cow):
    root, df = lattice_cow
    version, n_updated = run_backfill_cow(spark, root)
    assert version == 2
    assert n_updated == sum(1 for _i, _n, _t, upd, _hs, _ht in LATTICE if upd)
    got = cow_read(spark, root)
    want = backfill_table(df)
    assert _canon(got) == _canon(want)


def test_cow_backfill_time_travel_and_idempotence(spark, lattice_cow):
    root, df = lattice_cow
    v1_before = _canon(cow_read(spark, root))
    version, n_updated = run_backfill_cow(spark, root)
    assert (version, n_updated > 0) == (2, True)
    # the pre-merge version stays readable and unchanged
    assert _canon(cow_read(spark, root, version=1)) == v1_before
    # a second run finds nothing to update and must NOT burn a version
    version2, n2 = run_backfill_cow(spark, root)
    assert (version2, n2) == (2, 0)
    assert _canon(cow_read(spark, root)) == _canon(backfill_table(df))


def test_cow_backfill_partitioned_table(spark, tmp_path):
    """Partitioned COW tables route the rewrite by partition value; the
    back-fill source must carry the partition column (review finding)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "zh_cow_part")
    df = mk(
        spark, [Row(id=i, name=n, tags=t) for i, n, t, *_ in LATTICE]
    ).withColumn("region", (F.col("id") % 3).cast("int"))
    cow_create(spark, root, df, partition_by="region")
    version, n_updated = run_backfill_cow(spark, root)
    assert version == 2 and n_updated > 0
    got = cow_read(spark, root)
    want = backfill_table(df)
    def canon(frame):
        return sorted(
            (r.id, r.name, r.region,
             None if r.tags is None else sorted(r.tags.items()))
            for r in frame.collect()
        )
    assert canon(got) == canon(want)
    # untouched partitions' files must survive from version 1 (COW
    # granularity is the partition)
    assert cow_read(spark, root, version=1).count() == df.count()


def test_cow_backfill_merge_source_has_no_join(spark, tmp_path):
    """On a partitioned table the merge source carries the partition
    column projected from the same snapshot row as the derivation — one
    scan, no join back onto the table."""
    import unittest.mock as mock

    from pyspark.sql import functions as F

    from openmaptiles_zh_modifier_spark.operators import cow_table

    root = str(tmp_path / "zh_cow_nojoin")
    df = mk(
        spark, [Row(id=i, name=n, tags=t) for i, n, t, *_ in LATTICE]
    ).withColumn("region", (F.col("id") % 3).cast("int"))
    cow_create(spark, root, df, partition_by="region")
    real_merge = cow_table.cow_merge
    plans = []

    def capture(spark_, root_, src_, **kw):
        plans.append(src_._jdf.queryExecution().analyzed().toString())
        return real_merge(spark_, root_, src_, **kw)

    with mock.patch(
        "openmaptiles_zh_modifier_spark.operators.cow_table.cow_merge",
        side_effect=capture,
    ):
        run_backfill_cow(spark, root)
    assert len(plans) == 1
    assert "Join" not in plans[0], plans[0]


def test_cow_backfill_conflict_on_concurrent_commit(spark, lattice_cow):
    """The base_version pin: a commit that lands between the snapshot
    read and the merge publish must surface as CowConflictError, not a
    silent clobber (review finding)."""
    from pyspark.sql import functions as F

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        CowConflictError,
        cow_merge,
    )

    root, df = lattice_cow
    real_merge = cow_merge

    def racing_merge(spark_, root_, src_, **kw):
        # interleave a competing writer AFTER the snapshot was pinned
        upd = spark_.createDataFrame([(3, "競")], "id long, name string")
        real_merge(
            spark_, root_, upd, on="id",
            matched_update={"name": F.col("s.name")},
        )
        return real_merge(spark_, root_, src_, **kw)

    import unittest.mock as mock

    with mock.patch(
        "openmaptiles_zh_modifier_spark.operators.cow_table.cow_merge",
        side_effect=racing_merge,
    ):
        with pytest.raises(CowConflictError):
            run_backfill_cow(spark, root)


def test_cow_backfill_rejects_unqualified_table(spark, tmp_path):
    root = str(tmp_path / "bad_cow")
    df = spark.createDataFrame([(1, "x")], "a long, b string")
    cow_create(spark, root, df)
    with pytest.raises(ValueError, match="does not qualify"):
        run_backfill_cow(spark, root)


def test_stream_upsert_to_cow_equals_batch_latest_state(spark, sf_dir, tmp_path):
    """CDC apply: streaming per-batch MERGEs converge to exactly the
    batch latest-per-key state, one atomic version per micro-batch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_create,
        cow_history,
        cow_read,
    )
    from openmaptiles_zh_modifier_spark.plans.pipeline import (
        stream_upsert_to_cow,
    )

    root = str(tmp_path / "state")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    changes = ev.select(
        "user_id", "event_id", "event_type",
        # ntz -> ltz (session TZ is UTC) -> epoch seconds
        F.col("ts").cast("timestamp").cast("long").alias("seq"),
    )
    # seed the table with an empty-but-typed state
    cow_create(spark, root, changes.limit(0))

    # stream the change feed in several micro-batches
    src_dir = str(tmp_path / "feed")
    changes.repartition(3).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    versions = stream_upsert_to_cow(
        stream, root, on="user_id", order_by="seq",
        update_cols=["event_id", "event_type", "seq"],
        tiebreak="event_id",
    )
    assert versions and versions == sorted(versions)
    assert cow_history(root)[-1] == versions[-1]

    # batch truth: latest change per user (same (seq, user) tie-break)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("seq"), F.desc("user_id")
    )
    # the conditional (s.seq > t.seq) update makes the GLOBAL max-seq row
    # win regardless of which micro-batch carried it; the events fixture
    # has unique (user, ts) pairs, making truth unique
    truth = {
        r.user_id: r.seq
        for r in changes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    got = {r.user_id: r.seq for r in cow_read(spark, root).collect()}
    assert got == truth
