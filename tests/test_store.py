"""The store fold contract (io/store.py): the stamp is a catalog table
property (readable on an empty store), a merging fold under another
stamp refuses, a replacing fold needs no check, and compaction keeps
the stamp and the bucket spec even with orphaned staging directories
left by a crashed write."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from dataframes_spark.io.bucketed import compact_store
from dataframes_spark.io.store import (
    _bucket_spec,
    compact_swap_store,
    drop_table_and_location,
    fold_store,
    store_stamp,
)


def _sum_merge(old, new):
    return old.unionByName(new).groupBy("k").agg(F.sum("n").alias("n"))


def test_fold_stamp_refusal_and_replace(spark):
    t = f"store_contract_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    stamp = {"by": ["k"], "width": 3}
    empty = spark.createDataFrame([], "k long, n long")
    assert fold_store(spark, t, empty, merge=_sum_merge, stamp=stamp) is None
    # the stamp is readable on an EMPTY store: it is not a row
    assert spark.table(t).count() == 0
    assert store_stamp(spark, t) == stamp
    batch = spark.createDataFrame([(1, 2), (2, 5)], "k long, n long")
    fold_store(spark, t, batch, merge=_sum_merge, stamp=dict(stamp))
    fold_store(spark, t, batch, merge=_sum_merge, stamp=stamp)
    assert sorted(map(tuple, spark.table(t).collect())) == [(1, 4), (2, 10)]
    with pytest.raises(ValueError, match="refusing to fold"):
        fold_store(spark, t, batch, merge=_sum_merge, stamp={"by": ["k"]})
    with pytest.raises(ValueError, match="refusing to fold"):
        fold_store(spark, t, batch, merge=_sum_merge)
    # a replacing fold keeps nothing of the old store: new rows, new stamp
    fold_store(spark, t, batch, stamp={"v": 2})
    assert sorted(map(tuple, spark.table(t).collect())) == [(1, 2), (2, 5)]
    assert store_stamp(spark, t) == {"v": 2}
    fold_store(spark, t, batch)
    with pytest.raises(ValueError, match="carries no stamp"):
        store_stamp(spark, t)
    spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("compact", ["swap", "bucketed"])
def test_compaction_keeps_stamp_and_bucket_spec_past_orphans(spark, compact):
    t = f"store_compact_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    stamp = {"k": 7}
    batch = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("n")
    )
    for part in range(4):
        fold_store(
            spark, t, batch.filter(F.col("k") % 4 == part).repartition(3),
            merge=lambda old, new: old.unionByName(new),
            stamp=stamp, bucket_by="k", num_buckets=4,
        )
    before = sorted(map(tuple, spark.table(t).collect()))
    # crashed writes leave uncataloged staging directories behind
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for suffix in ("__staging", "__compact"):
        orphan = os.path.join(wh, f"{t}{suffix}")
        os.makedirs(orphan, exist_ok=True)
        open(os.path.join(orphan, "junk"), "w").write("crashed write")
    if compact == "swap":
        out = compact_swap_store(spark, t)
    else:
        out = compact_store(spark, t, "k", num_buckets=4)
    assert out["files_after"] <= 4 < out["files_before"]
    assert sorted(map(tuple, spark.table(t).collect())) == before
    assert store_stamp(spark, t) == stamp
    assert _bucket_spec(spark, t) == (["k"], 4)
    # the next fold is not blocked either
    fold_store(
        spark, t, batch.limit(1),
        merge=lambda old, new: old.unionByName(new), stamp=stamp,
        bucket_by="k", num_buckets=4,
    )
    assert spark.table(t).count() == 41
    spark.sql(f"DROP TABLE IF EXISTS {t}")
