"""Two-phase condition numbering (conditions.consolidate_scalable).

The consolidation reads its input once (one disk-backed checkpoint feeds
both the per-cell ranks and the counts), numbers either within
(errtype, instance) or as one global sequence (``within=()``), and leaves no
checkpoint blocks behind once its result is dropped.
"""

from __future__ import annotations

import gc
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from geospatial_analysis_integrity_tool_spark.conditions import consolidate_scalable

COLS = (
    "errtype string, instance int, cond_num bigint, magnitude_mm bigint,"
    " sedrisid string, cell bigint"
)
ORDER = ["magnitude_mm", "sedrisid"]


def _frame(spark, dup: bool):
    """3 errtypes x 5 cells, 60 distinct conditions (plus exact copies of
    every fourth one when ``dup``), with magnitude ties inside a cell."""
    rows = []
    for e, et in enumerate(("KINK", "SLIVER", "DANGLE")):
        for i in range(20):
            rows.append((et, 1, 0, (i * 7 + e) % 3, f"{et}-{i:02d}", (i * 3 + e) % 5))
    if dup:
        rows += rows[::4]
    return spark.createDataFrame(rows, COLS)


def _counting_input(spark, n: int):
    """Conditions built through a Python UDF that counts the rows it emits."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("bigint")
    def seen(x):
        acc.add(1)
        return x

    df = spark.range(n).select(
        F.when(F.col("id") % 3 == 0, "A").otherwise("B").alias("errtype"),
        F.lit(1).alias("instance"),
        F.lit(0).cast("bigint").alias("cond_num"),
        (F.col("id") % 7).alias("magnitude_mm"),
        F.col("id").cast("string").alias("sedrisid"),
        seen(F.col("id") % 11).alias("cell"),
    )
    return df, acc


def test_input_is_evaluated_once(spark):
    n = 500
    df, acc = _counting_input(spark, n)
    rows = consolidate_scalable(df, order_keys=ORDER, dedup=False).collect()
    assert len(rows) == n
    assert acc.value == n


@pytest.mark.parametrize("dedup", [False, True])
def test_numbering_within_and_global(spark, dedup):
    src = _frame(spark, dup=dedup)
    expect_src = src.dropDuplicates() if dedup else src
    key = ["errtype", "instance", "cell", *ORDER]

    per_family = Window.partitionBy("errtype", "instance").orderBy(
        "cell", *ORDER
    )
    want = {
        tuple(r[:5]): r[5]
        for r in expect_src.select(
            *key, F.row_number().over(per_family)
        ).collect()
    }
    got = {
        tuple(r[:5]): r[5]
        for r in consolidate_scalable(src, order_keys=ORDER, dedup=dedup)
        .select(*key, "cond_num")
        .collect()
    }
    assert got == want

    glob = Window.orderBy(*key)
    want_g = {
        tuple(r[:5]): r[5]
        for r in expect_src.select(*key, F.row_number().over(glob)).collect()
    }
    got_g = {
        tuple(r[:5]): r[5]
        for r in consolidate_scalable(
            src, order_keys=ORDER, dedup=dedup, within=()
        )
        .select(*key, "cond_num")
        .collect()
    }
    assert got_g == want_g


def _checkpoint_rdds(spark) -> int:
    """Disk-only RDDs that still hold blocks (the consolidation checkpoints)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(
        1
        for i in infos
        if i.storageLevel().useDisk() and not i.storageLevel().useMemory()
    )


def _settled_checkpoints(spark, at_most: int, timeout_s: float = 10.0) -> int:
    """Checkpoint RDD count once the (asynchronous) ContextCleaner has had
    up to ``timeout_s`` to drop collected ones."""
    deadline = time.time() + timeout_s
    while True:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        n = _checkpoint_rdds(spark)
        if n <= at_most or time.time() > deadline:
            return n
        time.sleep(0.5)


def test_checkpoint_blocks_are_released(spark):
    before = _settled_checkpoints(spark, at_most=0)
    src = _frame(spark, dup=False)
    for _ in range(5):
        out = consolidate_scalable(src, order_keys=ORDER, dedup=False)
        assert out.count() == 60
    del out
    assert _settled_checkpoints(spark, at_most=before + 1) <= before + 1
