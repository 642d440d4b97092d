"""Persisted-index storage substrate (operators/index_store.py) on tiny
hand-built frames: meta round-trip, the empty-partition fallback and
its limits, the two-table torn-write verify/repair cycle, and the
count-merge append. Every index family routes through these steps, so
they run in the default (not-slow) suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    index_store as IS,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    io as IO,
)

PER_ID = 3
LAYOUT = IS.TwoTableIndex(
    primary="items",
    derived="slots",
    primary_id="item_id",
    part_col="slot",
    derived_ddl="slot int, val long",
)


def _expand(items):
    return items.select(
        F.col("item_id").alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(PER_ID - 1))).alias("slot"),
        "val",
    )


def _items(spark, ids):
    return spark.createDataFrame(
        [(i, i * 10) for i in ids], "item_id long, val long"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_meta_round_trip_and_bytes(spark, tmp_path):
    path = str(tmp_path / "idx")
    meta = {"k": 3, "bands": 16, "signature": "poly"}
    IS.write_index_meta(spark, path, meta)
    assert IS.read_index_meta(spark, path) == meta
    # one key-sorted JSON line in a visible part file
    assert (tmp_path / "idx" / "meta" / "part-00000").read_text() == (
        '{"bands": 16, "k": 3, "signature": "poly"}\n'
    )
    meta["state"] = "tagged"
    IS.write_index_meta(spark, path, meta)
    assert IS.read_index_meta(spark, path)["state"] == "tagged"


def test_absent_meta_reads_none(spark, tmp_path):
    assert IS.read_index_meta(spark, str(tmp_path / "nothing")) is None
    assert not IS.path_exists(spark, str(tmp_path / "nothing"))
    assert IS.path_exists(spark, str(tmp_path))


def test_zero_row_partitioned_write_reads_empty_typed_frame(spark, tmp_path):
    path = str(tmp_path / "t")
    ddl = "id long, slot int, val long"
    spark.createDataFrame([], ddl).write.partitionBy("slot").parquet(path)
    out = IS.read_partitioned(spark, path, "slot", ddl)
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<id:bigint,slot:int,val:bigint>"
    # a missing directory is the same "no partitions" case
    assert IS.read_partitioned(spark, str(tmp_path / "nope"), "slot", ddl).count() == 0


def test_empty_primary_reads_empty_derived_typed_off_primary_id(spark, tmp_path):
    path = str(tmp_path / "idx")
    LAYOUT.write(path, _items(spark, []), _expand, "overwrite", None)
    items, slots = LAYOUT.read(spark, path)
    assert items.count() == 0 and slots.count() == 0
    assert slots.schema.simpleString() == "struct<id:bigint,slot:int,val:bigint>"
    assert LAYOUT.verify(spark, path, PER_ID)["consistent"]


def test_corrupt_derived_table_propagates(spark, tmp_path):
    part = tmp_path / "t" / "slot=0"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as err:
        IS.read_partitioned(
            spark, str(tmp_path / "t"), "slot", "id long, slot int, val long"
        ).collect()
    assert "parquet" in str(err.value).lower()


def test_torn_two_table_state_verify_and_repair(spark, tmp_path):
    path = str(tmp_path / "idx")
    LAYOUT.write(path, _items(spark, [1, 2]), _expand, "overwrite", None)
    # crash between the writes: the primary landed for ids 3 and 4,
    # their derived rows did not
    _items(spark, [3, 4]).write.mode("append").parquet(f"{path}/items")
    report = LAYOUT.verify(spark, path, PER_ID)
    assert report == {
        "items": 4,
        "missing_slot_ids": 2,
        "incomplete_slot_ids": 0,
        "orphan_slot_ids": 0,
        "consistent": False,
    }
    healed = LAYOUT.repair(spark, path, _expand, PER_ID)
    assert healed["consistent"] and healed["items"] == 4
    _, slots = LAYOUT.read(spark, path)
    assert _rows(slots) == _rows(_expand(_items(spark, [1, 2, 3, 4])))
    files = IO.parquet_file_count(spark, f"{path}/slots")
    assert LAYOUT.repair(spark, path, _expand, PER_ID) == healed
    assert IO.parquet_file_count(spark, f"{path}/slots") == files


def test_orphan_rows_rebuild_derived_table(spark, tmp_path):
    path = str(tmp_path / "idx")
    LAYOUT.write(path, _items(spark, [1, 2]), _expand, "overwrite", None)
    _expand(_items(spark, [9])).write.mode("append").partitionBy(
        "slot"
    ).parquet(f"{path}/slots")
    assert LAYOUT.verify(spark, path, PER_ID)["orphan_slot_ids"] == 1
    assert LAYOUT.repair(spark, path, _expand, PER_ID)["consistent"]
    _, slots = LAYOUT.read(spark, path)
    assert _rows(slots) == _rows(_expand(_items(spark, [1, 2])))


def test_append_expands_only_the_shard(spark, tmp_path):
    path = str(tmp_path / "idx")
    LAYOUT.write(
        path, _items(spark, [1, 2]), _expand, "overwrite",
        _items(spark, [1, 2]).select("item_id"),
    )
    LAYOUT.write(
        path, _items(spark, [3]), _expand, "append",
        _items(spark, [3]).select("item_id"),
    )
    items, slots = LAYOUT.read(spark, path)
    assert _rows(items) == _rows(_items(spark, [1, 2, 3]))
    assert _rows(slots) == _rows(_expand(_items(spark, [1, 2, 3])))
    assert LAYOUT.verify(spark, path, PER_ID)["consistent"]


def test_merge_counts_sums_per_key(spark, tmp_path):
    path = str(tmp_path / "counts")
    spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20)], "k string, c1 long, c2 long"
    ).write.parquet(path)
    old = spark.read.parquet(path)
    new = spark.createDataFrame(
        [("b", 5, 1), ("c", 7, 0)], "k string, c1 long, c2 long"
    )
    IS.merge_counts(old, new, path, ["c1", "c2"])
    merged = spark.read.parquet(path)
    assert merged.columns == ["k", "c1", "c2"]
    assert _rows(merged) == [("a", 1, 10), ("b", 7, 21), ("c", 7, 0)]
