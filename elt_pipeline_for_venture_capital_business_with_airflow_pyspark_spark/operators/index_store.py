"""Persisted-index storage substrate: the storage steps the persisted
index families (MinHash-LSH in ``dedup``, pHash in ``multimodal``, HLL
in ``sketches``, LM in ``lm``, DSIR in ``sampling``) share, written
once. Each family keeps its own protocol, directory names and meta
bytes; this module owns existence checks, the one-line JSON ``meta``
file, the empty-partition read fallback, the two-table (primary +
derived) write/verify/repair, and the additive count-merge append.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import hadoop_fs, replace_parquet_atomic, write_small_text

__all__ = [
    "TwoTableIndex",
    "merge_counts",
    "path_exists",
    "read_index_meta",
    "read_partitioned",
    "write_index_meta",
]


def path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists — pure FileSystem metadata, no job."""
    hpath, fs = hadoop_fs(spark, path)
    return bool(fs.exists(hpath(path)))


def write_index_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Persist index parameters as one line of key-sorted JSON under
    ``<path>/meta``, via :func:`..sources.io.write_small_text` (a direct
    FileSystem stream; the text sink pays seconds of fixed job overhead
    per write). The name is NOT underscore-prefixed: Spark's file index
    treats ``_*`` paths as hidden, which would make the meta unreadable
    by ``spark.read.text``. It cannot collide with data — every index
    reads its tables by explicit subpath, never by sweeping its root."""
    write_small_text(spark, f"{path}/meta", json.dumps(meta, sort_keys=True))


def read_index_meta(spark: SparkSession, path: str) -> dict | None:
    """The dict :func:`write_index_meta` stored at ``path``, or None
    when no meta has been committed there."""
    if not path_exists(spark, f"{path}/meta"):
        return None
    rows = spark.read.text(f"{path}/meta").collect()
    return json.loads(rows[0]["value"]) if rows else None


def read_partitioned(
    spark: SparkSession, path: str, part_col: str, empty_ddl: str
) -> DataFrame:
    """Read a table written ``partitionBy(part_col)``. A partitioned
    write of zero rows emits no partition directories, so schema
    inference has nothing to read — that ONE case (checked explicitly:
    no ``part_col=*`` subdirectory) yields an empty frame typed by
    ``empty_ddl``. Every other failure — corrupt footer, permissions,
    transient FS error — propagates: a blanket fallback would answer
    "no rows" and turn an infrastructure fault into a wrong result."""
    hpath, fs = hadoop_fs(spark, path)
    d = hpath(path)
    has_partitions = fs.exists(d) and any(
        st.isDirectory() and st.getPath().getName().startswith(f"{part_col}=")
        for st in fs.listStatus(d)
    )
    if has_partitions:
        return spark.read.parquet(path)
    return spark.createDataFrame([], empty_ddl)


def merge_counts(
    old: DataFrame, new: DataFrame, path: str, counts: list[str]
) -> None:
    """Fold ``new``'s additive counts into the table ``old`` was read
    from: one per-key summed union (keys = every non-count column),
    swapped in with :func:`..sources.io.replace_parquet_atomic`
    because the merge plan reads the path it replaces."""
    keys = [c for c in new.columns if c not in counts]
    merged = (
        old.unionByName(new)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in counts])
    )
    replace_parquet_atomic(old.sparkSession, merged, path)


@dataclass(frozen=True)
class TwoTableIndex:
    """Layout of a two-table index under one root: ``<root>/<primary>``
    is the source of truth, keyed by ``primary_id``; ``<root>/<derived>``
    holds ``expand(primary)`` rows keyed by ``id`` and written
    ``partitionBy(part_col)``, so a partition-restricted probe prunes at
    the directory level. ``derived_ddl`` lists the derived columns after
    ``id``, in order.

    The primary commits first, so a crash between the two writes leaves
    a detectable torn state (primary ids without derived rows) that
    :meth:`verify` reports and :meth:`repair` heals — always sound,
    because the derived rows are a pure function of the primary."""

    primary: str
    derived: str
    primary_id: str
    part_col: str
    derived_ddl: str

    def write(
        self,
        path: str,
        primary: DataFrame,
        expand: Callable[[DataFrame], DataFrame],
        mode: str,
        shard_ids: DataFrame | None,
    ) -> None:
        """Write ``primary`` then its expansion, both with ``mode``.
        ``shard_ids`` None means ``primary`` is a caller-materialized
        frame (lineage-free w.r.t. this index) and is expanded as is.
        Otherwise the expansion reads the JUST-WRITTEN primary table —
        the expensive pipeline behind ``primary`` runs once, inside its
        write — restricted on append to the shard's ids (a one-column
        frame named ``primary_id``)."""
        spark = primary.sparkSession
        primary.write.mode(mode).parquet(f"{path}/{self.primary}")
        shard = primary
        if shard_ids is not None:
            shard = spark.read.parquet(f"{path}/{self.primary}")
            if mode == "append":
                shard = shard.join(
                    F.broadcast(shard_ids), self.primary_id, "semi"
                )
        expand(shard).write.mode(mode).partitionBy(self.part_col).parquet(
            f"{path}/{self.derived}"
        )

    def read(
        self, spark: SparkSession, path: str
    ) -> tuple[DataFrame, DataFrame]:
        """``(primary, derived)`` frames; the partition column is cast
        back to int for join parity, and a derived table written from
        zero rows reads as an empty frame typed off the primary's id."""
        primary = spark.read.parquet(f"{path}/{self.primary}")
        id_type = primary.schema[self.primary_id].dataType.simpleString()
        derived = read_partitioned(
            spark,
            f"{path}/{self.derived}",
            self.part_col,
            f"id {id_type}, {self.derived_ddl}",
        )
        cols = [c.split()[0] for c in self.derived_ddl.split(",")]
        return primary, derived.select(
            "id",
            *[
                F.col(c).cast("int").alias(c) if c == self.part_col else c
                for c in cols
            ],
        )

    def verify(self, spark: SparkSession, path: str, per_id: int) -> dict:
        """Consistency report, with ``p`` the partition column:

        - ``missing_{p}_ids`` — primary ids with NO derived rows (the
          crash-between-writes state; probes never surface these ids);
        - ``incomplete_{p}_ids`` — ids with some but not ``per_id``
          derived rows (task-level tearing or external edits);
        - ``orphan_{p}_ids`` — derived ids with no primary row.

        ``consistent`` is True iff all three are zero. Cost: one scan of
        each table — run on recovery/startup, not per batch."""
        primary, derived = self.read(spark, path)
        ids = primary.select(F.col(self.primary_id).alias("id"))
        n = derived.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        counts = (
            ids.join(n, "id", "left")
            .agg(
                F.count(F.lit(1)).alias("n_primary"),
                F.sum(F.when(F.col("n").isNull(), 1).otherwise(0)).alias(
                    "missing"
                ),
                F.sum(
                    F.when(
                        F.col("n").isNotNull() & (F.col("n") != per_id), 1
                    ).otherwise(0)
                ).alias("incomplete"),
            )
            .first()
        )
        orphans = int(n.join(ids, "id", "left_anti").count())
        missing = int(counts["missing"] or 0)
        incomplete = int(counts["incomplete"] or 0)
        p = self.part_col
        return {
            self.primary: int(counts["n_primary"]),
            f"missing_{p}_ids": missing,
            f"incomplete_{p}_ids": incomplete,
            f"orphan_{p}_ids": orphans,
            "consistent": missing == 0 and incomplete == 0 and orphans == 0,
        }

    def repair(
        self,
        spark: SparkSession,
        path: str,
        expand: Callable[[DataFrame], DataFrame],
        per_id: int,
    ) -> dict:
        """Restore consistency from the primary: ids missing their
        derived rows are re-expanded and appended; the pathological
        states (incomplete/orphan rows) rebuild the whole derived table
        via an atomic swap. Idempotent; the result is content-identical
        to an index whose writes never tore. Returns the post-repair
        :meth:`verify` report."""
        report = self.verify(spark, path, per_id)
        if report["consistent"]:
            return report
        primary, derived = self.read(spark, path)
        p = self.part_col
        if report[f"incomplete_{p}_ids"] or report[f"orphan_{p}_ids"]:
            replace_parquet_atomic(
                spark,
                expand(primary),
                f"{path}/{self.derived}",
                partition_by=[p],
            )
        else:
            have = derived.select(F.col("id").alias(self.primary_id))
            missing = primary.join(
                have.dropDuplicates([self.primary_id]),
                self.primary_id,
                "left_anti",
            )
            expand(missing).write.mode("append").partitionBy(p).parquet(
                f"{path}/{self.derived}"
            )
        return self.verify(spark, path, per_id)
