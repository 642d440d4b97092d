"""Incremental-batch contract + Structured Streaming equivalents
(SURVEY.md §2.7).

The reference's "stream" is an Airflow daily batch with a
``created_at::DATE = ds - 1 day`` slice predicate
(reference: dags/vcapital_staging/tasks/components/extract.py:41-43) —
late data is silently ignored. The engine keeps batch-incremental as
the contract and adds a true Structured Streaming mode with
watermarked tumbling windows as the scale path for continuous feeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def incremental_slice(df: DataFrame, ts_col: str, ds: str, lag_days: int = 1) -> DataFrame:
    """The reference's daily slice (P3): rows whose ``ts_col`` date
    equals ``ds - lag_days``.

    Expressed as a **sargable half-open range** on the raw column —
    ``ts >= day AND ts < day+1`` — never ``cast(ts AS date) = day``:
    wrapping the column in a cast defeats parquet row-group pruning
    and partition pruning, turning the daily slice into a full scan at
    100 TB. The range form pushes down (asserted in
    tests/test_plan_shapes.py). Typed literals, never f-string SQL
    (quirk §2.9.5)."""
    day = F.date_sub(F.lit(ds).cast("date"), lag_days)
    lo = day.cast("timestamp")
    hi = F.date_add(day, 1).cast("timestamp")
    c = F.col(ts_col)
    return df.filter((c >= lo) & (c < hi))


def tumbling_agg(df: DataFrame, ts_col: str, window: str = "1 day") -> DataFrame:
    """Batch tumbling-window aggregation over an event stream: count +
    sum(value) per (window, event_type). Same logical op as the
    streaming variant below — one groupBy, map-side partials."""
    return (
        # null-ts rows are excluded: a time window cannot be assigned to
        # an undated event — the same contract the STREAMING twin is
        # forced into (F.window drops them), made explicit for batch
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.window(F.col(ts_col), window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal accumulation → result independent of
            # partitioning/combine order (double sums are not associative)
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    window: str = "10 minutes",
    slide: str = "5 minutes",
) -> DataFrame:
    """Batch sliding-window aggregation: count + sum(value) per
    (window, event_type), windows of ``window`` length every ``slide``
    (overlapping when slide < window — each event lands in
    window/slide windows). Same ``F.window`` op Structured Streaming
    uses, so the batch result is the streaming result's oracle.
    Row amplification is the overlap factor, applied map-side before
    the partial aggregation — the shuffle carries pre-combined
    (window, type) partials, not events."""
    return (
        # same null-ts exclusion contract as tumbling_agg
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.window(F.col(ts_col), window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_tumbling_agg(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "1 day",
):
    """Structured Streaming equivalence mode: file-source stream with a
    watermark bounding late data (the reference's implicit
    late-data-dropped semantics made explicit). Returns an unstarted
    streaming DataFrame; callers attach a sink (tests use a memory
    sink + processAllAvailable)."""
    stream = spark.readStream.schema(schema).parquet(path)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_agg(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    ts_col: str = "ts",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
):
    """Streaming twin of :func:`sliding_agg`: overlapping windows on a
    watermarked file-source stream. State per key is window/slide
    concurrent windows; the watermark closes windows older than
    max(event time) − watermark so state stays bounded. Returns an
    unstarted streaming DataFrame (tests pin it to the batch twin)."""
    stream = spark.readStream.schema(schema).parquet(path)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Sessionization via gap detection: a new session starts when the
    gap to the previous event of the same user exceeds ``gap_minutes``.
    Window(lag) + running sum of session-start flags — one shuffle on
    the user key."""
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(tiebreak_col)
    )  # nulls LAST: Postgres/DuckDB ascending default, not Spark's first
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w))
    # "no usable predecessor timestamp" starts a session; a null-ts row
    # following a dated one CONTINUES that session (gap is unknowable,
    # three-valued logic says not-provably-over-gap) — the exact CASE
    # semantics of the SQL formulation, pinned by the null-heavy sweep
    is_new = F.when(
        F.lag(ts_col).over(w).isNull() | (gap > gap_minutes * 60 * 1_000_000), 1
    ).otherwise(0)
    return df.withColumn("__new_session", is_new).withColumn(
        "session_id",
        F.sum("__new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    ).drop("__new_session")


def streaming_session_agg(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 day",
):
    """Native session windows on a stream: ``F.session_window`` merges
    events of one user whose gaps stay under ``gap`` into a dynamic
    [first_event, last_event+gap) window, with watermarked state
    eviction — the built-in twin of the custom
    ``applyInPandasWithState`` sessionizer (streaming/stateful.py) and
    of the batch lag-gap ``sessionize`` above. Same gap rule, so
    per-session (user, start, n_events) triples agree with the batch
    plan (pinned in tests/test_stateful_streaming.py). Prefer this
    over hand-rolled state wherever plain per-session aggregates
    suffice; drop to applyInPandasWithState only for state machines
    the windowed agg can't express."""
    stream = spark.readStream.schema(schema).parquet(path)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once deduplication: first arrival per key
    wins, duplicates arriving within ``watermark`` of the event time
    are dropped, and state for keys older than the watermark is
    evicted (bounded state — the non-negotiable property at 100 TB;
    a plain ``dropDuplicates`` on a stream retains every key forever).

    The continuous twin of the batch ``dedup_keep_first`` /
    ``merge_upsert`` path: feeds that replay (at-least-once sources,
    the reference's rerun-duplicates quirk §2.9.4) converge to one
    row per key downstream.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def lsh_sink_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """One micro-batch through the persisted LSH corpus index, with
    EXACTLY-ONCE pair output within a checkpoint lineage. Write order
    is the whole safety argument:

    1. ids already in the index are dropped (explicit
       ``lsh_index_exists`` existence test — a transient read failure
       on a real index raises and lets the checkpoint retry the batch,
       it is never mistaken for first-batch bootstrap);
    2. the batch's near-dup pairs are computed WITHOUT updating the
       index and land as an idempotent overwrite of the
       ``batch_id=<n>`` partition of ``pairs_path``;
    3. only then is the shard appended to the index.

    A crash before (3) replays into the same state: the ids are still
    unindexed, the pairs recompute identically, and the partition
    overwrite replaces — never duplicates — the earlier attempt. A
    crash after (3) replays to an empty ``fresh`` set, and because the
    append is the LAST durable step, "already indexed" proves the
    pairs already landed — the batch skips safely. (The prior design
    appended the index first, so that same skip silently LOST the
    batch's pairs — at-most-once, not exactly-once.) A crash inside
    (3) itself can tear signatures/bands; ``repair_on_start`` in
    :func:`streaming_incremental_dedup` heals it on restart.

    The signature frame is computed once and locally checkpointed
    across steps (2) and (3) — the shingle→sign pipeline never runs
    twice, and the checkpoint's lineage truncation keeps step (3)'s
    self-referencing write from re-evaluating it (see inline note).
    ``batch_id`` partitions are scoped to one checkpoint lineage:
    restarting from a FRESH checkpoint over the same paths is safe
    only because already-indexed ids skip in (1); pointing a new
    lineage over a partially-overlapping corpus at the same
    ``pairs_path`` may re-key surviving pairs under new batch ids
    (at-least-once across lineages)."""
    from ..operators import dedup as DD

    spark = batch_df.sparkSession
    bootstrap = not DD.lsh_index_exists(spark, index_path)
    if bootstrap:
        fresh = batch_df
    else:
        existing, _ = DD.read_lsh_index(spark, index_path)
        fresh = batch_df.join(
            existing.select(F.col("id").alias(id_col)), id_col, "left_anti"
        )
    if fresh.isEmpty():
        return
    # localCheckpoint, NOT persist: `fresh`'s plan anti-joins against
    # the index's signatures parquet, and step (3)'s append to that
    # very path triggers Spark's recacheByPath — a merely-persisted
    # frame would be invalidated and RE-EVALUATED against the
    # refreshed file listing, where the anti-join now excludes the
    # shard's own just-appended ids and everything downstream (the
    # band append) silently evaluates to empty. Checkpointing
    # truncates the lineage so the signatures are physically
    # materialized once and never recomputed. (Executor loss drops
    # local checkpoint blocks — the batch then fails and foreachBatch
    # retries it, which the write order makes safe.)
    sig = DD.minhash_signatures_poly(
        fresh, id_col, text_col, k, num_hashes
    ).localCheckpoint(eager=True)
    try:
        if bootstrap:
            pairs = DD.banded_pairs(sig, num_hashes, bands, threshold)
        else:
            pairs = DD.incremental_lsh_pairs(
                fresh,
                index_path,
                id_col,
                text_col,
                k=k,
                num_hashes=num_hashes,
                bands=bands,
                threshold=threshold,
                update_index=False,
                signatures=sig,
            )
        pairs.write.mode("overwrite").parquet(
            f"{pairs_path}/batch_id={batch_id}"
        )
        DD.build_lsh_index(
            fresh,
            index_path,
            id_col,
            text_col,
            k,
            num_hashes,
            bands,
            mode="overwrite" if bootstrap else "append",
            signatures=sig,
        )
    finally:
        sig.unpersist(blocking=False)


def streaming_incremental_dedup(
    stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    repair_on_start: bool = True,
):
    """Continuous NEAR-dup detection: each micro-batch of documents is
    signed, checked against the persisted LSH corpus index
    (``operators.dedup.incremental_lsh_pairs``), appended to that
    index, and its near-dup pairs (vs the whole corpus so far AND
    within the batch) land in ``pairs_path`` tagged with the batch id.
    The daily-shard cadence of ``dedup_incremental_lsh`` compressed to
    micro-batch latency — per-batch cost is O(|batch| + one index
    scan), never O(corpus).

    Bootstraps from nothing: with no index at ``index_path`` the first
    batch becomes the initial corpus (its intra-batch pairs are still
    emitted). ``dedup_stream`` (exact key dedup) is the EXACT twin;
    this is the fuzzy one — the two compose, exact-first.

    Replay safety: foreachBatch is at-least-once; pair output is made
    exactly-once (within a checkpoint lineage) by
    :func:`lsh_sink_batch`'s write order — pairs land as an idempotent
    ``batch_id`` partition overwrite BEFORE the index append, and
    already-indexed ids (detected by an explicit index existence test,
    never an exception fallback) skip the batch entirely, which is
    safe precisely because the append commits last. With
    ``repair_on_start`` (default) the index is verified once at query
    start and any torn signatures/bands append (a crash inside the
    append) is healed from the signatures source of truth before the
    first batch runs.
    """
    from ..operators import dedup as DD

    if repair_on_start and lsh_index_exists_safe(stream, index_path):
        spark = stream.sparkSession
        DD.repair_lsh_index(spark, index_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        lsh_sink_batch(
            batch_df,
            batch_id,
            index_path,
            pairs_path,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            k=k,
            num_hashes=num_hashes,
            bands=bands,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def lsh_index_exists_safe(stream: DataFrame, index_path: str) -> bool:
    """Existence + repairability test used by ``repair_on_start``: an
    index is repairable iff its signatures table AND meta exist (a
    pre-metadata index verifies only with explicit parameters)."""
    from ..operators import dedup as DD
    from ..operators.index_store import read_index_meta

    spark = stream.sparkSession
    return DD.lsh_index_exists(spark, index_path) and (
        read_index_meta(spark, index_path) is not None
    )


def phash_sink_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> None:
    """One micro-batch of IMAGES through the persisted pHash corpus
    index — the visual twin of :func:`lsh_sink_batch`, with the same
    exactly-once write order (round-9 continuation):

    1. already-indexed media ids drop via an explicit
       ``phash_index_exists`` test + anti-join (a transient index
       read failure raises and lets the checkpoint retry — never
       mistaken for first-batch bootstrap);
    2. the batch's near-dup pairs (vs corpus + within batch) land as
       an idempotent overwrite of the ``batch_id=<n>`` partition;
    3. only then does the shard append to the index.

    The fingerprint frame is decoded/DCT'd ONCE and locally
    checkpointed across (2) and (3) — same recacheByPath hazard as
    the LSH sink: step (3) rewrites the very hashes parquet the
    anti-join read, so an un-truncated lineage would re-evaluate to
    empty for the chunk append."""
    from .. import multimodal as MM
    from ..operators import dedup as DD

    spark = batch_df.sparkSession
    bootstrap = not MM.phash_index_exists(spark, index_path)
    if bootstrap:
        fresh = batch_df
    else:
        existing, _ = MM.read_phash_index(spark, index_path)
        fresh = batch_df.join(
            existing.select("media_id"), "media_id", "left_anti"
        )
    if fresh.isEmpty():
        return
    fp = (
        MM.phash_images(fresh)
        .filter(F.col("phash").isNotNull())
        .localCheckpoint(eager=True)
    )
    try:
        if bootstrap:
            pairs = DD.hamming_near_pairs(
                fp,
                id_col="media_id",
                hash_col="phash",
                max_hamming=max_hamming,
                n_chunks=n_chunks,
            )
        else:
            pairs = MM.incremental_phash_pairs(
                fresh,
                index_path,
                max_hamming=max_hamming,
                n_chunks=n_chunks,
                update_index=False,
                fingerprints=fp,
            )
        pairs.write.mode("overwrite").parquet(
            f"{pairs_path}/batch_id={batch_id}"
        )
        MM.build_phash_index(
            fresh,
            index_path,
            n_chunks=n_chunks,
            mode="overwrite" if bootstrap else "append",
            fingerprints=fp,
        )
    finally:
        fp.unpersist(blocking=False)


def streaming_image_dedup(
    stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    max_hamming: int = 3,
    n_chunks: int = 4,
    repair_on_start: bool = True,
):
    """Continuous image near-dup detection: each micro-batch of
    ``(media_id, payload)`` rows is pHashed, checked against the
    persisted chunk index (``multimodal.incremental_phash_pairs``),
    appended, and its pairs land in ``pairs_path`` tagged with the
    batch id — the daily-shard cadence of
    ``multimodal_phash_incremental`` compressed to micro-batch
    latency. Per-batch cost is O(|batch| decode + one index scan),
    never O(corpus); pixels never persist in state, only 8-byte
    fingerprints.

    Bootstraps from nothing (first batch becomes the corpus, its
    intra-batch pairs still emitted). Replay safety: at-least-once
    foreachBatch made exactly-once within a checkpoint lineage by
    :func:`phash_sink_batch`'s write order. With ``repair_on_start``
    a torn hashes/chunks append heals from the hashes source of
    truth before the first batch."""
    from .. import multimodal as MM

    if repair_on_start:
        spark = stream.sparkSession
        if MM.phash_index_exists(spark, index_path):
            MM.repair_phash_index(spark, index_path, n_chunks=n_chunks)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        phash_sink_batch(
            batch_df,
            batch_id,
            index_path,
            pairs_path,
            max_hamming=max_hamming,
            n_chunks=n_chunks,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
