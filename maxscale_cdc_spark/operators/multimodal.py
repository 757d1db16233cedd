"""Multimodal column operators: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: media lives in `binary` columns
(or object-store pointers) beside typed metadata; decode/feature steps
are Arrow-batched Pandas functions over `mapInPandas`, so bytes stream
through executors in columnar batches and never concentrate on the
driver.

The container has no image/audio codecs, so the decode itself is a
clearly-marked deterministic STUB (`_fake_decode`) — the Spark-side
plumbing (binary schema, Arrow transfer, batch iteration, partition
behavior, frame fan-out) is real and oracle-checked.  A real build
replaces `_fake_decode` with PIL/ffmpeg and keeps everything else.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from maxscale_cdc_spark.functions.window import first_per
from maxscale_cdc_spark.registry import register
from maxscale_cdc_spark.session import stage
from maxscale_cdc_spark.tables import table


def media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the multimodal table: documents' text bytes standing in
    for media blobs, with typed metadata columns."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("content"),
        F.lit("image/fake").alias("mime"),
        "n_chars",
    )


@register(
    "mm_meta",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           sha256(text) AS content_hash,
           'image/fake' AS mime
    FROM documents
    """,
)
def mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary metadata extraction (size + content hash) — computed
    JVM-side on the binary column; the dedup/key step for media blobs."""
    m = media_frame(spark, sf_dir)
    return m.select(
        "doc_id",
        F.octet_length("content").cast("long").alias("n_bytes"),
        F.sha2("content", 256).alias("content_hash"),
        "mime",
    )


def _fake_decode(blob: bytes) -> tuple[int, int, int]:
    """STUB decode — deterministic stand-in for an image/video codec.

    Returns (width, height, n_frames) derived from the byte length.  A
    real deployment decodes `blob` with PIL/ffmpeg here; everything
    around this function (Arrow batching, schema, fan-out) is unchanged.
    """
    n = len(blob)
    return 16 + n % 32, 16 + n % 24, 1 + n % 4


_DECODE_ORACLE = """
SELECT doc_id,
       CAST(16 + length(text) % 32 AS INT) AS width,
       CAST(16 + length(text) % 24 AS INT) AS height,
       CAST(1 + length(text) % 4 AS INT) AS n_frames,
       CAST(length(text) AS BIGINT) AS n_bytes
FROM documents
"""


@register("mm_decode_stub", _DECODE_ORACLE)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode via mapInPandas: binary column in, typed metadata out, in
    Arrow batches.  Partition-parallel, constant memory per batch — the
    shape of every heavy media step (decode, resize, feature-extract)."""
    m = media_frame(spark, sf_dir)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure: no by-reference pickle of module globals
        fake_decode = _fake_decode
        for pdf in batches:
            dims = pdf["content"].map(fake_decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": dims.map(lambda t: t[0]).astype("int32"),
                    "height": dims.map(lambda t: t[1]).astype("int32"),
                    "n_frames": dims.map(lambda t: t[2]).astype("int32"),
                    "n_bytes": pdf["content"].map(len).astype("int64"),
                }
            )

    return m.mapInPandas(
        decode,
        "doc_id bigint, width int, height int, n_frames int, n_bytes bigint",
    )


_FEATURES_ORACLE = """
SELECT doc_id,
       CAST(least(16 + length(text) % 32, 24) AS INT) AS resized_w,
       CAST(least(16 + length(text) % 24, 24) AS INT) AS resized_h,
       CAST(CAST(('0x' || substr(sha256(text), 1, 4)) AS INTEGER) AS DOUBLE) / 65536.0 AS feat_0,
       CAST(CAST(('0x' || substr(sha256(text), 5, 4)) AS INTEGER) AS DOUBLE) / 65536.0 AS feat_1,
       CAST(CAST(('0x' || substr(sha256(text), 9, 4)) AS INTEGER) AS DOUBLE) / 65536.0 AS feat_2,
       CAST(CAST(('0x' || substr(sha256(text), 13, 4)) AS INTEGER) AS DOUBLE) / 65536.0 AS feat_3
FROM documents
"""


@register("mm_features", _FEATURES_ORACLE)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize + feature-extract over binary media via mapInPandas —
    the STUBBED model step (no codecs/models in this container): resize
    clamps the fake decode dims to a 24px thumbnail edge; "features"
    are 4 deterministic floats from the content hash (a stand-in for an
    embedding head).  The plumbing is the real thing: binary in, Arrow
    batches through Python, fixed-width feature columns out, partition-
    parallel.  A real deployment swaps the two inner lambdas for
    PIL.resize and a model forward pass."""
    import hashlib

    m = media_frame(spark, sf_dir)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fake_decode = _fake_decode
        for pdf in batches:
            dims = pdf["content"].map(fake_decode)
            hashes = pdf["content"].map(lambda b: hashlib.sha256(b).hexdigest())
            out = pd.DataFrame({"doc_id": pdf["doc_id"]})
            out["resized_w"] = dims.map(lambda t: min(t[0], 24)).astype("int32")
            out["resized_h"] = dims.map(lambda t: min(t[1], 24)).astype("int32")
            for i in range(4):
                out[f"feat_{i}"] = hashes.map(
                    lambda h, i=i: int(h[i * 4 : i * 4 + 4], 16) / 65536.0
                )
            yield out

    return m.mapInPandas(
        extract,
        "doc_id bigint, resized_w int, resized_h int, "
        "feat_0 double, feat_1 double, feat_2 double, feat_3 double",
    )


_FRAME_ORACLE = """
WITH decoded AS (
  SELECT doc_id, sha256(text) AS content_hash,
         CAST(1 + length(text) % 4 AS INT) AS n_frames
  FROM documents
)
SELECT doc_id, CAST(f AS INT) AS frame_idx,
       md5(content_hash || '-' || CAST(f AS VARCHAR)) AS frame_key
FROM decoded, unnest(generate_series(0, n_frames - 1)) AS t(f)
"""


@register("mm_frame_sample", _FRAME_ORACLE)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling fan-out: one row per decoded frame, keyed for
    downstream dedup/embedding.  Explode happens executor-side after the
    narrow decode — the fan-out never touches the driver and inherits
    the scan's partitioning."""
    decoded = mm_decode_stub(spark, sf_dir).join(
        mm_meta(spark, sf_dir).select("doc_id", "content_hash"), "doc_id"
    )
    return decoded.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
        "content_hash",
    ).select(
        "doc_id",
        "frame_idx",
        F.md5(
            F.concat(F.col("content_hash"), F.lit("-"), F.col("frame_idx").cast("string"))
        ).alias("frame_key"),
    )


# ---------------------------------------------------------------------------
# mm_shard_manifest — pack media blobs into fixed-byte training shards.
# Training jobs read shards, not files: the manifest assigns each blob
# to a shard by running byte count within its source, then summarizes
# each shard (blob count, bytes, id range).  Integer arithmetic only.
# ---------------------------------------------------------------------------

_SHARD_TARGET_BYTES = 64 * 1024

_SHARD_MANIFEST_ORACLE = f"""
WITH sized AS (
  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS n_bytes FROM documents
), placed AS (
  SELECT source, doc_id, n_bytes,
         CAST((sum(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_bytes) // {_SHARD_TARGET_BYTES}
              AS BIGINT) AS shard_id
  FROM sized
)
SELECT source, shard_id,
       CAST(count(*) AS BIGINT) AS n_blobs,
       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM placed
GROUP BY source, shard_id
"""


@register("mm_shard_manifest", _SHARD_MANIFEST_ORACLE)
def mm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget shard packing: blobs are assigned to shards by the
    EXCLUSIVE running byte total within (source, doc_id order) divided
    by the 64 KiB target, then summarized per shard.

    One keyed window (running sum of longs — exact) + one map-side
    combinable agg, both on the source key.  At 100 TB the source is
    the ingest partition, so the running sum never crosses executors'
    natural data layout; the manifest output is O(shards), which a
    training loader reads as its index.  First-fit-by-order keeps
    blob order stable — shard contents are deterministic under any
    cluster size."""
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    d = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.length("text").cast("long").alias("n_bytes")
    )
    placed = d.select(
        "source",
        "doc_id",
        "n_bytes",
        F.floor(
            (F.sum("n_bytes").over(w) - F.col("n_bytes")) / F.lit(_SHARD_TARGET_BYTES)
        )
        .cast("long")
        .alias("shard_id"),
    )
    return placed.groupBy("source", "shard_id").agg(
        F.count("*").cast("long").alias("n_blobs"),
        F.sum("n_bytes").cast("long").alias("shard_bytes"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# mm_pair_batches — contrastive training-batch construction over
# (media, caption) pairs: join the media embedding table to its caption
# row, shuffle deterministically (md5 of the id), pack into fixed-size
# batches, and audit each batch for label collisions (two pairs with
# the same label inside one batch are false negatives for the
# contrastive loss — the curation signal this operator exports).
# ---------------------------------------------------------------------------

_PAIR_BATCH = 16

_PAIR_BATCH_ORACLE = f"""
WITH pairs AS (
  SELECT d.doc_id, e.label, d.lang,
         md5(CAST(d.doc_id AS VARCHAR)) AS h
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
), placed AS (
  SELECT doc_id, label, lang,
         substr(h, 1, 2) AS bucket,
         CAST(row_number() OVER (PARTITION BY substr(h, 1, 2)
                                 ORDER BY h, doc_id) - 1 AS BIGINT) AS rn
  FROM pairs
), b AS (
  SELECT doc_id, label, lang,
         bucket || '-' || CAST(rn // {_PAIR_BATCH} AS VARCHAR) AS batch_id,
         CAST(rn % {_PAIR_BATCH} AS BIGINT) AS pos
  FROM placed
)
SELECT batch_id, pos, doc_id, label, lang,
       (count(*) OVER (PARTITION BY batch_id, label) > 1) AS label_collision
FROM b
"""


@register("mm_pair_batches", _PAIR_BATCH_ORACLE)
def mm_pair_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive batch packing + false-negative audit.

    Two-level assignment keeps it scale-free: an md5 BUCKET (256-way,
    uniform) then a row_number within the bucket — the packing window
    is KEYED on the bucket, so no global sort and no single-partition
    window at any corpus size; batches are fixed-size within buckets.
    The collision audit is one more keyed window on (batch, label).
    The pair join runs on the shared id — at 100 TB both sides are
    bucketed by id and the join is co-located."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    pairs = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "label",
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    placed = pairs.select(
        "doc_id",
        "label",
        "lang",
        F.substring("h", 1, 2).alias("bucket"),
        "h",
    ).withColumn(
        "rn",
        (
            F.row_number().over(W.partitionBy("bucket").orderBy("h", "doc_id")) - 1
        ).cast("long"),
    )
    b = placed.select(
        "doc_id",
        "label",
        "lang",
        F.concat_ws(
            "-", F.col("bucket"), F.expr(f"rn div {_PAIR_BATCH}").cast("string")
        ).alias("batch_id"),
        (F.col("rn") % _PAIR_BATCH).cast("long").alias("pos"),
    )
    return b.select(
        "batch_id",
        "pos",
        "doc_id",
        "label",
        "lang",
        (F.count("*").over(W.partitionBy("batch_id", "label")) > 1).alias(
            "label_collision"
        ),
    )


# ---------------------------------------------------------------------------
# mm_dedup_phash — perceptual-hash near-duplicate detection for media:
# 60-bit pHash per blob, banded LSH over the hash bits for candidate
# generation, exact Hamming verification on candidates only.  The
# production image-dedup pass (pHash/dHash + Hamming radius) with the
# same band-bucket shape as the text MinHash family.  The pHash KERNEL
# is the deterministic stub (sha256-derived bits — this container has
# no image codecs, same status as _fake_decode); a real build swaps in
# a DCT pHash over decoded pixels and keeps every join unchanged.
# ---------------------------------------------------------------------------

_PHASH_BANDS = 5          # 5 bands × 12 bits (3 hex chars) over 60 bits
_PHASH_RADIUS = 12        # Hamming acceptance radius

_PHASH_ORACLE = f"""
WITH ph AS (
  SELECT doc_id,
         substr(sha256(array_to_string(list_slice(
           list_sort(list_distinct(string_split(text, ' '))), 1, 8), ' ')),
           1, 15) AS ph
  FROM documents
), classes AS (
  SELECT ph, CAST(('0x' || ph) AS BIGINT) AS h64,
         CAST(min(doc_id) AS BIGINT) AS rep,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM ph GROUP BY ph
), bands AS (
  SELECT rep, n_docs, h64, i.i AS band, substr(ph, i.i * 3 + 1, 3) AS bv
  FROM classes
  CROSS JOIN (SELECT unnest(generate_series(0, {_PHASH_BANDS - 1})) AS i) i
), cand AS (
  SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b,
                  a.n_docs AS n_a, b.n_docs AS n_b,
                  a.h64 AS ha, b.h64 AS hb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.rep < b.rep
)
SELECT rep_a, rep_b, n_a, n_b,
       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {_PHASH_RADIUS}
UNION ALL
SELECT rep, rep, n_docs, n_docs, CAST(0 AS BIGINT)
FROM classes WHERE n_docs >= 2
"""


@register("mm_dedup_phash", _PHASH_ORACLE)
def mm_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media dedup classes + near-dup class links at Hamming ≤ 12 over
    a 60-bit perceptual hash.  TWO-LEVEL structure, the production
    shape: (1) identical hashes collapse to a CLASS (representative =
    min doc_id, class size carried) — one keyed aggregation; (2) banded
    LSH + exact bit_count(xor) verification run over DISTINCT hashes
    only, linking near-identical classes.  Output: one self-row per
    multi-doc class (rep, rep, n, n, 0) plus one row per near-class
    pair — LINEAR in classes, never the quadratic doc-pair explosion
    (measured before the collapse: one 1347-doc identical-hash class at
    sf0.1 alone produced ~0.9M doc pairs; after: 1 row).  That
    quadratic term is exactly what blank frames / logo images do to a
    real crawl, and collapsing exact classes first is the standard
    mitigation.

    Band-LSH recall note: the pigeonhole guarantee (an overlap must
    share a band) is exact only for radius < #bands; radius 12 with 5
    bands is the recall/cost point production pHash dedup runs at, and
    the stub hash makes true positives exact-equal (hamming 0), which
    the class collapse catches exhaustively.

    At 100 TB: classes ≈ distinct content (≪ docs); band buckets over
    distinct hashes are near-uniform (crypto bits), so no skew; with a
    real DCT pHash the hot-band case returns and salts like any
    equi-join.  Everything exported is an integer."""
    m = media_frame(spark, sf_dir)
    # Stub pHash input: a COARSE content feature (the 8 smallest
    # distinct "words" of the decoded payload) rather than the raw
    # bytes, so visually-near blobs (here: near-dup texts) hash
    # identically — mimicking a real pHash's robustness to small
    # perturbations while staying deterministic and codec-free.
    feat = F.concat_ws(
        " ",
        F.slice(
            F.array_sort(F.array_distinct(F.split(F.decode("content", "utf-8"), " "))),
            1,
            8,
        ),
    )
    ph = m.select("doc_id", F.substring(F.sha2(feat, 256), 1, 15).alias("ph"))
    classes = ph.groupBy("ph").agg(
        F.min("doc_id").cast("long").alias("rep"),
        F.count("*").cast("long").alias("n_docs"),
    ).withColumn("h64", F.conv("ph", 16, 10).cast("long"))
    bands = classes.select(
        "rep",
        "n_docs",
        "h64",
        F.posexplode(
            F.array(
                *[F.substring("ph", i * 3 + 1, 3) for i in range(_PHASH_BANDS)]
            )
        ).alias("band", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(
            F.col("a.rep").alias("rep_a"),
            F.col("b.rep").alias("rep_b"),
            F.col("a.n_docs").alias("n_a"),
            F.col("b.n_docs").alias("n_b"),
            F.col("a.h64").alias("ha"),
            F.col("b.h64").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    links = cand.select(
        "rep_a", "rep_b", "n_a", "n_b", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= _PHASH_RADIUS)
    self_rows = classes.filter(F.col("n_docs") >= 2).select(
        F.col("rep").alias("rep_a"),
        F.col("rep").alias("rep_b"),
        F.col("n_docs").alias("n_a"),
        F.col("n_docs").alias("n_b"),
        F.lit(0).cast("long").alias("hamming"),
    )
    return links.unionAll(self_rows)


# ---------------------------------------------------------------------------
# mm_scene_segments — video scene segmentation from frame differences:
# consecutive frames whose "luminance" jumps by more than a threshold
# start a new scene; scenes are gaps-and-islands over the frame
# sequence.  The luminance is the STUBBED kernel (first 2 hex digits
# of the frame key — the container has no codecs; a real deployment
# computes mean pixel luma in the mm_features mapInPandas pass), but
# the segmentation mechanics — per-video lag window, boundary marks,
# island aggregation — are the real scale shape: one video-keyed
# window partition, frames never leave their executor.
# ---------------------------------------------------------------------------

_SCENE_THRESH = 64  # luminance jump (0-255) that starts a new scene

_SCENE_ORACLE = f"""
WITH decoded AS (
  SELECT doc_id, sha256(text) AS content_hash,
         CAST(1 + length(text) % 4 AS INT) AS n_frames
  FROM documents
), frames AS (
  SELECT doc_id, CAST(f AS INT) AS frame_idx,
         CAST(('0x' || substr(md5(content_hash || '-' || CAST(f AS VARCHAR)), 1, 2))
              AS INTEGER) AS luma
  FROM decoded, unnest(generate_series(0, n_frames - 1)) AS t(f)
), seq AS (
  SELECT doc_id, frame_idx, luma,
         lag(luma) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
  FROM frames
), marked AS (
  SELECT doc_id, frame_idx,
         CASE WHEN prev IS NULL OR abs(luma - prev) > {_SCENE_THRESH}
              THEN 1 ELSE 0 END AS is_cut
  FROM seq
), scened AS (
  SELECT doc_id, frame_idx,
         sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS scene_id
  FROM marked
), scenes AS (
  SELECT doc_id, scene_id, CAST(count(*) AS BIGINT) AS scene_len
  FROM scened GROUP BY doc_id, scene_id
)
SELECT doc_id,
       CAST(sum(scene_len) AS BIGINT) AS n_frames,
       CAST(count(*) AS BIGINT) AS n_scenes,
       CAST(max(scene_len) AS BIGINT) AS longest_scene
FROM scenes
GROUP BY doc_id
"""


@register("mm_scene_segments", _SCENE_ORACLE)
def mm_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene detection over the sampled frame stream: luminance-jump
    cuts (stub kernel) + gaps-and-islands scene assembly on one
    video-keyed window partition.  Integer-only exports."""
    from pyspark.sql import Window as W

    frames = mm_frame_sample(spark, sf_dir).select(
        "doc_id",
        "frame_idx",
        F.conv(F.substring("frame_key", 1, 2), 16, 10).cast("int").alias("luma"),
    )
    win = W.partitionBy("doc_id").orderBy("frame_idx")
    seq = frames.withColumn("prev", F.lag("luma").over(win))
    marked = seq.select(
        "doc_id",
        "frame_idx",
        F.when(
            F.col("prev").isNull()
            | (F.abs(F.col("luma") - F.col("prev")) > _SCENE_THRESH),
            1,
        )
        .otherwise(0)
        .alias("is_cut"),
    )
    scened = marked.select(
        "doc_id",
        F.sum("is_cut")
        .over(win.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("scene_id"),
    )
    scenes = scened.groupBy("doc_id", "scene_id").agg(
        F.count("*").cast("long").alias("scene_len")
    )
    return scenes.groupBy("doc_id").agg(
        F.sum("scene_len").cast("long").alias("n_frames"),
        F.count("*").cast("long").alias("n_scenes"),
        F.max("scene_len").cast("long").alias("longest_scene"),
    )


# ---------------------------------------------------------------------------
# mm_dedup_savings — what media dedup BUYS, per source: blobs and BYTES
# removed by keeping one representative per exact-pHash class (the
# storage-planning twin of llm_dedup_savings — for media corpora the
# pay-off is storage/egress, not just token mass; blank frames and logo
# images routinely make this the single largest cost lever in a crawl).
# Same stub pHash feature as mm_dedup_phash (multimodal.py) — identical
# hash ⇔ same class; one keyed class agg + one join + one source agg.
# ---------------------------------------------------------------------------


@register(
    "mm_dedup_savings",
    """
    WITH ph AS (
      SELECT doc_id, source,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             substr(sha256(array_to_string(list_slice(
               list_sort(list_distinct(string_split(text, ' '))), 1, 8), ' ')),
               1, 15) AS p
      FROM documents
    ), reps AS (
      SELECT p, CAST(min(doc_id) AS BIGINT) AS rep FROM ph GROUP BY p
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_blobs,
           CAST(sum(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(sum(n_bytes) AS BIGINT) AS bytes_total,
           CAST(sum(CASE WHEN doc_id <> rep THEN n_bytes ELSE 0 END) AS BIGINT)
             AS bytes_removed
    FROM ph JOIN reps USING (p)
    GROUP BY source
    """,
)
def mm_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source media-dedup savings over exact-pHash classes (see
    block comment)."""
    d = table(spark, sf_dir, "documents")
    feat = F.concat_ws(
        " ",
        F.slice(
            F.array_sort(F.array_distinct(F.split("text", " "))), 1, 8
        ),
    )
    ph = d.select(
        "doc_id",
        "source",
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        F.substring(F.sha2(feat, 256), 1, 15).alias("p"),
    )
    reps = ph.groupBy("p").agg(F.min("doc_id").cast("long").alias("rep"))
    removed = F.col("doc_id") != F.col("rep")
    return (
        ph.join(reps, "p")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_blobs"),
            F.sum(F.when(removed, 1).otherwise(0)).cast("long").alias("n_removed"),
            F.sum("n_bytes").cast("long").alias("bytes_total"),
            F.sum(F.when(removed, F.col("n_bytes")).otherwise(0))
            .cast("long")
            .alias("bytes_removed"),
        )
    )


# ---------------------------------------------------------------------------
# mm_modality_budget_plan — byte-budget APPORTIONMENT across modalities
# (the llm_token_budget_plan discipline applied to the media corpus): a
# multimodal training run fixes a storage/compute budget of half the
# corpus BYTES and needs per-modality integer quotas that sum to the
# budget EXACTLY — largest-remainder (Hamilton) rounding over the
# per-modality byte mass.  Modality is the synthetic doc_id % 3 tag
# (the corpus carries one mime type; the plumbing — byte accounting,
# exact apportionment — is the real part, the mm_* stub convention).
# Pure BIGINT: floor-share b·mᵢ // M, remainder b·mᵢ mod M, bonus
# bytes to the largest remainders (tie-broken by modality name).
# ---------------------------------------------------------------------------


@register(
    "mm_modality_budget_plan",
    """
    WITH tagged AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ), per_mod AS (
      SELECT modality,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(n_bytes) AS BIGINT) AS n_bytes
      FROM tagged GROUP BY modality
    ), tot AS (
      SELECT CAST(sum(n_bytes) AS BIGINT) AS m,
             CAST(sum(n_bytes) AS BIGINT) // 2 AS b
      FROM per_mod
    ), shares AS (
      SELECT modality, n_items, n_bytes,
             CAST((CAST(b AS HUGEINT) * n_bytes) // m AS BIGINT) AS floor_share,
             CAST((CAST(b AS HUGEINT) * n_bytes) % m AS BIGINT) AS remainder,
             b
      FROM per_mod CROSS JOIN tot
    ), ranked AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY remainder DESC, modality) AS BIGINT) AS rr,
             CAST(sum(floor_share) OVER () AS BIGINT) AS sum_floor
      FROM shares
    )
    SELECT modality, n_items, n_bytes, floor_share,
           CAST(floor_share + CASE WHEN rr <= b - sum_floor THEN 1 ELSE 0 END
                AS BIGINT) AS byte_quota
    FROM ranked
    """,
)
def mm_modality_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder byte apportionment across modalities (see
    block comment): one byte aggregation, then pure integer arithmetic
    over |modalities| rows — Σ byte_quota == budget exactly."""
    m = media_frame(spark, sf_dir)
    tagged = m.select(
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("modality"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    per_mod = tagged.groupBy("modality").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
    )
    tot = per_mod.agg(
        F.sum("n_bytes").cast("long").alias("m"),
        F.expr("div(CAST(sum(n_bytes) AS BIGINT), 2)").alias("b"),
    )
    # b·n_bytes in BIGINT overflows (DuckDB raises, non-ANSI Spark
    # silently wraps) once corpus bytes reach ~3e9 per side — widen the
    # cross-multiply: HUGEINT in the oracle, DECIMAL(38,0) here (Spark
    # decimal div → BIGINT, mod exact while the product < 1e38, i.e.
    # for EVERY valid BIGINT byte total since b·nᵢ ≤ M²/2 < 1e38).
    shares = per_mod.join(F.broadcast(tot)).select(
        "modality",
        "n_items",
        "n_bytes",
        F.expr(
            "CAST(div(CAST(b AS DECIMAL(38,0)) * CAST(n_bytes AS DECIMAL(38,0)),"
            " CAST(m AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("floor_share"),
        F.expr(
            "CAST(CAST(b AS DECIMAL(38,0)) * CAST(n_bytes AS DECIMAL(38,0))"
            " % CAST(m AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("remainder"),
        "b",
    )
    ranked = shares.select(
        "modality",
        "n_items",
        "n_bytes",
        "floor_share",
        "b",
        F.row_number()
        .over(W.orderBy(F.col("remainder").desc(), "modality"))
        .cast("long")
        .alias("rr"),
        F.sum("floor_share").over(W.partitionBy()).cast("long").alias("sum_floor"),
    )
    return ranked.select(
        "modality",
        "n_items",
        "n_bytes",
        "floor_share",
        (
            F.col("floor_share")
            + F.when(F.col("rr") <= F.col("b") - F.col("sum_floor"), 1).otherwise(0)
        )
        .cast("long")
        .alias("byte_quota"),
    )


# ---------------------------------------------------------------------------
# mm_caption_align — align caption chunks to sampled video frames by
# timestamp: each 8-word caption chunk (synthetic clock 700 ms/chunk)
# is matched AS-OF to the last frame at or before it (frames tick at
# 1000 ms from mm_frame_sample's fan-out).  The cross-modality join a
# video-text training pair builder runs; lag_ms is the drift the pair
# quality filter thresholds on.
#
# The Spark side runs the REAL as-of machinery — one union + one
# video-keyed window carrying the last-seen frame forward (the
# cdc_scd2_lookup pattern: never a range join against the frame
# table).  The ORACLE is the closed form (frame = min(cap_ts div 1000,
# n_frames − 1)), valid because the synthetic clocks are arithmetic —
# so a green row proves the general as-of construction against an
# implementation-independent definition, the jaccard_prefix precedent.
# At equal timestamps the frame sorts first (kind 0 < 1): as-of is <=.
#
# Scale: both fan-outs are executor-side explodes inheriting the scan
# partitioning; the window partitions by video id — no global sort, no
# state beyond one frame row per partition cursor.
# ---------------------------------------------------------------------------

_CALIGN_ORACLE = """
WITH caps AS (
  SELECT doc_id, sha256(text) AS content_hash,
         CAST(1 + length(text) % 4 AS INT) AS n_frames,
         len(string_split(text, ' ')) AS n_words
  FROM documents
), fan AS (
  SELECT doc_id, content_hash, n_frames,
         CAST(c AS BIGINT) AS caption_idx,
         CAST(700 * c AS BIGINT) AS cap_ts_ms
  FROM caps, unnest(generate_series(0, (n_words - 1) // 8)) AS t(c)
)
SELECT doc_id, caption_idx, cap_ts_ms,
       CAST(least(cap_ts_ms // 1000, n_frames - 1) AS INT) AS frame_idx,
       md5(content_hash || '-' ||
           CAST(least(cap_ts_ms // 1000, n_frames - 1) AS VARCHAR)) AS frame_key,
       CAST(cap_ts_ms - 1000 * least(cap_ts_ms // 1000, n_frames - 1) AS BIGINT) AS lag_ms
FROM fan
"""


@register("mm_caption_align", _CALIGN_ORACLE)
def mm_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption→frame as-of alignment via union + last-seen window,
    certified against the closed-form oracle (see block comment)."""
    frames = mm_frame_sample(spark, sf_dir).select(
        "doc_id",
        (F.col("frame_idx").cast("long") * 1000).alias("ts"),
        F.lit(0).alias("kind"),
        "frame_idx",
        "frame_key",
        F.lit(None).cast("long").alias("caption_idx"),
    )
    d = table(spark, sf_dir, "documents")
    caps = (
        d.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.expr("div(size(split(text, ' ')) - 1, 8)"),
                )
            ).alias("caption_idx"),
        )
        .select(
            "doc_id",
            (F.col("caption_idx") * 700).alias("ts"),
            F.lit(1).alias("kind"),
            F.lit(None).cast("int").alias("frame_idx"),
            F.lit(None).cast("string").alias("frame_key"),
            "caption_idx",
        )
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("ts", "kind", F.coalesce("frame_idx", "caption_idx"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = frames.unionByName(caps).select(
        "doc_id",
        "ts",
        "kind",
        "caption_idx",
        F.last("frame_idx", ignorenulls=True).over(w).alias("fidx"),
        F.last("frame_key", ignorenulls=True).over(w).alias("fkey"),
    )
    return merged.filter(F.col("kind") == 1).select(
        "doc_id",
        "caption_idx",
        F.col("ts").alias("cap_ts_ms"),
        F.col("fidx").alias("frame_idx"),
        F.col("fkey").alias("frame_key"),
        (F.col("ts") - 1000 * F.col("fidx")).cast("long").alias("lag_ms"),
    )


# ---------------------------------------------------------------------------
# mm_modality_budget_apply — EXECUTE mm_modality_budget_plan's byte
# apportionment (the llm_token_budget_apply closure applied to the
# media corpus): greedy-prefix admission per modality in doc_id order
# under the plan's exact quota — one modality-keyed byte cumsum, one
# broadcast quota join; the per-modality ledger (admitted items/bytes,
# headroom, exhaustion) is what the shard packer downstream consumes.
# The oracle SPLICES the registered plan's CTE chain (oracle_splice —
# anchor drift fails at import), so both engines derive the quota from
# the SAME apportionment; admission thresholds are pure BIGINT
# comparisons.  Scale: the cumsum is the mm_shard_manifest keyed
# window; the plan side is |modalities| rows, broadcast.
# ---------------------------------------------------------------------------


def _budget_apply_oracle() -> str:
    from maxscale_cdc_spark.registry import ORACLE, oracle_splice

    base = ORACLE["mm_modality_budget_plan"].rstrip()
    # per-doc rows feed the admission cumsum; the plan chain is kept
    # byte-identical above it
    base = oracle_splice(
        base,
        "WITH tagged AS (",
        """WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ), tagged AS (""",
    )
    return oracle_splice(
        base,
        """SELECT modality, n_items, n_bytes, floor_share,
           CAST(floor_share + CASE WHEN rr <= b - sum_floor THEN 1 ELSE 0 END
                AS BIGINT) AS byte_quota
    FROM ranked""",
        """, plan AS (
      SELECT modality, n_items,
             CAST(floor_share + CASE WHEN rr <= b - sum_floor THEN 1 ELSE 0 END
                  AS BIGINT) AS byte_quota
      FROM ranked
    ), cum AS (
      SELECT modality, doc_id, n_bytes,
             sum(n_bytes) OVER (PARTITION BY modality ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cumb
      FROM docs
    ), adm AS (
      SELECT c.modality, (c.cumb <= p.byte_quota) AS admitted, c.n_bytes
      FROM cum c JOIN plan p USING (modality)
    )
    SELECT p.modality, p.n_items, p.byte_quota,
           CAST(coalesce(sum(CASE WHEN a.admitted THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_admitted,
           CAST(coalesce(sum(CASE WHEN a.admitted THEN a.n_bytes ELSE 0 END), 0)
                AS BIGINT) AS admitted_bytes,
           CAST(p.byte_quota
                - coalesce(sum(CASE WHEN a.admitted THEN a.n_bytes ELSE 0 END), 0)
                AS BIGINT) AS headroom,
           (coalesce(sum(CASE WHEN a.admitted THEN 1 ELSE 0 END), 0) < p.n_items)
             AS exhausted
    FROM plan p LEFT JOIN adm a ON a.modality = p.modality
    GROUP BY p.modality, p.n_items, p.byte_quota""",
    )


@register("mm_modality_budget_apply", _budget_apply_oracle())
def mm_modality_budget_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-prefix admission per modality under the registered
    plan's byte quota, with the per-modality ledger (see block
    comment)."""
    plan = mm_modality_budget_plan(spark, sf_dir).select(
        "modality", "n_items", "byte_quota"
    )
    m = media_frame(spark, sf_dir)
    docs = m.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("modality"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    w = (
        W.partitionBy("modality")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = docs.select(
        "modality", "n_bytes", F.sum("n_bytes").over(w).alias("cumb")
    )
    adm = cum.join(F.broadcast(plan), "modality").select(
        "modality",
        "n_items",
        "byte_quota",
        (F.col("cumb") <= F.col("byte_quota")).alias("admitted"),
        "n_bytes",
    )
    return adm.groupBy("modality", "n_items", "byte_quota").agg(
        F.coalesce(F.sum(F.when(F.col("admitted"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_admitted"),
        F.coalesce(
            F.sum(F.when(F.col("admitted"), F.col("n_bytes")).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("admitted_bytes"),
        (
            F.first("byte_quota")
            - F.coalesce(
                F.sum(F.when(F.col("admitted"), F.col("n_bytes")).otherwise(0)),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("headroom"),
        (
            F.coalesce(F.sum(F.when(F.col("admitted"), 1).otherwise(0)), F.lit(0))
            < F.first("n_items")
        ).alias("exhausted"),
    ).select(
        "modality",
        "n_items",
        "byte_quota",
        "n_admitted",
        "admitted_bytes",
        "headroom",
        "exhausted",
    )


# ---------------------------------------------------------------------------
# mm_dedup_audio_fp — audio-style SEQUENCE fingerprint dedup
# (Chromaprint/Shazam shape): unlike mm_dedup_phash's single
# whole-blob hash, an audio match is an ALIGNMENT — each blob yields a
# SEQUENCE of per-frame sub-fingerprints, two recordings match when
# many frames agree at one CONSTANT OFFSET (a clip embedded in a
# longer recording matches at a non-zero offset, which no whole-hash
# scheme can see).  Frame extraction is the deterministic stub
# (4-word grams at stride 2 over the decoded payload — a real build
# swaps in spectral frames from ffmpeg and keeps every join); the
# matcher is real: exact-dup classes collapse FIRST (the phash
# lesson — identical blobs never reach the pair stage), then frames
# of class representatives equi-join on the sub-fingerprint, and a
# (rep_a, rep_b, offset-delta) count ≥ 4 is a match.  The
# gen_sf1x snippet copies (a short clip cut from a longer doc) are
# exactly the embedded-clip case this catches.
#
# Scale: the frame join is an equi-join on sub-fingerprint values;
# group sizes are bounded by gram frequency — production fingerprint
# systems BAN the top-df hashes (the equivalent of stopword grams)
# before joining, which caps the skew; everything exported is an
# integer and the pair stage is linear in matching frame pairs.
# ---------------------------------------------------------------------------

_AFP_MIN_ALIGNED = 4

_AFP_ORACLE = """
WITH cls AS (
  SELECT text, CAST(min(doc_id) AS BIGINT) AS rep,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY text
), w AS (
  SELECT rep, n_docs, string_split(text, ' ') AS w FROM cls
), fr0 AS (
  SELECT rep, n_docs,
         unnest(list_transform(generate_series(0, (len(w) - 4) // 2),
                k -> {'idx': k,
                      'gram': array_to_string(
                        list_slice(w, k * 2 + 1, k * 2 + 4), ' ')})) AS f
  FROM w WHERE len(w) >= 4
), fr AS (
  SELECT rep, n_docs, CAST(f.idx AS BIGINT) AS idx, f.gram AS gram FROM fr0
)
SELECT a.rep AS rep_a, b.rep AS rep_b,
       CAST(a.idx - b.idx AS BIGINT) AS delta,
       CAST(count(*) AS BIGINT) AS n_aligned
FROM fr a JOIN fr b ON a.gram = b.gram AND a.rep < b.rep
GROUP BY 1, 2, 3 HAVING count(*) >= 4
UNION ALL
SELECT rep, rep, CAST(0 AS BIGINT),
       CAST((len(w) - 4) // 2 + 1 AS BIGINT)
FROM w WHERE n_docs >= 2 AND len(w) >= 4
"""


@register("mm_dedup_audio_fp", _AFP_ORACLE)
def mm_dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-fingerprint audio dedup: per-frame sub-fingerprints
    equi-joined across exact-dup class reps, matches = (pair, offset
    delta) cells with ≥ 4 aligned frames; self-rows for multi-blob
    exact classes (see block comment)."""
    m = media_frame(spark, sf_dir)
    cls = (
        m.select("doc_id", F.decode("content", "utf-8").alias("text"))
        .groupBy("text")
        .agg(
            F.min("doc_id").cast("long").alias("rep"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )
    w = cls.select(
        "rep", "n_docs", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 4)
    frames = w.select(
        "rep",
        "n_docs",
        F.size("w").alias("nw"),
        F.explode(
            F.expr(
                "transform(sequence(0, CAST((size(w) - 4) / 2 AS INT)), "
                "k -> struct(CAST(k AS BIGINT) AS idx, "
                "array_join(slice(w, k * 2 + 1, 4), ' ') AS gram))"
            )
        ).alias("f"),
    ).select("rep", "n_docs", F.col("f.idx").alias("idx"), F.col("f.gram").alias("gram"))
    a, b = frames.alias("a"), frames.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .groupBy(
            F.col("a.rep").alias("rep_a"),
            F.col("b.rep").alias("rep_b"),
            (F.col("a.idx") - F.col("b.idx")).alias("delta"),
        )
        .agg(F.count("*").cast("long").alias("n_aligned"))
        .filter(F.col("n_aligned") >= _AFP_MIN_ALIGNED)
    )
    self_rows = w.filter(F.col("n_docs") >= 2).select(
        F.col("rep").alias("rep_a"),
        F.col("rep").alias("rep_b"),
        F.lit(0).cast("long").alias("delta"),
        (F.expr("div(size(w) - 4, 2)") + 1).cast("long").alias("n_aligned"),
    )
    return pairs.unionByName(self_rows)


# ---------------------------------------------------------------------------
# mm_pack_interleaved — INTERLEAVED multimodal sequence packing (the
# VLM training-data layout): each document contributes its text
# tokens followed by its image blocks (64 patch tokens per image,
# image count derived from the metadata), the per-source token stream
# is chunked into 2048-token training sequences
# (llm_pack_sequences' concat-and-chunk convention), and the export
# accounts each chunk's modality mix PLUS the rows a real packer must
# fix up: image blocks that STRADDLE a chunk boundary (patch blocks
# are atomic — a straddling image must be shifted or padded, and its
# count is the padding-cost estimate).  Image tokens are attributed
# to the block's START chunk (the atomic-intent accounting).
#
# Shape: one per-source cumsum window (packing is per-shard, the
# llm_pack_sequences scale rule), then two bounded explodes — text
# spans explode into the ≤⌈tt/2048⌉+1 chunks they overlap, images
# into one row each — and one (source, chunk) agg.  All integer math
# (`div`/`//`), both engines identical.
# ---------------------------------------------------------------------------

_MM_CHUNK = 2048
_MM_PATCH = 64

_MM_PACK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tt,
         CAST(doc_id % 3 AS BIGINT) AS n_img
  FROM documents
), runs AS (
  SELECT *, CAST(sum(tt + {_MM_PATCH} * n_img) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            - (tt + {_MM_PATCH} * n_img) AS ds
  FROM d
), tx0 AS (
  SELECT source,
         unnest(list_transform(
           generate_series(ds // {_MM_CHUNK}, (ds + tt - 1) // {_MM_CHUNK}),
           c -> {{'c': c,
                 'tok': least(ds + tt, (c + 1) * {_MM_CHUNK})
                        - greatest(ds, c * {_MM_CHUNK})}})) AS t
  FROM runs
), tx AS (
  SELECT source, CAST(t.c AS BIGINT) AS chunk_id,
         CAST(t.tok AS BIGINT) AS text_tokens
  FROM tx0
), im0 AS (
  SELECT source,
         unnest(list_transform(generate_series(0, CAST(n_img AS INT) - 1),
           i -> ds + tt + i * {_MM_PATCH})) AS s
  FROM runs WHERE n_img > 0
), im AS (
  SELECT source, CAST(s // {_MM_CHUNK} AS BIGINT) AS chunk_id,
         CAST({_MM_PATCH} AS BIGINT) AS image_tokens,
         CAST(CASE WHEN s // {_MM_CHUNK} <>
                        (s + {_MM_PATCH} - 1) // {_MM_CHUNK}
              THEN 1 ELSE 0 END AS BIGINT) AS straddle
  FROM im0
), tagg AS (
  SELECT source, chunk_id, CAST(sum(text_tokens) AS BIGINT) AS text_tokens
  FROM tx GROUP BY 1, 2
), iagg AS (
  SELECT source, chunk_id,
         CAST(sum(image_tokens) AS BIGINT) AS image_tokens,
         CAST(count(*) AS BIGINT) AS n_images,
         CAST(sum(straddle) AS BIGINT) AS n_straddling
  FROM im GROUP BY 1, 2
)
SELECT coalesce(t.source, i.source) AS source,
       coalesce(t.chunk_id, i.chunk_id) AS chunk_id,
       coalesce(t.text_tokens, 0) AS text_tokens,
       coalesce(i.image_tokens, 0) AS image_tokens,
       coalesce(i.n_images, 0) AS n_images,
       coalesce(i.n_straddling, 0) AS n_straddling
FROM tagg t FULL JOIN iagg i
  ON t.source = i.source AND t.chunk_id = i.chunk_id
"""


@register("mm_pack_interleaved", _MM_PACK_ORACLE)
def mm_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved text+image sequence packing: per-source 2048-token
    chunks with per-chunk modality accounting and the atomic-image
    straddle audit (see block comment)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("tt"),
        (F.col("doc_id") % 3).cast("long").alias("n_img"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    total = F.col("tt") + _MM_PATCH * F.col("n_img")
    runs = stage(d.withColumn("ds", F.sum(total).over(w) - total))
    tx = runs.select(
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(div(ds, {_MM_CHUNK}),"
                f" div(ds + tt - 1, {_MM_CHUNK})),"
                f" c -> struct(c AS c,"
                f" least(ds + tt, (c + 1) * {_MM_CHUNK})"
                f" - greatest(ds, c * {_MM_CHUNK}) AS tok))"
            )
        ).alias("t"),
    ).select(
        "source",
        F.col("t.c").cast("long").alias("chunk_id"),
        F.col("t.tok").cast("long").alias("text_tokens"),
    )
    im = (
        runs.filter(F.col("n_img") > 0)
        .select(
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST(n_img AS INT) - 1),"
                    f" i -> ds + tt + i * {_MM_PATCH})"
                )
            ).alias("s"),
        )
        .select(
            "source",
            F.expr(f"div(s, {_MM_CHUNK})").alias("chunk_id"),
            F.lit(_MM_PATCH).cast("long").alias("image_tokens"),
            (
                F.expr(f"div(s, {_MM_CHUNK})")
                != F.expr(f"div(s + {_MM_PATCH} - 1, {_MM_CHUNK})")
            )
            .cast("long")
            .alias("straddle"),
        )
    )
    tagg = tx.groupBy("source", "chunk_id").agg(
        F.sum("text_tokens").cast("long").alias("text_tokens")
    )
    iagg = im.groupBy("source", "chunk_id").agg(
        F.sum("image_tokens").cast("long").alias("image_tokens"),
        F.count("*").cast("long").alias("n_images"),
        F.sum("straddle").cast("long").alias("n_straddling"),
    )
    return tagg.join(iagg, ["source", "chunk_id"], "full").select(
        "source",
        "chunk_id",
        F.coalesce("text_tokens", F.lit(0)).cast("long").alias("text_tokens"),
        F.coalesce("image_tokens", F.lit(0)).cast("long").alias("image_tokens"),
        F.coalesce("n_images", F.lit(0)).cast("long").alias("n_images"),
        F.coalesce("n_straddling", F.lit(0)).cast("long").alias("n_straddling"),
    )


# ---------------------------------------------------------------------------
# mm_resolution_buckets — ASPECT-RATIO BUCKETING + patch-budget batch
# packing for native-resolution ViT training (NaViT / Qwen-VL style):
# variable-resolution images are snapped to the nearest aspect bucket
# (integer argmin of |w·bh − h·bw| over a fixed ladder — no floats),
# their ViT patch counts computed at patch size 4 (ceil(w/4)·ceil(h/4)
# as div arithmetic), and packed into fixed-budget batches (256
# patches) by a per-bucket running fill in (patches DESC, doc_id)
# total order — the mm_pack_interleaved convention: a straddling
# image keeps its batch assignment from its starting offset and is
# COUNTED (the padding-cost audit), not silently split.
#
# Dims ride the family's stub-decode convention (w = 16 + bytes%32,
# h = 16 + bytes%24 — mm_decode_stub), so the op measures the real
# plumbing (bucketing argmin, per-bucket windows, integer packing)
# over fake pixels.  Export per bucket: image count, total patches,
# batch count, straddle count.
#
# Scale: one broadcast of the 5-row ladder, one per-bucket window
# over O(images) rows, one 5-group rollup — embarrassingly linear;
# at 100 TB the window partitions by bucket AND a coarse doc_id
# range so no single bucket serializes (noted; here buckets ≪ cores).
# ---------------------------------------------------------------------------

_MMRB_LADDER = ((1, 1), (4, 3), (3, 4), (16, 9), (9, 16))
_MMRB_BUDGET = 256  # patches per packed batch
_MMRB_PATCH = 4


def _mmrb_ladder_sql() -> str:
    return ", ".join(f"({i}, {bw}, {bh})" for i, (bw, bh) in enumerate(_MMRB_LADDER))


@register(
    "mm_resolution_buckets",
    f"""
WITH dims AS (
  SELECT doc_id,
         CAST(16 + octet_length(encode(text)) % 32 AS BIGINT) AS w,
         CAST(16 + octet_length(encode(text)) % 24 AS BIGINT) AS h
  FROM documents
), ladder AS (
  SELECT * FROM (VALUES {_mmrb_ladder_sql()}) v(idx, bw, bh)
), snapped AS (
  SELECT doc_id, w, h, idx, bw, bh,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY abs(w * bh - h * bw), idx
         ) AS rn
  FROM dims CROSS JOIN ladder
), assigned AS (
  SELECT doc_id, bw, bh,
         ((w + {_MMRB_PATCH - 1}) // {_MMRB_PATCH})
         * ((h + {_MMRB_PATCH - 1}) // {_MMRB_PATCH}) AS patches
  FROM snapped WHERE rn = 1
), packed AS (
  SELECT bw, bh, patches,
         CAST(sum(patches) OVER (
           PARTITION BY bw, bh ORDER BY patches DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - patches AS ds
  FROM assigned
)
SELECT CAST(bw AS BIGINT) AS bucket_w, CAST(bh AS BIGINT) AS bucket_h,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(patches) AS BIGINT) AS total_patches,
       CAST(max(ds // {_MMRB_BUDGET}) + 1 AS BIGINT) AS n_batches,
       CAST(sum(CASE WHEN ds // {_MMRB_BUDGET}
                     <> (ds + patches - 1) // {_MMRB_BUDGET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
FROM packed
GROUP BY 1, 2
""",
)
def mm_resolution_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-bucket snap (integer argmin over the 5-bucket ladder) →
    ViT patch counts → per-bucket fixed-budget batch packing with the
    straddle audit (see block comment)."""
    m = media_frame(spark, sf_dir)
    dims = m.select(
        "doc_id",
        (16 + F.octet_length("content") % 32).cast("long").alias("w"),
        (16 + F.octet_length("content") % 24).cast("long").alias("h"),
    )
    ladder = spark.createDataFrame(
        [(i, bw, bh) for i, (bw, bh) in enumerate(_MMRB_LADDER)],
        "idx long, bw long, bh long",
    )
    assigned = first_per(
        dims.crossJoin(F.broadcast(ladder)),
        "doc_id",
        F.abs(F.col("w") * F.col("bh") - F.col("h") * F.col("bw")),
        "idx",
    ).select(
        "doc_id",
        "bw",
        "bh",
        (
            F.expr(f"div(w + {_MMRB_PATCH - 1}, {_MMRB_PATCH})")
            * F.expr(f"div(h + {_MMRB_PATCH - 1}, {_MMRB_PATCH})")
        ).alias("patches"),
    )
    wpack = (
        W.partitionBy("bw", "bh")
        .orderBy(F.col("patches").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = assigned.withColumn(
        "ds", F.sum("patches").over(wpack) - F.col("patches")
    )
    b = _MMRB_BUDGET
    return packed.groupBy(
        F.col("bw").alias("bucket_w"), F.col("bh").alias("bucket_h")
    ).agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum("patches").cast("long").alias("total_patches"),
        (F.max(F.expr(f"div(ds, {b})")) + 1).cast("long").alias("n_batches"),
        F.sum(
            (
                F.expr(f"div(ds, {b})")
                != F.expr(f"div(ds + patches - 1, {b})")
            ).cast("long")
        )
        .cast("long")
        .alias("n_straddling"),
    )


# ---------------------------------------------------------------------------
# mm_tiling_plan — VLM DYNAMIC TILING (the LLaVA-NeXT / InternVL
# preprocessing step): each image is split into a grid of fixed
# 16-px tiles, the grid chosen from all (cols, rows) with
# cols·rows ≤ 6 as the ASPECT-RATIO argmin — distance
# |cols·h − rows·w| / rows compared identically in both engines, ties
# broken (n_tiles DESC, cols ASC) — plus the global thumbnail tile;
# vision_tokens = (tiles + 1) · 64.  This is the table that prices a
# multimodal batch's vision-token budget (mm_modality_budget_plan
# consumes exactly such counts) and fixes the crop geometry every
# tile-level cache keys on.
#
# Scale: a 14-row candidate grid BROADCAST against the decode
# metadata (never the pixels), one per-doc argmin window — scan
# speed; the pixel-touching crop runs once per chosen tile in the
# real codec path (stubbed here, mm_decode_stub's contract).
# ---------------------------------------------------------------------------

_TILE_GRIDS = [(c, r) for c in range(1, 7) for r in range(1, 7) if c * r <= 6]


def _tiling_oracle() -> str:
    vals = ", ".join(f"({c}, {r})" for c, r in _TILE_GRIDS)
    return f"""
WITH dims AS (
  SELECT doc_id,
         CAST(16 + length(text) % 32 AS BIGINT) AS w,
         CAST(16 + length(text) % 24 AS BIGINT) AS h
  FROM documents
), grids(c, r) AS (VALUES {vals}),
scored AS (
  SELECT d.doc_id, d.w, d.h, g.c, g.r,
         row_number() OVER (
           PARTITION BY d.doc_id
           ORDER BY CAST(abs(g.c * d.h - g.r * d.w) AS DOUBLE) / g.r,
                    g.c * g.r DESC, g.c
         ) AS rn
  FROM dims d CROSS JOIN grids g
)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(c AS BIGINT) AS grid_cols, CAST(r AS BIGINT) AS grid_rows,
       CAST(c * r AS BIGINT) AS n_tiles,
       CAST((c * r + 1) * 64 AS BIGINT) AS vision_tokens
FROM scored WHERE rn = 1
"""


@register("mm_tiling_plan", _tiling_oracle())
def mm_tiling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio-matched dynamic tile grid + vision-token budget
    per image (see block comment)."""
    dims = mm_decode_stub(spark, sf_dir).select(
        "doc_id",
        F.col("width").cast("long").alias("w"),
        F.col("height").cast("long").alias("h"),
    )
    grids = spark.createDataFrame(_TILE_GRIDS, "c long, r long")
    best = first_per(
        dims.crossJoin(F.broadcast(grids)),
        "doc_id",
        (
            F.abs(F.col("c") * F.col("h") - F.col("r") * F.col("w")).cast("double")
            / F.col("r")
        ),
        (F.col("c") * F.col("r")).desc(),
        "c",
    )
    return best.select(
        "doc_id",
        F.col("w").alias("width"),
        F.col("h").alias("height"),
        F.col("c").alias("grid_cols"),
        F.col("r").alias("grid_rows"),
        (F.col("c") * F.col("r")).cast("long").alias("n_tiles"),
        ((F.col("c") * F.col("r") + 1) * 64).cast("long").alias("vision_tokens"),
    )
