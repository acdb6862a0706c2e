"""Multimodal column plumbing — binary payloads with typed metadata.

The reference rasterizes PDF pages and crops figure regions for VLM
captioning (ir_processor.py:169-170, 467-508; vlm.py:79-507). Per the north
rule those model calls are replaced by deterministic rules, but a
training-data pipeline still needs the *plumbing* for opaque media columns:
schema, partitioning, Arrow batch shape, and a decode/feature-extract UDF
signature. The image/audio libraries are not in this container, so the
DECODE step is stubbed (`decode_image_stub` raises NotImplementedError by
design; `kernel.imagex.fake_decode_gray` provides the deterministic fake) —
but the perceptual hash is the reference's REAL 8×8 average-hash algorithm
(D3, deduplicator.py:85-101), oracle-checked against a full DuckDB
re-implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.imagex import (GRID, avg_hash_64, fake_decode_gray,
                             image_features_row)
from .arrowmap import map_rows, salted

IMAGE_FEATURES_SCHEMA = (
    "media_id string, n_bytes long, entropy_q double, phash string, "
    "format_guess string"
)


def decode_image_stub(raw: bytes):
    """Real decode requires PIL/opencv — not in this container. The Spark
    plumbing around this call (schema, batching, partitioning) is real and
    tested with the deterministic fake in kernel.imagex; the average-hash
    itself (reference D3, deduplicator.py:85-101) is the REAL algorithm."""
    raise NotImplementedError(
        "image decode requires PIL/opencv (not installed); "
        "use image_features() which substitutes kernel.imagex.fake_decode_gray"
    )


def image_features(media: DataFrame, id_col: str = "media_id",
                   bytes_col: str = "content") -> DataFrame:
    """Arrow feature extraction over a binary media column — the decode
    slot of the pipeline. phash is a genuine 8×8 average-hash
    (kernel.imagex.avg_hash_64) over the deterministic fake decode."""

    def features(m, raw):
        return [image_features_row(str(m), raw)]

    return salted(media.select(id_col, bytes_col), id_col).mapInArrow(
        map_rows(features, IMAGE_FEATURES_SCHEMA), IMAGE_FEATURES_SCHEMA)


def media_from_blocks(blocks: DataFrame) -> DataFrame:
    """S5 analog (embedded-image scan, aggregator.py:219-257 [legacy]): emit
    one media row per visual block (figure/chart). Real image bytes don't
    exist in the HTML-text lane, so the payload is the deterministic
    fake-decode contract input (caption/text bytes) — the schema, keys and
    downstream feature/dedup path are the real thing."""
    vis = blocks.where(F.col("type").isin("figure", "chart"))
    return vis.select(
        F.concat_ws("/", "doc_id", "block_id").alias("media_id"),
        F.col("type").alias("media_type"),
        F.encode(F.coalesce(F.col("caption"), F.col("text"), F.lit("")),
                 "utf-8").alias("content"),
        "doc_id", "block_id",
    )


def write_media_blobs(media: DataFrame, out_dir: str,
                      id_col: str = "media_id",
                      bytes_col: str = "content") -> DataFrame:
    """K5 analog (image-crop sink, ir_processor.py:467-508): blob-per-row
    writer via foreachPartition — executors write files named from the media
    id; the returned frame carries the relative path column exactly like the
    reference records crop paths on blocks. At scale this is the
    object-store put pattern (one file per media row, path derivable from
    the key — no driver involvement)."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows):
        for r in rows:
            rel = str(r[id_col]).replace("/", "_") + ".bin"
            with open(os.path.join(out_dir, rel), "wb") as f:
                f.write(bytes(r[bytes_col]) if r[bytes_col] is not None else b"")

    media.foreachPartition(write_part)
    return media.withColumn(
        "image_path",
        F.concat(F.regexp_replace(F.col(id_col), "/", "_"), F.lit(".bin")),
    )


VIDEO_FRAMES_SCHEMA = (
    "media_id string, n_bytes long, n_frames int, "
    "frames array<struct<frame_idx: int, offset: long, phash: string>>"
)


def video_frame_features(media: DataFrame, frame_bytes: int = 4096,
                         every_n: int = 4, id_col: str = "media_id",
                         bytes_col: str = "content") -> DataFrame:
    """Frame-SAMPLING plumbing for opaque video columns: the payload is cut
    into fixed-size 'frames' (a deterministic byte-slicer stands in for the
    absent codec libraries), every `every_n`-th frame is kept, and each gets
    the reference's genuine 8×8 average-hash — the input of a video near-dup
    stage. One row per media item with a nested frame array whose size is
    capped by payload/frame_bytes/every_n; rows are salted by id hash like
    image_features."""
    def frames(m, raw):
        raw = raw or b""
        out = [(fi, off, avg_hash_64(fake_decode_gray(
                   raw[off:off + frame_bytes])))
               for fi, off in enumerate(range(0, len(raw), frame_bytes))
               if fi % every_n == 0]
        return [(str(m), len(raw), len(out), out)]

    return salted(media.select(id_col, bytes_col), id_col).mapInArrow(
        map_rows(frames, VIDEO_FRAMES_SCHEMA), VIDEO_FRAMES_SCHEMA)


RESIZED_SCHEMA = (
    "media_id string, grid int, pixels array<int>"
)


def resize_media(media: DataFrame, target_grid: int = 8,
                 id_col: str = "media_id",
                 bytes_col: str = "content") -> DataFrame:
    """RESIZE plumbing: media payload → target_grid×target_grid grayscale
    thumbnail by block-mean pooling over the deterministic fake decode (the
    real decoder slot is decode_image_stub). Pooling is the arithmetic of
    the reference's resize-before-VLM (vlm.py:122-126)."""
    if GRID % target_grid != 0:
        raise ValueError(
            f"target_grid must divide the decode grid {GRID} "
            f"(got {target_grid})")  # a bare assert vanishes under -O
    blk = GRID // target_grid

    def pool(m, raw):
        px = fake_decode_gray(raw or b"")
        pooled = []
        for by in range(target_grid):
            for bx in range(target_grid):
                s = 0
                for y in range(by * blk, (by + 1) * blk):
                    row = y * GRID
                    for x in range(bx * blk, (bx + 1) * blk):
                        s += px[row + x]
                pooled.append(s // (blk * blk))
        return [(str(m), target_grid, pooled)]

    return salted(media.select(id_col, bytes_col), id_col).mapInArrow(
        map_rows(pool, RESIZED_SCHEMA), RESIZED_SCHEMA)
