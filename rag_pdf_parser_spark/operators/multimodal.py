"""Image features over a binary media column.

The reference rasterizes PDF pages and crops figure regions for VLM
captioning (ir_processor.py:169-170, 467-508; vlm.py:79-507). Per the north
rule those model calls are replaced by deterministic rules. The image
libraries are not in this container, so decoding is the deterministic
`kernel.imagex.fake_decode_gray`, but the perceptual hash is the
reference's REAL 8×8 average-hash algorithm (D3, deduplicator.py:85-101),
oracle-checked against a full DuckDB re-implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..kernel.imagex import image_features_row
from .arrowmap import map_rows, salted

IMAGE_FEATURES_SCHEMA = (
    "media_id string, n_bytes long, entropy_q double, phash string, "
    "format_guess string"
)


def image_features(media: DataFrame) -> DataFrame:
    """Arrow feature extraction over the `content` bytes of a media table
    keyed by `media_id` — the decode slot of the pipeline. phash is a
    genuine 8×8 average-hash (kernel.imagex.avg_hash_64) over the
    deterministic fake decode."""

    def features(m, raw):
        return [image_features_row(str(m), raw)]

    return salted(media.select("media_id", "content"), "media_id").mapInArrow(
        map_rows(features, IMAGE_FEATURES_SCHEMA), IMAGE_FEATURES_SCHEMA)
