"""Streaming media decode-on-arrival: Python codecs inside a micro-batch.

A multimodal training corpus arrives continuously; the decode/feature pass
must run per micro-batch, not as a nightly O(corpus) job. This operator is
the streaming composition of the batch codec suite: a file-source stream of
GIF blobs flows through the SAME Arrow-batched row map the batch queries use
(``multimodal._map_rows``, real LZW via ``gif_codec.py``), then into a
streaming aggregation by image geometry. ``mapInPandas`` on an unbounded
DataFrame is exactly the pattern's point — the decode is a stateless narrow
map, so Structured Streaming runs it per micro-batch with no state store,
and the downstream groupBy is the only stateful operator.

Driven to completion with availableNow + two source files (two
micro-batches); complete-mode output makes the final aggregate equal the
batch answer, which is what the DuckDB oracle recomputes from the raster
construction rule. Output values are exact integers (pixel-sum, not float
means), so the value-hash gate is solid.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_health_etl_spark.operators.gif_codec import decode_gif
from drive_health_etl_spark.operators.multimodal import _map_rows, attach_gif_images
from drive_health_etl_spark.streaming.spool import drain, scratch, spool


def _gif_geometry_row(blob: bytes) -> tuple[int, int, int]:
    idx, pal = decode_gif(bytes(blob))  # REAL LZW decode, in-stream
    h, w = idx.shape
    return int(w), int(h), int(pal[idx][:, :, 0].astype(np.int64).sum())


def gif_geometry(media: DataFrame) -> DataFrame:
    """Decode every (doc_id, content) GIF blob with the real LZW codec and
    aggregate (width, height) -> (n_images, total_gray)."""
    decoded = _map_rows(
        media, ["content"], _gif_geometry_row, "width int, height int, gray_sum long"
    )
    return decoded.groupBy("width", "height").agg(
        F.count("*").alias("n_images"),
        F.sum("gray_sum").alias("total_gray"),
    )


def st_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the GIF fixture corpus (two parquet spool files -> two
    micro-batches), decode every blob with the real LZW codec inside the
    stream, and aggregate (width, height) -> (n_images, total_gray)."""
    media = attach_gif_images(spark, sf_dir).select("doc_id", "content")
    with scratch(spark, "dhe_media_") as tmp:
        stream = spool(media, F.col("doc_id") % 2, f"{tmp}/src")
        q = drain(gif_geometry(stream), tmp, output_mode="complete")
    return spark.sql(f"SELECT width, height, n_images, total_gray FROM {q.name}")


ST_MEDIA_DECODE_SQL = """
WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 4 AS INTEGER) AS w,
         CAST(doc_id % 12 + 4 AS INTEGER) AS h,
         rpad(text || ' ', CAST((doc_id % 16 + 4) * (doc_id % 12 + 4) AS INTEGER),
              text || ' ') AS payload
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT doc_id, w, h, CAST(SUM(ord(substr(payload, u.i, 1))) AS BIGINT) AS gray_sum
  FROM img, UNNEST(generate_series(1, w * h)) AS u(i)
  GROUP BY doc_id, w, h
)
SELECT w AS width, h AS height, COUNT(*) AS n_images,
       CAST(SUM(gray_sum) AS BIGINT) AS total_gray
FROM px GROUP BY w, h
"""
