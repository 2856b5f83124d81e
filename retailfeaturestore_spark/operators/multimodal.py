"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Extension surface (BASELINE.json north star): image/audio/video content is
carried as a ``binary`` column with a typed metadata struct.  No query
decodes media, so no codec lives here.

At 100 TB the payload column dominates IO: keep it OUT of shuffle keys and
aggregations (metadata-only exchanges), and project it away wherever only
metadata is read (``payload_meta``: the scan's ReadSchema drops it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["attach_payload", "payload_meta"]


def attach_payload(docs: DataFrame) -> DataFrame:
    """Simulate media ingest of ``text``: utf-8 payload bytes + typed
    metadata struct.

    With real media, the payload comes off object storage
    (``spark.read.format("binaryFile")``) and metadata from the container
    header; the column contract is identical.
    """
    return docs.withColumns(
        {
            "payload": F.encode(F.col("text"), "utf-8"),
            "media_meta": F.struct(
                F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
                F.md5(F.col("text")).alias("checksum"),
                F.lit("text/plain").alias("mime"),
            ),
        }
    )


def payload_meta(docs_with_payload: DataFrame) -> DataFrame:
    """Metadata-only projection — the payload column is pruned from the scan
    when downstream consumers only touch metadata (verify via ReadSchema)."""
    return docs_with_payload.select(
        F.col("doc_id"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.checksum").alias("checksum"),
        F.col("media_meta.mime").alias("mime"),
    )
