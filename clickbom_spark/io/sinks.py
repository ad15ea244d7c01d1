"""Object-store sinks (K1) — S3/lake writers.

The reference uploads single JSON documents with ``aws s3 cp``
(entrypoint.sh:19-35).  Spark-side, a path is a path: ``s3a://`` in
production, ``file://`` in tests — the code is identical, which is the
point of re-expressing the pipeline on Spark.

Two shapes:
- ``write_components_lake``: the scale path — exploded component rows
  as partitioned parquet (columnar, splittable, predicate-pushdown
  friendly).  This is what downstream analytics should read at 100 TB.
- ``write_sbom_document``: parity path — one merged CycloneDX JSON
  document, like the reference's single-object upload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_components_lake(components: DataFrame, path: str) -> None:
    """Partitioned parquet lake of warehouse tuples, appended to ``path``.

    Partitioning by ``source`` mirrors the LowCardinality(String)
    dictionary column (entrypoint.sh:225) and gives partition pruning
    for per-source queries; within files, rows are sorted by the
    MergeTree key for row-group min/max pruning on name lookups.
    """
    (
        components.sortWithinPartitions("name", "version", "license")
        .write.mode("append")
        .partitionBy("source")
        .parquet(path)
    )


def write_sbom_document(doc_df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """One merged SBOM document as a single JSON file (K1 parity).

    ``coalesce(1)`` is correct here by construction: the input is the
    single-row output of assemble_merged_doc.
    """
    doc_df.coalesce(1).write.mode(mode).json(path)

