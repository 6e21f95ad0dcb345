"""Raw-file ingestion via Spark's ``binaryFile`` format — the entry path
for multimodal corpora that arrive as loose files (images, audio, model
shards) rather than rows. Each file becomes one row:
(path, modificationTime, length, content: binary).

Scale contract: binaryFile parallelizes per FILE (no intra-file splits),
so millions of small files hit the driver's listing and per-task overhead
— the production posture is exactly what this module demonstrates
end-to-end: ingest loose files ONCE, normalize into a parquet table with
a binary payload column (the multimodal family's layout,
operators/multimodal.py), and run everything downstream on the columnar
copy. ``pathGlobFilter``/``recursiveFileLookup`` prune the listing;
``spark.sql.files.maxPartitionBytes`` has no effect here (one file = one
row), so small-file consolidation IS the optimization.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.sources.tables import load_table, scratch_dir

_N_FILES = 200  # bounded fixture: one loose file per low-keyed document


def _materialize_files(spark: SparkSession, sf_dir: str) -> str:
    """Write the first _N_FILES documents as loose UTF-8 .txt files named
    by doc_id (fixture prep for the ingest-side read — the write side is
    setup, not the operator under test)."""
    rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _N_FILES)
        .select("doc_id", "text")
        .collect()
    )
    base = scratch_dir("binfiles")
    for r in rows:
        with open(os.path.join(base, f"{r.doc_id}.txt"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    return base


@register(
    "source_binary_files",
    oracle=f"""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5
    FROM documents WHERE doc_id < {_N_FILES}
    """,
    tags=("source", "multimodal"),
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loose-file ingestion round trip: materialize documents as
    individual .txt files, read them back with the ``binaryFile``
    format, recover the id from the file path, and fingerprint the
    binary payload (length + md5) — hash-verified against the original
    table, so path parsing, byte fidelity, and the binary-column
    plumbing are all oracle-checked. ``strlen``/UTF-8 equivalence holds
    because the fixture corpus is ASCII; the md5 runs over raw bytes on
    both sides either way.

    The id-from-path recovery (regexp over ``path``) is the standard
    key-reconstruction step every loose-file ingest needs before the
    columnar normalization join."""
    base = _materialize_files(spark, sf_dir)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(base)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
    )
