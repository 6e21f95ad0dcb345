"""Spark 4 Python DataSource for gVCF text files — A1 ingestion as a REAL
pluggable source (`spark.read.format("gvcf_lines")`), not just a parser
over an existing DataFrame. This is the connector shape the reference
embodies (a storage adapter the query layer reads through): partition
planning (one input split per sample file), schema declaration, and
per-partition record iteration all live behind Spark's DataSource V2
Python API (public, added in Spark 4.0).

The registered query proves the pluggable path end-to-end: fixture gVCF
lines are materialized to real text files (hive-partitioned one dir per
sample, the per-sample-file layout real gVCF uses), read back through the
custom source, and hash-matched against the SAME DuckDB oracle as
`source_gvcf_lines` — pluggable-source parse ≡ JVM-expression parse.

Scale notes (100 TB): partition planning is file-granular here; real
deployments split large files by byte range aligned to line boundaries
(the planner returns more InputPartitions — same API). The Python parse
runs Arrow-batched per partition; `pushFilters` is available on the
reader for contig/range pushdown (left default here and noted — the
region predicate lands post-scan via Catalyst instead).
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.sources.gvcf_text import _GVCF_ORACLE, _fixture_lines
from gvcf_hbase_spark.sources.tables import fixture_copy

_SCHEMA = (
    "sample_id string, contig string, start long, end long, ref string, "
    "alt string, gt string, is_variant boolean, value string"
)

_END_RE = re.compile(r"(?:^|;)END=(\d+)")
_NON_REF_RE = re.compile(r",?<NON_REF>")


def _parse_line(sample_id: str, line: str):
    """Python twin of ``parse_gvcf_lines``'s JVM expressions — same field
    positions, END= fallback, <NON_REF> stripping, and value composition
    (gvcf_text.py:parse_gvcf_lines)."""
    if not line or line.startswith("#"):
        return None
    f = line.split("\t")
    contig, start, ref, alt_raw, info = f[0], int(f[1]), f[3], f[4], f[7]
    gt = f[-1].split(":")[0]
    m = _END_RE.search(info)
    end = int(m.group(1)) if m else start
    alt = _NON_REF_RE.sub("", alt_raw)
    is_variant = alt != ""
    value = f"{ref}>{alt}:{gt}" if is_variant else f"ref:{gt}"
    return (sample_id, contig, start, end, ref, alt, gt, is_variant, value)


class _GvcfFilePartition(InputPartition):
    def __init__(self, path: str, sample_id: str):
        self.path = path
        self.sample_id = sample_id


class _GvcfReader(DataSourceReader):
    def __init__(self, options):
        self.root = options["path"]

    def partitions(self):
        # one split per sample file (driver-side listing only); byte-range
        # sub-splitting is the same API with more partitions
        parts = []
        for p in sorted(glob.glob(os.path.join(self.root, "sample_id=*", "part-*"))):
            sample = os.path.basename(os.path.dirname(p)).split("=", 1)[1]
            parts.append(_GvcfFilePartition(p, sample))
        if not parts:
            raise FileNotFoundError(f"no gVCF sample files under {self.root}")
        return parts

    def read(self, partition: _GvcfFilePartition):
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                rec = _parse_line(partition.sample_id, line.rstrip("\n"))
                if rec is not None:
                    yield rec


class GvcfLinesDataSource(DataSource):
    """``spark.read.format("gvcf_lines").load(dir)`` over per-sample
    gVCF text files laid out as ``dir/sample_id=<s>/part-*``."""

    @classmethod
    def name(cls) -> str:
        return "gvcf_lines"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> _GvcfReader:
        return _GvcfReader(self.options)


def _ensure_fixture_files(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the deterministic fixture lines (span=9, the
    _GVCF_ORACLE shape) as per-sample text files once per version of
    their source table, orders (sources.tables.fixture_copy): one atomic
    rename publishes them, so concurrent or interrupted writers never
    expose a half-written directory."""

    def write(tmp: str) -> None:
        _fixture_lines(spark, sf_dir, span=9).write.mode("overwrite").partitionBy(
            "sample_id"
        ).text(tmp)

    return fixture_copy(sf_dir, "orders", "pyds", write)


@register(
    "source_gvcf_datasource",
    # identical oracle to source_gvcf_lines: the pluggable source must
    # parse byte-identically to the JVM-expression path
    oracle=_GVCF_ORACLE,
    tags=("gvcf", "source"),
)
def source_gvcf_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 ingestion through a registered Spark 4 Python DataSource:
    write the fixture corpus as one text file per sample, register the
    ``gvcf_lines`` format, and read it back typed. Hash-matched against
    the same oracle as `source_gvcf_lines` — proving the connector path
    and the in-engine parse agree record-for-record."""
    path = _ensure_fixture_files(spark, sf_dir)
    spark.dataSource.register(GvcfLinesDataSource)
    return spark.read.format("gvcf_lines").load(path)
