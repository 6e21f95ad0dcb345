"""Parquet table sources.

Reference parity: the reference's only source is a gVCF file parsed with
htsjdk into variant records that are then bulk-loaded into HBase (SURVEY
§2A A1/A6 — upstream recollection, reference checkout empty). Our engine's
sources are columnar Parquet scans: Catalyst pushes predicates to row-group
min/max stats (the Spark-native replacement for HBase start/stop-row range
scans) and prunes columns (the replacement for column-family projection).

Scale note (100 TB): ``spark.read.parquet`` over a partitioned/range-sorted
directory gives one task per file split; partition pruning + row-group
skipping mean a key-range query touches only the matching fraction of the
data, exactly like an HBase region scan — see plans/layout.py for the
writer half of that contract.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from gvcf_hbase_spark.session import apply_runtime_confs

_MISS = object()

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def with_event_time(df: DataFrame) -> DataFrame:
    """Derive the engine's canonical event-time columns from whatever
    physical type ``ts`` arrived as:

    - ``ts_us_long``: bigint epoch microseconds (exact arithmetic column —
      every band/as-of/window predicate runs on this);
    - ``ts_us``: µs TIMESTAMP_NTZ (window/session grouping, date math).

    Two physical sources exist in the wild: the fixtures carry
    ``timestamp[us]`` (arrives as TIMESTAMP_NTZ; the ntz→ltz cast under the
    UTC session timezone makes ``unix_micros`` exact), and legacy writers
    emit TIMESTAMP(NANOS), which under ``nanosAsLong=true`` arrives as long
    nanoseconds (``div 1000`` is exact integer math — a double round trip
    would lose precision at 1.7e18). Branching on the actual dtype keeps one
    distributed scan path for both; there is deliberately NO driver-side
    fallback — at 100 TB a pyarrow/pandas materialization is not slow, it is
    impossible.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        us = F.expr("ts div 1000")
    else:
        us = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.withColumn("ts_us_long", us).withColumn(
        "ts_us", F.timestamp_micros(F.col("ts_us_long")).cast("timestamp_ntz")
    )


def _parse_byte_conf(raw: str) -> int:
    """Parse a Spark byte-string conf value (``134217728``, ``128m``,
    ``1g``, ``134217728b`` — the JavaUtils.byteStringAsBytes grammar).
    Stripping non-digits is NOT safe here: ``'128m'`` would become 128
    bytes and silently wreck any size arithmetic built on it."""
    s = str(raw).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmgtp":
        mult = 1024 ** ("kmgtp".index(s[-1]) + 1)
        s = s[:-1]
    return int(s) * mult


def scan_size_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the DataFrame's scan, from the file listing
    (~4 ms) — the cheap stand-in for ``df.count()`` when an operator needs
    a size-based physical-strategy dispatch (e.g. broadcast brute-force vs
    blocked vector search). Returns None for non-file sources or remote
    filesystems where local stat fails; callers must treat None as
    "unknown, assume large" so the scale-safe path is the default."""
    return _listed_bytes(df.inputFiles())


def _listed_bytes(files: list[str]) -> int | None:
    """On-disk bytes of an ``inputFiles()`` listing; None when it is empty
    or not stat-able locally."""
    from urllib.parse import urlparse

    if not files:
        return None
    try:
        return sum(os.path.getsize(urlparse(f).path) for f in files)
    except OSError:
        return None


def scan_raw_bytes(df: DataFrame) -> int | None:
    """Total UNCOMPRESSED bytes of the DataFrame's parquet scan, from the
    file footers (~ms, local paths only). Compressed file size is a bad
    work proxy for clone-heavy corpora (the 10x-replicated sf1 fixture
    compresses to 1.5x the sf0.1 file while carrying 10x the per-byte
    compute), so work-gated dispatches read the raw size. None when the
    source is not local parquet — callers treat None as "unknown, assume
    large" so the scale-safe path is the default."""
    return _footer_bytes(df.inputFiles())


def _footer_bytes(files: list[str], stop_at: int | None = None) -> int | None:
    """Uncompressed bytes of an ``inputFiles()`` listing, summed from the
    parquet footers; None when it is empty or a footer is unreadable.
    With ``stop_at``, stops reading footers once the running total reaches
    it, so the result only answers ``total < stop_at``."""
    from urllib.parse import urlparse

    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            md = pq.ParquetFile(urlparse(f).path).metadata
            for rg in range(md.num_row_groups):
                total += md.row_group(rg).total_byte_size
            if stop_at is not None and total >= stop_at:
                break
        return total
    except Exception:
        return None


# Work floor for spread_heavy: the heaviest per-raw-byte pass in the
# Arrow tier (the Gear CDC rolling hash) runs ~0.17 us/byte single-
# threaded, so 8 MB is ~1.4 s of single-core work — the regime where
# paying one extra round-robin exchange (+~0.1-0.3 s of stage overhead
# at local scale) for a many-core win is clearly right. Below it the
# overhead rivals the win: the r10 A/B measured spread-always costing
# +0.1-0.33 s per key at sf0.1 (~1.5 MB raw) while saving 1.7-1.9 s per
# key at sf1 (~15 MB raw). Both fixtures sit a comfortable factor from
# the threshold on their correct sides.
_SPREAD_HEAVY_MIN_RAW_BYTES = 8 << 20


def spread_heavy(df: DataFrame) -> DataFrame:
    """spread() gated on RAW scan bytes: fan an under-parallel scan out
    ONLY when the single-split work is big enough to beat the extra
    exchange (see _SPREAD_HEAVY_MIN_RAW_BYTES). Unknown size => spread
    (scale-safe default; at scale spread() is itself a no-op). The scan
    is listed once, and footers are read only up to the floor."""
    files = df.inputFiles()
    raw = _footer_bytes(files, stop_at=_SPREAD_HEAVY_MIN_RAW_BYTES)
    if raw is not None and raw < _SPREAD_HEAVY_MIN_RAW_BYTES:
        return df
    return _spread_listed(df, files)


def spread(df: DataFrame) -> DataFrame:
    """Fan a table out across the cluster before compute-heavy per-row
    work — but ONLY when it actually arrives under-parallel.

    A small parquet table arrives as ONE input split, so an expensive
    per-row pipeline (shingling, hashing, vector math) would run on a
    single core no matter how many are available — measured 12.6 s → 1.7 s
    on the sf0.1 shingle explode by spreading first.

    The guard is the 100 TB half of the contract: at scale the same table
    arrives as thousands of splits, and an unconditional repartition would
    be a full shuffle of raw text/vectors for nothing. If the scan already
    yields >= the target parallelism, the input passes through untouched —
    so operators can call spread() unconditionally and stay correct at
    both ends of the scale.

    Parallelism is estimated from the scan's file listing (count, plus
    size/maxPartitionBytes splits for large files) — ~4 ms. The obvious
    alternative, ``df.rdd.getNumPartitions()``, compiles the plan to an
    RDD and costs ~1 s per call (measured); for non-file sources (no
    listing available) we fall back to it. Contract: call spread() on
    scans (or projections of scans) — it estimates the SCAN's
    parallelism and won't see a repartition a caller already applied."""
    return _spread_listed(df, df.inputFiles())


def _spread_listed(df: DataFrame, files: list[str]) -> DataFrame:
    """spread() over an ``inputFiles()`` listing the caller already took."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if files:
        est = len(files)
        total = _listed_bytes(files)
        if total is not None:
            try:
                raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
                max_bytes = _parse_byte_conf(raw)
            except ValueError:
                max_bytes = 134217728  # odd conf value: Spark's default
            est = max(est, total // max_bytes)
    else:
        est = df.rdd.getNumPartitions()
    if est >= target:
        return df
    return df.repartition(target)


def dataset_fingerprint(sf_dir: str, table: str) -> tuple | None:
    """Cheap local fingerprint of a fixture table: sorted (name,
    mtime_ns, size) of its parquet file(s). Content-keyed memos of
    build-time probes key on it, so a dataset regenerated at the same path
    in-process re-probes. Returns None when the path is not a local
    filesystem path (e.g. hdfs:// on a real cluster) — callers must then
    skip memoization rather than risk staleness."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isfile(root):
            st = os.stat(root)
            return ((root, st.st_mtime_ns, st.st_size),)
        if os.path.isdir(root):
            out = []
            for f in sorted(os.listdir(root)):
                p = os.path.join(root, f)
                if os.path.isfile(p):
                    st = os.stat(p)
                    out.append((f, st.st_mtime_ns, st.st_size))
            return tuple(out)
    except OSError:
        pass
    return None


def content_memo(memo: dict, sf_dir: str, table: str, compute: Callable, *key):
    """``compute()`` memoized per table version (dataset_fingerprint) and
    ``key``, for build-time probes and metadata of fixture data. A new
    version replaces the table's entry: one value per table. No fingerprint
    (a non-local path): no memo, correctness over warmth."""
    fp = dataset_fingerprint(sf_dir, table)
    if fp is None:
        return compute()
    k = (sf_dir, table, fp, *key)
    value = memo.get(k, _MISS)
    if value is _MISS:
        # unlocked: a race only computes twice; every entry fits its key
        value = compute()
        for old in [o for o in list(memo) if o[:2] == k[:2]]:
            memo.pop(old, None)
        memo[k] = value
    return value


_SCRATCH_LOCK = threading.Lock()
_SCRATCH_ROOT: tempfile.TemporaryDirectory | None = None


def scratch_dir(name: str) -> str:
    """A fresh directory for the files one build writes (so no build
    overwrites files an earlier build's DataFrame reads), under one root
    the process owns: made on first use, removed at interpreter exit."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.TemporaryDirectory(prefix="gvcf_scratch_")
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_SCRATCH_ROOT.name)


def fixture_copy(sf_dir: str, table: str, name: str, write: Callable[[str], None]) -> str:
    """Directory of a derived copy of fixture table ``table`` (another
    format, another layout) that ``write(dir)`` fills, written once per
    table version (:func:`dataset_fingerprint`) and shared by every
    process. One ``os.rename`` publishes it, so the path exists only when
    complete; the loser of a race and a ``write`` that raises leave
    nothing behind. No fingerprint: a fresh :func:`scratch_dir` per call."""
    fp = dataset_fingerprint(sf_dir, table)
    if fp is None:
        write(out := scratch_dir(name))
        return out
    root = os.path.join(tempfile.gettempdir(), "gvcf_fixture_copies")
    key = hashlib.md5(repr((os.path.abspath(sf_dir), table, fp)).encode()).hexdigest()
    out = f"{root}/{name}_{key[:16]}"
    if not os.path.isdir(out):
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{name}_", dir=root)
        try:
            write(tmp)
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else another process published first
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)  # gone once renamed
    return out


# Confs that change what Parquet schema inference returns for the same
# files; a memoized schema is keyed on their values as well.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
_SCHEMA_MEMO: dict[tuple, StructType] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The inferred schema of fixture table ``name``, inferred once per
    table version (see :func:`content_memo`) and schema-conf values, read
    after the engine's runtime confs are applied. Inference is a Spark job
    that reads the Parquet footers; the schema is table metadata, so later
    reads need not repeat it."""
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    return content_memo(
        _SCHEMA_MEMO, sf_dir, name, lambda: spark.read.parquet(path).schema, *confs
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    Applies the engine's runtime confs to the session first (the driver
    harness hands us a session we didn't build).

    The schema is inferred once per table version per process
    (:func:`table_schema`): the first read of a table pays Spark's
    one-task schema-inference job, and every later read of the same files
    under the same schema confs launches no job. Spark reads a given
    schema with every field nullable, as inference does, so the result's
    schema equals an inferred read's. A non-local path has no fingerprint
    and infers on every read.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(table_schema(spark, sf_dir, name)).parquet(path)
    return with_event_time(df) if name == "events" else df
