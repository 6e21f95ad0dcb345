"""Multimodal columns (north-star surface): treat image/audio/video as
opaque ``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` stages.

The container has no image/audio codecs, so the *decode* step is stubbed
(:func:`decode_media_stub` — raises for real formats, deterministic fake
for ``fake/*``), but everything Spark-side is real and tested: the binary
column, the mapInPandas batch shape (pandas DataFrame iterator in/out),
the output schema contract, and partition behavior. Swapping the stub for
PIL/ffmpeg changes one function, not the plan.

Scale: mapInPandas streams Arrow batches executor→Python worker; the
per-batch overhead amortizes, and binary payloads never touch the driver.
Feature extraction parallelism = input partitions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gvcf_hbase_spark.functions.vectors import as_double, norm
from gvcf_hbase_spark.registry import register
from gvcf_hbase_spark.session import one_compute_boundary
from gvcf_hbase_spark.sources.tables import load_table, spread_heavy


def decode_media_stub(payload: bytes, media_type: str) -> bytes:
    """STUB decode. Real image/audio/video decoding needs codec libraries
    not present in this environment; the Spark-side plumbing around this
    function (schema, batching, partitioning) is real.

    - ``fake/bytes``: identity — deterministic stand-in used by tests.
    - anything else: NotImplementedError, by design.
    """
    if media_type == "fake/bytes":
        return payload
    raise NotImplementedError(
        f"decode for {media_type!r} requires codec libs (PIL/ffmpeg); "
        "stubbed in this environment"
    )


_FEATURE_SCHEMA = "doc_id long, n_bytes long, head_byte int, byte_sum long"


def extract_binary_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas feature extractor over a binary column: byte length,
    first byte, and a byte-sum checksum — the decode-adjacent features
    that don't need a codec. Arrow moves the binary batches; pandas ops
    are vectorized per batch."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf[payload_col].map(
                lambda b: decode_media_stub(bytes(b), "fake/bytes")
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payload.map(len).astype("int64"),
                    "head_byte": payload.map(lambda b: b[0] if b else -1).astype("int32"),
                    "byte_sum": payload.map(lambda b: sum(b)).astype("int64"),
                }
            )

    return df.mapInPandas(gen, schema=_FEATURE_SCHEMA)


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           ascii(substr(text, 1, 1)) AS head_byte,
           CAST(list_aggregate(list_transform(range(1, length(text) + 1),
                                              i -> ascii(substr(text, i, 1))), 'sum') AS BIGINT) AS byte_sum
    FROM documents
    """,
    tags=("multimodal", "udf"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline end-to-end: build a binary payload column
    (UTF-8 text bytes stand in for media), run the mapInPandas extractor,
    and emit typed features. The oracle recomputes byte features in SQL —
    valid because the fixture text is ASCII (byte == char)."""
    d = load_table(spark, sf_dir, "documents")
    with_payload = spread_heavy(d).select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return extract_binary_features(with_payload)


@register(
    "multimodal_join",
    oracle="""
    SELECT d.doc_id, d.lang, e.label,
           len(string_split(d.text, ' ')) AS n_tokens,
           round(sqrt(list_aggregate(list_transform(CAST(e.embedding AS DOUBLE[]),
                                                    x -> x * x), 'sum')), 6) AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE e.label < 5 AND d.text LIKE '%the%'
    """,
    tags=("multimodal",),
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text+vector multimodal rows: documents ⋈ embeddings with a label
    and a text predicate — the canonical 'join modalities then filter'
    shape. Flattened output for the oracle comparison."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id).filter(
        (F.col("label") < 5) & F.col("text").like("%the%")
    )
    return joined.select(
        "doc_id",
        "lang",
        "label",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.round(norm(as_double("embedding")), 6).alias("emb_norm"),
    )


_RESIZE_TARGET = 64  # bytes in the "resized" payload


def resize_media(df: DataFrame, payload_col: str = "payload", target: int = _RESIZE_TARGET) -> DataFrame:
    """mapInPandas resize over a binary column: nearest-neighbor
    downsample to ``target`` bytes (src index = floor(i*len/target)) —
    the deterministic stand-in for an image resize kernel; a real
    implementation swaps the sampling line for PIL's resize and nothing
    else (schema, batching, partitioning identical). Emits the resized
    payload plus its fingerprint so a lossless pipeline downstream can
    dedup on resized content."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {"doc_id": [], "orig_len": [], "resized": [], "resized_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                b = bytes(payload)
                n = len(b)
                r = bytes(b[(i * n) // target] for i in range(target)) if n else b""
                out["doc_id"].append(doc_id)
                out["orig_len"].append(n)
                out["resized"].append(r)
                out["resized_md5"].append(hashlib.md5(r).hexdigest())
            yield pd.DataFrame(out)

    return df.mapInPandas(
        gen, schema="doc_id long, orig_len long, resized binary, resized_md5 string"
    )


@register(
    "multimodal_resize",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS orig_len,
           md5(array_to_string(list_transform(range(0, {_RESIZE_TARGET}),
                 i -> substr(text, CAST(i * length(text) // {_RESIZE_TARGET} + 1 AS INT), 1)),
               '')) AS resized_md5
    FROM documents
    """,
    tags=("multimodal", "udf"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize end-to-end on the fake-media payload (UTF-8 text bytes):
    nearest-neighbor downsample to {target} bytes inside the Arrow-batched
    resizer, fingerprint the result. The oracle replays the identical
    sampling arithmetic with substr — exact because the fixture is ASCII.
    The binary column itself is dropped from the comparison (hashes
    stand in for payload equality)."""
    d = load_table(spark, sf_dir, "documents")
    with_payload = spread_heavy(d).select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return resize_media(with_payload).select("doc_id", "orig_len", "resized_md5")


_FRAME_W = 32  # bytes per fake frame
_FRAME_STRIDE = 4  # sample every 4th frame

_FRAME_SCHEMA = (
    "doc_id long, frame_idx long, frame_md5 string, frame_len long"
)


def sample_frames(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas frame sampler over a binary column: chunk each payload
    into fixed-width frames and keep every k-th (the video frame-sampling
    shape — a real codec would replace the byte-slicing line only; the
    Spark plumbing is identical). Emits one row per sampled frame with a
    content fingerprint. Arrow batches stream executor→Python; nothing
    per-row crosses the driver, and output fan-out (rows > input rows)
    is natural to mapInPandas."""
    import hashlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_md5": [], "frame_len": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                b = bytes(payload)
                n_frames = -(-len(b) // _FRAME_W)  # ceil
                for i in range(0, n_frames, _FRAME_STRIDE):
                    frame = b[i * _FRAME_W : (i + 1) * _FRAME_W]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_md5"].append(hashlib.md5(frame).hexdigest())
                    out["frame_len"].append(len(frame))
            yield pd.DataFrame(out)

    return df.mapInPandas(gen, schema=_FRAME_SCHEMA)


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, text, CAST(ceil(len(text) / {_FRAME_W}.0) AS BIGINT) AS nf
      FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           md5(substr(text, CAST(i * {_FRAME_W} + 1 AS INT), {_FRAME_W})) AS frame_md5,
           CAST(len(substr(text, CAST(i * {_FRAME_W} + 1 AS INT), {_FRAME_W})) AS BIGINT)
             AS frame_len
    FROM f, unnest(range(0, nf, {_FRAME_STRIDE})) AS t(i)
    """,
    tags=("multimodal", "udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling end-to-end on the fake-media payload (UTF-8 bytes of
    ``text``): fixed 32-byte frames, every 4th kept. The oracle replays the
    chunking with substr arithmetic — exact because the fixture is ASCII
    (byte == char) and md5(utf8 bytes) is engine-portable."""
    d = load_table(spark, sf_dir, "documents")
    with_payload = spread_heavy(d).select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return sample_frames(with_payload)


_FRAME_BYTES = 256


@register(
    "multimodal_audio_energy",
    oracle=f"""
    WITH framed AS (
      SELECT doc_id, CAST(f AS INT) AS frame_idx,
             list_transform(
               range(f * {_FRAME_BYTES} + 1,
                     least((f + 1) * {_FRAME_BYTES}, length(text)) + 1),
               i -> ascii(substr(text, CAST(i AS INT), 1))) AS bytes
      FROM documents,
           unnest(range(0, CAST(ceil(length(text) / {_FRAME_BYTES}.0) AS BIGINT))) AS t(f)
    )
    SELECT doc_id, frame_idx,
           CAST(len(bytes) AS BIGINT) AS n_bytes,
           CAST(list_aggregate(bytes, 'sum') AS BIGINT) AS byte_sum,
           CAST(list_aggregate(bytes, 'sum') AS BIGINT) * 1000000 // len(bytes)
             AS mean_byte_micro
    FROM framed
    """,
    tags=("multimodal", "udf"),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style frame energy over a binary payload: split each
    payload into fixed 256-byte frames (last frame ragged) and emit
    per-frame sample count, sum, and mean amplitude — the windowed-energy
    shape of VAD/silence-trim preprocessing, with byte values standing in
    for PCM samples (the codec decode is the documented stub boundary;
    a real deployment swaps `np.frombuffer(..., '<i2')` in and nothing
    else changes). numpy does the frame math per Arrow batch via one
    cumsum per payload — no per-frame Python loop; output rows =
    Σ ceil(len/256) per doc. Oracle replays the frame arithmetic with
    ascii() sums (fixture text is ASCII, byte == char). The mean is a
    SCALED INTEGER (µ-byte = sum·10⁶ // n): sum/256 terminates exactly
    at the 7th decimal, so a 6dp double round hits half-way ties where
    numpy (banker's) and SQL (half-up) disagree — integer math has no
    tie to break (SURVEY §5.4 rule 4, the strict form)."""
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    with_payload = spread_heavy(d).select("doc_id", F.encode("text", "UTF-8").alias("payload"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, ns, sums = [], [], [], []
            for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(raw), dtype="uint8").astype("int64")
                if not len(b):
                    continue
                edges = np.arange(0, len(b), _FRAME_BYTES)
                csum = np.concatenate([[0], np.cumsum(b)])
                ends = np.minimum(edges + _FRAME_BYTES, len(b))
                ids.append(np.full(len(edges), doc_id, dtype="int64"))
                fidx.append(np.arange(len(edges), dtype="int32"))
                ns.append(ends - edges)
                sums.append(csum[ends] - csum[edges])
            if not ids:
                continue
            n = np.concatenate(ns)
            s = np.concatenate(sums)
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "frame_idx": np.concatenate(fidx),
                    "n_bytes": n,
                    "byte_sum": s,
                    "mean_byte_micro": s * 1_000_000 // n,
                }
            )

    return with_payload.mapInPandas(
        gen,
        "doc_id long, frame_idx int, n_bytes long, byte_sum long, mean_byte_micro long",
    )


_VAD_ORACLE = f"""
    WITH framed AS (
      SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             CAST(list_aggregate(list_transform(
               range(f * {_FRAME_BYTES} + 1,
                     least((f + 1) * {_FRAME_BYTES}, length(text)) + 1),
               i -> ascii(substr(text, CAST(i AS INT), 1))), 'sum') AS BIGINT)
               AS byte_sum,
             CAST(least((f + 1) * {_FRAME_BYTES}, length(text))
                  - f * {_FRAME_BYTES} AS BIGINT) AS n_bytes
      FROM documents,
           unnest(range(0, CAST(ceil(length(text) / {_FRAME_BYTES}.0) AS BIGINT))) AS t(f)
    ),
    tot AS (
      SELECT doc_id, CAST(sum(byte_sum) AS BIGINT) AS t_sum,
             CAST(sum(n_bytes) AS BIGINT) AS t_n
      FROM framed GROUP BY 1
    ),
    active AS (
      SELECT f.doc_id, f.frame_idx, f.byte_sum,
             f.frame_idx - row_number() OVER (PARTITION BY f.doc_id
                                              ORDER BY f.frame_idx) AS island
      FROM framed f JOIN tot USING (doc_id)
      WHERE f.byte_sum * tot.t_n > tot.t_sum * f.n_bytes
    ),
    seg AS (
      SELECT doc_id, min(frame_idx) AS start_frame, max(frame_idx) AS end_frame,
             CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(byte_sum) AS BIGINT) AS seg_byte_sum
      FROM active GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
                AS BIGINT) AS seg_idx,
           start_frame, end_frame, n_frames, seg_byte_sum
    FROM seg
"""


@register("multimodal_audio_vad_segments", oracle=_VAD_ORACLE, tags=("multimodal",))
def multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segments over the audio-style payload: frames whose
    energy exceeds the payload's own mean amplitude, merged into maximal
    contiguous runs (gaps-and-islands) — the silence-trim / utterance-
    extraction stage every speech pipeline runs between `multimodal_
    audio_energy`'s framing and the (stubbed) codec decode; the output
    (start_frame, end_frame) spans are what a downstream ASR batch
    actually transcribes.

    Composition, not new machinery: rides the SAME one-pass Arrow frame
    energy as `multimodal_audio_energy` (only frame scalars leave the
    Python stage — payload bytes never shuffle), adds a per-doc total
    (window over the doc's bounded frame rows), and the adaptive
    activity test is the CROSS-MULTIPLIED integer inequality
    byte_sum·Σn > Σsum·n_bytes — no division, no float, so ragged last
    frames and engine rounding can't flip a boundary frame. Island
    grouping and segment numbering are per-doc windows over frame
    counts (bounded by payload size), never corpus-wide."""
    frames = multimodal_audio_energy(spark, sf_dir).select(
        "doc_id", "frame_idx", "n_bytes", "byte_sum"
    )
    wd = Window.partitionBy("doc_id")
    with_tot = frames.select(
        "doc_id",
        "frame_idx",
        "byte_sum",
        "n_bytes",
        F.sum("byte_sum").over(wd).alias("t_sum"),
        F.sum("n_bytes").over(wd).alias("t_n"),
    )
    wo = Window.partitionBy("doc_id").orderBy("frame_idx")
    active = with_tot.filter(
        F.col("byte_sum") * F.col("t_n") > F.col("t_sum") * F.col("n_bytes")
    ).select(
        "doc_id",
        "frame_idx",
        "byte_sum",
        (F.col("frame_idx") - F.row_number().over(wo)).alias("island"),
    )
    seg = active.groupBy("doc_id", "island").agg(
        F.min("frame_idx").cast("bigint").alias("start_frame"),
        F.max("frame_idx").cast("bigint").alias("end_frame"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("byte_sum").cast("bigint").alias("seg_byte_sum"),
    )
    ws = Window.partitionBy("doc_id").orderBy("start_frame")
    return seg.select(
        "doc_id",
        F.row_number().over(ws).cast("bigint").alias("seg_idx"),
        "start_frame",
        "end_frame",
        "n_frames",
        "seg_byte_sum",
    )


_PHASH_ORACLE = """
    WITH codes AS (
      SELECT doc_id, length(text) AS n,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS cs
      FROM documents
    ),
    tot AS (SELECT doc_id, n, cs, list_aggregate(cs, 'sum') AS total FROM codes),
    segs AS (
      SELECT doc_id, n, cs, total, unnest(generate_series(0, 63)) AS seg FROM tot
    ),
    bits AS (
      SELECT doc_id, seg,
             CASE WHEN coalesce(list_aggregate(
                    list_slice(cs, seg * n // 64 + 1, (seg + 1) * n // 64),
                    'sum'), 0) * 64 > total
                  THEN 1 ELSE 0 END AS bit
      FROM segs
    ),
    blocks AS (
      SELECT doc_id, seg // 16 AS blk, sum(bit << (seg % 16)) AS bv
      FROM bits GROUP BY 1, 2
    ),
    sigs AS (
      SELECT doc_id,
             max(CASE WHEN blk = 0 THEN bv END) AS b0,
             max(CASE WHEN blk = 1 THEN bv END) AS b1,
             max(CASE WHEN blk = 2 THEN bv END) AS b2,
             max(CASE WHEN blk = 3 THEN bv END) AS b3
      FROM blocks GROUP BY 1
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS INT)
             AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
"""

_PHASH_SIG_SCHEMA = "doc_id long, b0 int, b1 int, b2 int, b3 int"


def phash_signatures(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """64-bit density perceptual hash over a binary payload, emitted as
    4 × 16-bit blocks: split the payload into 64 equal byte segments,
    bit i = (segment i's byte-sum × 64 > total byte-sum) — i.e. 'is this
    region denser than average', the byte-level analog of the DCT
    median rule real image pHash uses after decode. Block layout is not
    cosmetic: the blocks double as the LSH bands of the candidate join
    (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 blocks equal), and
    4 small ints dodge the int64 sign-bit pitfalls of a single 64-bit
    signature. numpy cumsum per payload inside Arrow batches."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(buf: bytes) -> list[int]:
            b = np.frombuffer(decode_media_stub(bytes(buf), "fake/bytes"), dtype=np.uint8)
            n = len(b)
            cs = np.concatenate([[0], np.cumsum(b, dtype=np.int64)])
            total = int(cs[-1])
            lo = (np.arange(64) * n) // 64
            hi = ((np.arange(64) + 1) * n) // 64
            seg = cs[hi] - cs[lo]
            bits = (seg * 64 > total).astype(np.int64)
            weights = 1 << (np.arange(64) % 16)
            return [int((bits[k * 16 : (k + 1) * 16] * weights[:16]).sum()) for k in range(4)]

        for pdf in batches:
            sigs = pdf[payload_col].map(one)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    **{f"b{k}": sigs.map(lambda s, k=k: s[k]).astype("int32") for k in range(4)},
                }
            )

    return df.mapInPandas(gen, schema=_PHASH_SIG_SCHEMA)


@register("multimodal_phash_neardup", oracle=_PHASH_ORACLE, tags=("multimodal", "dedup", "lsh"))
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection over binary payloads by perceptual-hash
    hamming distance ≤ 3 — the image-dedup shape (swap the byte-density
    signature for a post-decode DCT pHash and nothing else changes).

    Scale shape is the simhash/banding pattern, never all-pairs: each
    doc explodes into 4 (block_idx, block_value) rows; candidates come
    from a per-band equi-join (cost Σ bucket², concentrated exactly
    where near-dups are); the hamming verify joins the 4-block
    signatures back BY ID and filters with JVM bit_count — pigeonhole
    over the 4 bands makes recall at hamming ≤ 3 EXACT, so the oracle
    can be the quadratic all-pairs SQL replay and the hash must agree,
    not just overlap. Signature computation is one Arrow-batched
    mapInPandas pass; everything after runs on 5-int rows."""
    d = load_table(spark, sf_dir, "documents")
    # One lazy checkpoint: the signature pass is consumed FOUR times (both
    # sides of the band join + both sides of the hamming verify), and the
    # verify sides ride broadcast exchanges that AQE's exchange reuse does
    # not collapse with the band join's shuffle — unboundaried, the Arrow
    # pass re-read and re-hashed every payload up to 4x (r09 measured
    # 1.1-1.7 s -> 0.3 s at sf0.1). The checkpointed relation is 5 ints per
    # doc; payload bytes still never shuffle.
    sigs = phash_signatures(
        spread_heavy(d).select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    ).transform(one_compute_boundary)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(k).alias("blk"), F.col(f"b{k}").alias("bv"))
                for k in range(4)
            ])
        ).alias("band"),
    ).select("doc_id", "band.blk", "band.bv")
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["blk", "bv"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)])
    sb = sigs.select(F.col("doc_id").alias("id_b"), *[F.col(f"b{k}").alias(f"b{k}") for k in range(4)])
    hamming = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"b{k}"))) for k in range(4)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


_BYTE_HIST_ORACLE = """
    SELECT ascii(substr(d.text, i.i, 1)) AS byte,
           CAST(count(*) AS BIGINT) AS cnt
    FROM documents d, LATERAL (
      SELECT unnest(generate_series(1, length(d.text))) AS i
    ) i
    GROUP BY 1
"""


@register("multimodal_byte_histogram", oracle=_BYTE_HIST_ORACLE, tags=("multimodal",))
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide byte-value histogram over binary payloads — the
    cheapest content fingerprint there is (codec detection, corruption
    scans, entropy estimates all start here), and the pattern for ANY
    distributive statistic over binary columns: per-batch numpy
    ``bincount`` partials inside mapInPandas, then one 256-row-bounded
    aggregate merges them.

    The shuffle carries ≤ 256 rows per Arrow batch no matter how many
    terabytes of payload stream through — the map side collapses each
    batch to its local histogram (the same partial-aggregate discipline
    as the JVM's hash aggregates, done in numpy because the JVM can't
    fold over binary content). Payloads here are UTF-8 bytes of the
    ASCII fixture corpus, so the oracle can replay byte counts with
    character arithmetic (ascii ≡ byte below 0x80); a real media corpus
    changes the payload source, not this plan.
    """
    d = load_table(spark, sf_dir, "documents")
    wp = spread_heavy(d).select(F.encode("text", "UTF-8").alias("payload"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            counts = np.zeros(256, dtype="int64")
            for payload in pdf["payload"]:
                b = np.frombuffer(bytes(payload), dtype="uint8")
                counts += np.bincount(b, minlength=256)
            nz = np.flatnonzero(counts)
            yield pd.DataFrame(
                {"byte": nz.astype("int32"), "cnt": counts[nz]}
            )

    partials = wp.mapInPandas(gen, "byte int, cnt long")
    return partials.groupBy("byte").agg(F.sum("cnt").alias("cnt"))


_SCENE_FRAME_W = 32
_SCENE_CUT_TAU = 300

_SCENE_ORACLE = f"""
    WITH f AS (
      SELECT doc_id, text, CAST(ceil(len(text) / {_SCENE_FRAME_W}.0) AS BIGINT) AS nf
      FROM documents
    ),
    fr AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
             CAST(list_sum(list_transform(
               range(1, len(substr(text, CAST(i * {_SCENE_FRAME_W} + 1 AS INT),
                                   {_SCENE_FRAME_W})) + 1),
               j -> ascii(substr(substr(text, CAST(i * {_SCENE_FRAME_W} + 1 AS INT),
                                        {_SCENE_FRAME_W}), CAST(j AS INT), 1))))
             AS BIGINT) AS frame_sum
      FROM f, unnest(range(0, nf)) AS t(i)
    ),
    d AS (
      SELECT doc_id, frame_idx, frame_sum,
             frame_sum - lag(frame_sum) OVER (PARTITION BY doc_id
                                              ORDER BY frame_idx) AS delta
      FROM fr
    )
    SELECT doc_id, frame_idx, frame_sum, delta,
           abs(delta) > {_SCENE_CUT_TAU} AS is_cut
    FROM d WHERE delta IS NOT NULL
"""


@register("multimodal_scene_cuts", oracle=_SCENE_ORACLE, tags=("multimodal", "udf"))
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over fake-video payloads: chunk each binary
    payload into 32-byte frames, reduce each frame to a scalar signature
    (byte sum — a real pipeline substitutes a decoded-frame statistic or
    perceptual hash; the plan is identical), then flag frame boundaries
    where the signature jumps by > τ. This is the shot-segmentation
    primitive video curation runs before `multimodal_frame_sample`-style
    per-scene sampling.

    Two-stage split mirrors how this should execute at 100 TB: the
    payload-touching reduction happens INSIDE Arrow-batched mapInPandas
    (numpy frombuffer + per-frame add.reduceat — vectorized over the
    whole batch, no per-frame Python loop), emitting only (doc, frame,
    scalar) rows, so the shuffle carries signatures, never payload
    bytes; the temporal diff is then a JVM lag() window per doc on those
    scalars. The oracle replays frame sums with substr/ascii arithmetic
    — exact because the fixture payload is ASCII text bytes."""
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    with_payload = spread_heavy(d).select("doc_id", F.encode("text", "UTF-8").alias("payload"))

    def frame_sums(batches):
        for pdf in batches:
            ids, fidx, fsum = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                if b.size == 0:
                    continue
                starts = np.arange(0, b.size, _SCENE_FRAME_W)
                sums = np.add.reduceat(b.astype(np.int64), starts)
                ids.append(np.full(starts.size, doc_id, dtype=np.int64))
                fidx.append(np.arange(starts.size, dtype=np.int64))
                fsum.append(sums)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "frame_idx": np.concatenate(fidx),
                        "frame_sum": np.concatenate(fsum),
                    }
                )

    fr = with_payload.mapInPandas(
        frame_sums, "doc_id long, frame_idx long, frame_sum long"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    out = fr.withColumn(
        "delta", F.col("frame_sum") - F.lag("frame_sum").over(w)
    ).filter(F.col("delta").isNotNull())
    return out.select(
        "doc_id",
        "frame_idx",
        "frame_sum",
        "delta",
        (F.abs("delta") > _SCENE_CUT_TAU).alias("is_cut"),
    )


_CHUNK_LEN = 64

_CHUNK_DEDUP_ORACLE = f"""
    WITH chunks AS (
      SELECT d.source,
             md5(substr(d.text, (i.i - 1) * {_CHUNK_LEN} + 1, {_CHUNK_LEN}))
               AS chunk_hash
      FROM documents d, LATERAL (
        SELECT unnest(generate_series(
          1, CAST(ceil(length(d.text) / {_CHUNK_LEN}.0) AS BIGINT))) AS i
      ) i
      WHERE length(d.text) > 0
    ),
    per_hash AS (
      SELECT source, chunk_hash, count(*) AS k FROM chunks GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(k) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(k) - count(*) AS BIGINT) AS n_dup,
           CAST(floor((sum(k) - count(*)) * 1000000.0 / sum(k) + 0.5) AS BIGINT)
             AS dup_ratio_1e6
    FROM per_hash GROUP BY source
"""


def _chunk_dup_ratio(chunks: DataFrame) -> DataFrame:
    """Per-source chunk dedup report over (source, chunk_hash) rows: the
    per-hash count (map-side combined), then the per-source rollup of
    chunks, distinct chunks, duplicates and the quantized dup ratio."""
    per_hash = chunks.groupBy("source", "chunk_hash").agg(F.count("*").alias("k"))
    return per_hash.groupBy("source").agg(
        F.sum("k").cast("bigint").alias("n_chunks"),
        F.count("*").cast("bigint").alias("n_distinct"),
        (F.sum("k") - F.count("*")).cast("bigint").alias("n_dup"),
        F.floor(
            (F.sum("k") - F.count("*")) * 1_000_000.0 / F.sum("k") + F.lit(0.5)
        )
        .cast("bigint")
        .alias("dup_ratio_1e6"),
    )


@register("multimodal_chunk_dedup", oracle=_CHUNK_DEDUP_ORACLE, tags=("multimodal", "dedup"))
def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level storage deduplication over opaque binary payloads:
    each payload splits into fixed 64-byte chunks, chunks hash, and the
    per-source report counts total vs distinct chunks — the
    dedup-ratio estimate a content-addressable blob store (or a
    training-shard packer deciding whether chunk-level dedup pays) runs
    before committing to the layout. Fixed-width chunking is the
    deterministic baseline; content-defined (rolling-hash) boundaries
    drop in by replacing the chunk index expression.

    The chunk index explodes JVM-side (sequence over ceil(len/W) — no
    Python), each chunk is substr on the BINARY payload, and the two
    aggregates (per-hash count with map-side combine, then per-source
    rollup) both collapse on Zipf-ish hash keys. At 100 TB the
    per-hash shuffle carries one row per distinct chunk per task —
    the dedup win itself is what bounds the shuffle. Byte semantics:
    the fixture payload is ASCII text encoded UTF-8, so the oracle's
    character substr sees the same bytes (`multimodal_byte_histogram`'s
    established equivalence)."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    payload = d.select(
        "source", F.encode("text", "UTF-8").alias("payload"), F.octet_length(F.encode("text", "UTF-8")).alias("blen")
    )
    n_chunks = F.ceil(F.col("blen") / float(_CHUNK_LEN)).cast("bigint")
    chunks = payload.select(
        "source",
        F.explode(F.sequence(F.lit(1), n_chunks)).alias("i"),
        "payload",
    ).select(
        "source",
        F.md5(
            F.expr(f"substring(payload, (i - 1) * {_CHUNK_LEN} + 1, {_CHUNK_LEN})")
        ).alias("chunk_hash"),
    )
    return _chunk_dup_ratio(chunks)


_CDC_MASK_BITS = 6  # 6 test bits => boundary prob 1/64 => mean chunk ~64 B
_CDC_SHIFT_W = 64  # gear hash width: h_i depends on exactly the last 64 bytes
# FastCDC-style bounds (mean/4, mean*4): the hash test is suppressed for
# the first _CDC_MIN-1 bytes of every chunk, and a cut is FORCED at
# _CDC_MAX — bounding both degenerate modes of a pure content rule
# (cut-everywhere => 1-byte chunks; cut-nowhere => one payload-sized chunk).
_CDC_MIN = 16
_CDC_MAX = 256


def _gear_table():
    """Deterministic 256-entry uint64 gear table: md5 of each byte value.
    No RNG — identical on every run, platform, and executor."""
    import hashlib

    import numpy as np

    return np.array(
        [
            int.from_bytes(hashlib.md5(bytes([i])).digest()[:8], "big")
            for i in range(256)
        ],
        dtype=np.uint64,
    )


def cdc_chunk_hashes(payload: bytes, gear) -> list[str]:
    """Content-defined chunk boundaries via the Gear rolling hash, fully
    vectorized: h_i = (h_{i-1} << 1) + G[b_i] mod 2^64, cut where the
    HIGH ``_CDC_MASK_BITS`` bits of h_i are all zero (the FastCDC/Gear
    convention: the left shift ages each byte's entropy TOWARD the high
    bits, so the high bits mix contributions from the whole 64-byte
    window — a low-bit test would see only the trailing 6 bytes).
    Because the shift ages a byte out of h after 64 steps, h_i is
    EXACTLY the windowed sum Σ_{k<64} G[b_{i-k}] << k — and since the
    window is 2^6 wide, that sum is computable by PREFIX DOUBLING in
    six vectorized passes (h[s:] += h[:-s] << s for s = 1,2,4,8,16,32:
    after the s-step, h_i holds Σ_{k<2s} G[b_{i-k}] << k) instead of
    the 64 shifted adds of the r08 version — measured 1.24 s → 0.27 s
    for the sf0.1 corpus single-threaded, byte-identical output
    (including every payload length 0..129; a production build fuses
    it into one C pass).
    Hash boundaries therefore depend only on the trailing 64 bytes:
    inserting or deleting bytes re-chunks a bounded region past the
    edit, the shift-robustness property fixed-width chunking lacks (and
    the whole point of CDC — see the property test). A long run of ONE
    byte value drives h to a constant, so the pure content rule would
    cut either everywhere or nowhere past the warm-up window (true of
    any deterministic content-defined rule); FastCDC's min/max bounds
    cap both failure modes: the hash test is suppressed inside the
    first ``_CDC_MIN - 1`` bytes of each chunk and a cut is FORCED at
    ``_CDC_MAX``, so every chunk length (except the final tail) lies in
    [_CDC_MIN, _CDC_MAX]. The candidate positions stay fully
    vectorized; only the O(#chunks) walk that applies the bounds is
    sequential (as is the per-chunk md5 it feeds)."""
    import hashlib

    import numpy as np

    b = np.frombuffer(payload, dtype=np.uint8)
    n = b.size
    if n == 0:
        return []
    # prefix doubling: after the s-pass, h_i = Σ_{k<2s} G[b_{i-k}] << k
    # (positions i < s keep only their k <= i terms, exactly like the
    # unrolled-adds version — slices never reach past the array start)
    h = gear[b].copy()
    s = 1
    while s < _CDC_SHIFT_W:
        h[s:] += h[:-s] << np.uint64(s)
        s *= 2
    # candidate cut ENDS (inclusive byte index) under the pure hash rule
    cand = np.flatnonzero((h >> np.uint64(64 - _CDC_MASK_BITS)) == 0)
    out, start = [], 0
    while start < n:
        lo = start + _CDC_MIN - 1  # earliest allowed inclusive end
        hi = min(start + _CDC_MAX - 1, n - 1)  # forced cut / end of payload
        i = int(np.searchsorted(cand, lo))
        e = int(cand[i]) if i < cand.size and cand[i] <= hi else hi
        out.append(hashlib.md5(payload[start : e + 1]).hexdigest())
        start = e + 1
    return out


@register("multimodal_cdc_chunk_dedup", oracle=None, tags=("multimodal", "dedup"))
def multimodal_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`multimodal_chunk_dedup`'s fixed 64-byte grid, upgraded to
    CONTENT-DEFINED chunking (the upgrade that op's docstring promises):
    boundaries come from a Gear rolling hash of the trailing 64 bytes
    (see :func:`cdc_chunk_hashes`), so two payloads that share content at
    DIFFERENT offsets still produce identical chunks — the dedup a blob
    store actually achieves on shifted/near-duplicate media, which the
    fixed grid structurally cannot see.

    Plan shape is identical to the fixed twin: one mapInPandas pass turns
    payload bytes into (source, chunk_hash) rows — the only Python stage,
    Arrow-batched, emitting ~len/64 rows per payload — then the per-hash
    count and per-source rollup collapse with map-side combine. The
    shuffle carries one row per distinct chunk per task; payload bytes
    never shuffle. Rows-only by design: a windowed rolling hash is not
    expressible in the oracle's SQL; determinism, shift-robustness, and
    report-invariant properties are pinned in tests instead."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    wp = spread_heavy(d).select("source", F.encode("text", "UTF-8").alias("payload"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gear = _gear_table()
        for pdf in batches:
            if pdf.empty:
                continue
            srcs, hashes = [], []
            for src, payload in zip(pdf["source"], pdf["payload"]):
                hs = cdc_chunk_hashes(bytes(payload), gear)
                srcs.extend([src] * len(hs))
                hashes.extend(hs)
            if srcs:
                yield pd.DataFrame({"source": srcs, "chunk_hash": hashes})

    chunks = wp.mapInPandas(gen, "source string, chunk_hash string")
    return _chunk_dup_ratio(chunks).orderBy("source")


_SHARD_BUDGET = 8_192  # bytes per training shard (soft cap)
_SHARD_BKT_W = 100  # docs per prefix-sum bucket

_SHARD_MANIFEST_ORACLE = f"""
    WITH sized AS (
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_bytes,
             sum(n_bytes) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS c
      FROM sized
    ),
    assigned AS (
      SELECT doc_id, n_bytes, c - n_bytes AS off,
             CAST(floor(CAST(c - n_bytes AS DOUBLE) / {_SHARD_BUDGET}) AS BIGINT)
               AS shard_id
      FROM cum
    )
    SELECT shard_id,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           CAST(min(off) AS BIGINT) AS shard_start_off
    FROM assigned
    GROUP BY shard_id
"""


@register("multimodal_shard_manifest", oracle=_SHARD_MANIFEST_ORACLE, tags=("multimodal", "curation"))
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard manifest for binary payloads: lay payloads
    out in stable doc_id order, assign each to the byte-budget shard its
    span BEGINS in (soft cap — a straddling payload stays with its
    shard, exactly `curate_pack_batches`' rule but in bytes), and emit
    the per-shard index a tar-shard writer needs: item count, byte
    mass, doc range, and the shard's start offset in the concatenated
    stream.

    Scale: byte offsets need a global prefix sum — computed with the
    two-phase distributed form (per-bucket local cumsum + exclusive
    offsets over ONE ROW PER BUCKET), bit-identical to the naive
    single-partition window the oracle uses. The manifest aggregate is
    #shards rows; payload bytes themselves never shuffle (the plan
    touches only (doc_id, n_bytes))."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        (F.col("doc_id") / _SHARD_BKT_W).cast("long").alias("bkt"),
    )
    in_bkt = Window.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = sized.withColumn("local_cum", F.sum("n_bytes").over(in_bkt))
    bkt_tot = sized.groupBy("bkt").agg(F.sum("n_bytes").alias("bkt_sum"))
    off_w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bkt_tot.select(
        "bkt", F.coalesce(F.sum("bkt_sum").over(off_w), F.lit(0)).alias("bkt_off")
    )
    assigned = (
        local.join(F.broadcast(offsets), "bkt")
        .withColumn("off", F.col("bkt_off") + F.col("local_cum") - F.col("n_bytes"))
        .withColumn(
            "shard_id",
            F.floor(F.col("off").cast("double") / _SHARD_BUDGET).cast("long"),
        )
    )
    return assigned.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
        F.min("off").cast("bigint").alias("shard_start_off"),
    )
