"""Multimodal (binary) column handling for LLM training-data pipelines.

Pattern: media lives in opaque ``binary`` columns with typed metadata
alongside; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so the raw bytes never cross a row-at-a-time Python
boundary. Image/audio codecs are probed at import: with PIL present
the image decode is real; otherwise (this container) the decode is a
clearly-marked deterministic fallback (`_fake_decode`, byte
statistics) — the Spark-side plumbing (schema, batch iteration,
partitioning) is identical either way and oracle-checked where
expressible.

Scale notes: binary payloads ride the normal columnar path (Parquet
BYTE_ARRAY); mapInPandas streams Arrow batches, so executor memory is
bounded by batch size (spark.sql.execution.arrow.maxRecordsPerBatch),
not partition size. binaryFile is the ingestion source for loose media
files; at 100 TB you partition the output by (modality, shard).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from iceberg_workshop_spark.registry import persist, register
from iceberg_workshop_spark.sources.tables import load

# Probe for real codecs at import; the container ships neither PIL nor
# torchaudio today, so the decode falls back to deterministic byte
# statistics — but if the environment gains them, the real path wires
# itself in without code changes.
try:  # pragma: no cover - env-dependent
    from PIL import Image as _PILImage

    HAVE_REAL_CODECS = True
except ImportError:
    _PILImage = None
    HAVE_REAL_CODECS = False


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-materialized as a binary payload column with
    typed metadata — the storage shape of a multimodal dataset."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("lang").alias("lang"),
            F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
        ).alias("meta"),
    )


@register(
    "q_llm_multimodal",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           substr(to_base64(encode(text)), 1, 24) AS b64_prefix
    FROM documents
    WHERE octet_length(encode(text)) >= 200
    ORDER BY doc_id
    """,
)
def q_llm_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column round trip: text → bytes → base64, with a
    metadata predicate on payload size. Exercises BinaryType end-to-end
    through codegen (encode/base64/octet_length are all JVM built-ins).
    """
    return (
        _payloads(spark, sf_dir)
        .filter(F.col("meta.n_bytes") >= 200)
        .select(
            "doc_id",
            F.col("meta.n_bytes").alias("n_bytes"),
            F.substring(F.base64("payload"), 1, 24).alias("b64_prefix"),
        )
        .orderBy("doc_id")
    )


_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("byte_mean", DoubleType()),
        StructField("byte_max", LongType()),
    ]
)


def _fake_decode(payload: bytes) -> dict:
    """Decode a media payload into sample statistics.

    With PIL present, image payloads are really decoded (pixel mean /
    max); non-image payloads — and every payload when no codec is
    installed — fall back to deterministic raw-byte statistics, so the
    schema and batch shape are identical either way."""
    if HAVE_REAL_CODECS and payload:
        import io

        try:
            with _PILImage.open(io.BytesIO(payload)) as img:
                px = list(img.convert("L").getdata())
                return {
                    "byte_mean": sum(px) / len(px) if px else 0.0,
                    "byte_max": max(px) if px else 0,
                }
        except Exception:  # noqa: BLE001 — not an image; fall through
            pass
    return {
        "byte_mean": (sum(payload) / len(payload)) if payload else 0.0,
        "byte_max": max(payload) if payload else 0,
    }


def _extract_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = pdf["payload"].map(_fake_decode)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "n_bytes": pdf["n_bytes"],
                "byte_mean": feats.map(lambda d: d["byte_mean"]),
                "byte_max": feats.map(lambda d: d["byte_max"]),
            }
        )


_BYTE_CODES_CTE = """
    codes AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            i -> ord(substr(text, CAST(i AS INT), 1))) AS b,
             CAST(length(text) AS BIGINT) AS n
      FROM documents
    )
"""


@register(
    "q_llm_multimodal_features",
    oracle=f"""
    WITH {_BYTE_CODES_CTE}
    SELECT doc_id, 'text/plain' AS mime, n AS n_bytes,
           CASE WHEN n = 0 THEN 0.0
                ELSE CAST(list_sum(b) AS DOUBLE) / n END AS byte_mean,
           CAST(CASE WHEN n = 0 THEN 0 ELSE list_max(b) END AS BIGINT)
             AS byte_max
    FROM codes ORDER BY doc_id
    """,
)
def q_llm_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas``:
    Arrow batches in, per-item decoded features out. The decode is a
    deterministic fake (byte statistics) standing where an image
    resize / audio frame-sample would run; batch shape and schema are
    the production ones."""
    flat = _payloads(spark, sf_dir).select(
        "doc_id",
        "payload",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    return flat.mapInPandas(_extract_features, schema=_FEATURE_SCHEMA).orderBy(
        "doc_id"
    )


_ORACLE_SF_DIR = os.environ.get("IWS_TEST_SF_DIR", "/root/testdata/sf0.01")


@register(
    "q_llm_binaryfile",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(octet_length(content) AS BIGINT) AS n_bytes,
           md5(hex(content)) AS content_md5
    FROM read_blob('{_ORACLE_SF_DIR}/*.parquet')
    ORDER BY file_name
    """,
)
def q_llm_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loose-file media ingestion via the ``binaryFile`` source: one
    row per file with name, byte length, and a content digest — how
    raw images/audio enter the lakehouse before being packed into
    payload columns. Exact oracle: DuckDB's read_blob lists the same
    directory, so names, sizes AND full content bytes (via md5) are
    pinned cross-engine. (The oracle path tracks IWS_TEST_SF_DIR so
    parity runs at any fixture dir compare the same corpus.)"""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.md5(F.hex("content")).alias("content_md5"),
    ).orderBy("file_name")


FRAME_BYTES = 16  # fake codec: fixed-size frames over the byte stream
FRAME_STRIDE = 4  # keep every 4th frame


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_sampled", LongType()),
        StructField("sampled_bytes", LongType()),
        StructField("sampled_crc", LongType()),
    ]
)


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame-sample each payload: split the byte stream into
    FRAME_BYTES-sized frames, keep every FRAME_STRIDE-th (the video
    keyframe-sampling shape; a real build swaps the splitter for an
    ffmpeg/PyAV iterator, schema unchanged). No container codec ships
    a frame iterator today, so the byte-frame splitter is always the
    decode; it is deterministic, so the rows-only oracle holds."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload or b"")
            frames = [
                b[i : i + FRAME_BYTES] for i in range(0, len(b), FRAME_BYTES)
            ]
            sampled = frames[::FRAME_STRIDE]
            rows.append(
                {
                    "doc_id": doc_id,
                    "n_frames": len(frames),
                    "n_sampled": len(sampled),
                    "sampled_bytes": sum(len(f) for f in sampled),
                    "sampled_crc": sum(sum(f) for f in sampled) % (1 << 31),
                }
            )
        yield pd.DataFrame(rows)


@register(
    "q_llm_multimodal_frames",
    oracle=f"""
    WITH {_BYTE_CODES_CTE}
    SELECT doc_id,
           (n + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS n_frames,
           ((n + {FRAME_BYTES - 1}) // {FRAME_BYTES} + {FRAME_STRIDE - 1})
             // {FRAME_STRIDE} AS n_sampled,
           CAST(COALESCE(list_sum(list_transform(
               range(0, (n + {FRAME_BYTES - 1}) // {FRAME_BYTES}),
               f -> CASE WHEN f % {FRAME_STRIDE} = 0
                    THEN LEAST({FRAME_BYTES}, n - {FRAME_BYTES} * f)
                    ELSE 0 END)), 0) AS BIGINT) AS sampled_bytes,
           CAST(COALESCE(list_sum(list_transform(range(1, n + 1),
               i -> CASE WHEN ((i - 1) // {FRAME_BYTES}) % {FRAME_STRIDE} = 0
                    THEN b[CAST(i AS INT)] ELSE 0 END)), 0) % 2147483648
                AS BIGINT) AS sampled_crc
    FROM codes ORDER BY doc_id
    """,
)
def q_llm_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads: Arrow batches
    through ``mapInPandas``, one output row per media item with
    sampled-frame statistics. Deterministic fake decode (fixed-width
    byte frames) keeps it reproducible; the distributed shape — batch
    iteration, bounded memory per Arrow batch, narrow output schema —
    is exactly the production frame-sampling pass."""
    flat = _payloads(spark, sf_dir).select("doc_id", "payload")
    return flat.mapInPandas(_sample_frames, schema=_FRAME_SCHEMA).orderBy(
        "doc_id"
    )


_CHUNK_WIN = 128
_CHUNK_HOP = 64

_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("n_chunks", LongType()),
    ]
)


def _chunk_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Audio-style overlapping window chunker: window 128 bytes, hop
    64, final window right-aligned (start = n-win) so no tail bytes
    are dropped — the layout an ASR/audio-tokenizer front end feeds."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            if n <= _CHUNK_WIN:
                starts = [0]
            else:
                starts = list(range(0, n - _CHUNK_WIN, _CHUNK_HOP))
                starts.append(n - _CHUNK_WIN)
            chunks = [payload[s : s + _CHUNK_WIN] for s in starts]
            rows.append((doc_id, n, len(chunks)))
        yield pd.DataFrame(rows, columns=["doc_id", "n_bytes", "n_chunks"])


@register(
    "q_llm_multimodal_audio",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN length(text) <= {_CHUNK_WIN} THEN 1
                ELSE 1 + (length(text) - {_CHUNK_WIN} + {_CHUNK_HOP} - 1)
                         // {_CHUNK_HOP} END AS BIGINT) AS n_chunks
    FROM documents ORDER BY doc_id
    """,
)
def q_llm_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style overlapping-window chunking over binary payloads
    (window 128 B, hop 64 B, right-aligned tail) via ``mapInPandas``.
    Unlike the rows-only decode queries, the chunk COUNT has a closed
    integer form — ``1 + ceil((n-win)/hop)`` — so the Python chunker's
    output is checked EXACTLY against SQL arithmetic on the payload
    length (fixture payloads are ASCII, so byte length == char
    length). Proves the Arrow batch plumbing end to end, not just
    that rows came back."""
    flat = _payloads(spark, sf_dir).select("doc_id", "payload")
    return flat.mapInPandas(_chunk_payloads, schema=_CHUNK_SCHEMA).orderBy("doc_id")


RESIZE_W = 16  # fake raster width; payload rows = len(payload) // 16
RESIZE_FACTOR = 2  # 2x2 mean-pool downsample


_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("in_w", LongType()),
        StructField("in_h", LongType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
        StructField("out_checksum", LongType()),
    ]
)


def _resize_payload(payload: bytes) -> dict:
    """Downsample a media payload to half resolution.

    With PIL present the payload is decoded and bilinear-resized for
    real; otherwise the deterministic fake treats the byte stream as a
    RESIZE_W-wide raster and 2×2 integer-mean pools it — same schema,
    same batch shape, reproducible checksum."""
    if HAVE_REAL_CODECS and payload:
        import io

        try:
            with _PILImage.open(io.BytesIO(payload)) as img:
                w, h = img.size
                out = img.resize((max(w // RESIZE_FACTOR, 1), max(h // RESIZE_FACTOR, 1)))
                px = list(out.convert("L").getdata())
                return {
                    "in_w": w, "in_h": h,
                    "out_w": out.size[0], "out_h": out.size[1],
                    "out_checksum": sum(px) % (1 << 31),
                }
        except Exception:  # noqa: BLE001 — not an image; fall through
            pass
    w = RESIZE_W
    h = len(payload) // w
    grid = [payload[r * w : (r + 1) * w] for r in range(h)]
    ow, oh = w // RESIZE_FACTOR, h // RESIZE_FACTOR
    checksum = 0
    for r in range(oh):
        for c in range(ow):
            block = (
                grid[2 * r][2 * c] + grid[2 * r][2 * c + 1]
                + grid[2 * r + 1][2 * c] + grid[2 * r + 1][2 * c + 1]
            )
            checksum = (checksum + block // 4) % (1 << 31)
    return {"in_w": w, "in_h": h, "out_w": ow, "out_h": oh, "out_checksum": checksum}


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = pdf["payload"].map(lambda b: _resize_payload(bytes(b or b"")))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "in_w": out.map(lambda d: d["in_w"]),
                "in_h": out.map(lambda d: d["in_h"]),
                "out_w": out.map(lambda d: d["out_w"]),
                "out_h": out.map(lambda d: d["out_h"]),
                "out_checksum": out.map(lambda d: d["out_checksum"]),
            }
        )


@register(
    "q_llm_multimodal_resize",
    oracle=f"""
    WITH {_BYTE_CODES_CTE}
    SELECT doc_id,
           CAST({RESIZE_W} AS BIGINT) AS in_w,
           n // {RESIZE_W} AS in_h,
           CAST({RESIZE_W // RESIZE_FACTOR} AS BIGINT) AS out_w,
           (n // {RESIZE_W}) // {RESIZE_FACTOR} AS out_h,
           CAST(COALESCE(list_sum(list_transform(
               range(0, ((n // {RESIZE_W}) // {RESIZE_FACTOR})
                        * {RESIZE_W // RESIZE_FACTOR}),
               k -> (  b[CAST({2 * RESIZE_W} * (k // {RESIZE_W // RESIZE_FACTOR})
                           + 2 * (k % {RESIZE_W // RESIZE_FACTOR}) + 1 AS INT)]
                     + b[CAST({2 * RESIZE_W} * (k // {RESIZE_W // RESIZE_FACTOR})
                           + 2 * (k % {RESIZE_W // RESIZE_FACTOR}) + 2 AS INT)]
                     + b[CAST({2 * RESIZE_W} * (k // {RESIZE_W // RESIZE_FACTOR})
                           + 2 * (k % {RESIZE_W // RESIZE_FACTOR}) + {RESIZE_W + 1} AS INT)]
                     + b[CAST({2 * RESIZE_W} * (k // {RESIZE_W // RESIZE_FACTOR})
                           + 2 * (k % {RESIZE_W // RESIZE_FACTOR}) + {RESIZE_W + 2} AS INT)]
                    ) // 4)), 0) % 2147483648 AS BIGINT) AS out_checksum
    FROM codes ORDER BY doc_id
    """,
)
def q_llm_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize over binary payloads via ``mapInPandas`` — the
    fourth multimodal primitive (decode → features → RESIZE → frame
    sample): Arrow batches stream through a pooled downsample, one row
    per media item with input/output geometry and a deterministic
    checksum. PIL-backed real resize wires itself in when the codec is
    present (same probe as the feature extractor); partitioning, batch
    shape and schema are the production ones either way."""
    return (
        _payloads(spark, sf_dir)
        .select("doc_id", "payload")
        .mapInPandas(_resize_batches, schema=_RESIZE_SCHEMA)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate detection over binary payloads

PHASH_ROWS = 6
PHASH_COLS = 11  # 10 comparisons per row -> 60-bit dHash (int64-safe)
PHASH_BITS = PHASH_ROWS * (PHASH_COLS - 1)
PHASH_BANDS = 6  # 10 bits per band
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS
PHASH_MAX_HAMMING = 5  # < PHASH_BANDS, so pigeonhole recall holds
_PH_SAMPLES = PHASH_ROWS * PHASH_COLS  # 66 sampled bytes


@register(
    "q_llm_multimodal_phash",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             i,
             ascii(substr(rpad(trim(regexp_replace(lower(regexp_replace(
                               text, '[^\\x09\\x0A\\x0D\\x20-\\x7E]', '',
                               'g')), '\\s+', ' ', 'g')),
                               {_PH_SAMPLES + 1}, ' '),
                          i + 1, 1)) AS g
      FROM documents, generate_series(0, {_PH_SAMPLES - 1}) AS t(i)
    ), bits AS (
      SELECT a.doc_id,
             (a.i // {PHASH_COLS}) * {PHASH_COLS - 1}
               + (a.i % {PHASH_COLS}) AS k,
             CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
      FROM px a JOIN px b
        ON b.doc_id = a.doc_id AND b.i = a.i + 1
      WHERE a.i % {PHASH_COLS} < {PHASH_COLS - 1}
    ), fp AS (
      SELECT doc_id,
             CAST(SUM(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS fp
      FROM bits GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, fp, b.b AS band,
             (fp >> ({PHASH_BAND_BITS} * b.b))
               & {(1 << PHASH_BAND_BITS) - 1} AS band_val
      FROM fp, generate_series(0, {PHASH_BANDS - 1}) AS b(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.fp AS fp_a, b.fp AS fp_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(fp_a, fp_b)) <= {PHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
)
def q_llm_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (dHash) near-duplicate detection over BINARY
    payloads — the image-dedup recipe (decode → downsample grid →
    gradient bits → band-and-verify), with the decode step the
    deterministic byte-sampler (module docstring: PIL absent, so the
    'pixels' are the first {_PH_SAMPLES} payload bytes; a real codec
    swaps into the same mapInPandas without plan changes).

    The fingerprint is computed in Arrow-batched numpy over the raw
    bytes (mapInPandas — bytes never cross a row-at-a-time boundary);
    banding + Hamming verification are DataFrame ops (6 bands × 10
    bits: Hamming ≤ 5 < 6 bands ⟹ some band matches exactly, the
    pigeonhole recall guarantee — a banded join, never all-pairs;
    at Hamming = 6 the flips could hit all six bands, so the
    threshold stays strictly below the band count). The oracle
    replays the byte arithmetic bit-for-bit from the text column."""
    import numpy as np

    fp_schema = StructType(
        [StructField("doc_id", LongType()), StructField("fp", LongType())]
    )
    # Project to printable ASCII (keeping tab/LF/CR as whitespace)
    # BEFORE lowering/sampling: the fingerprint samples UTF-8 BYTES in
    # numpy while the oracle samples codepoints, so the contract only
    # holds when every sampled char is single-byte. A real image codec
    # replaces this normalizer wholesale, so the projection costs
    # nothing on the production path.
    ascii_text = F.regexp_replace(
        F.col("text"), "[^\\x09\\x0A\\x0D\\x20-\\x7E]", ""
    )
    norm_payload = F.encode(
        F.rpad(
            F.trim(F.regexp_replace(F.lower(ascii_text), r"\s+", " ")),
            _PH_SAMPLES + 1,
            " ",
        ),
        "utf-8",
    )
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", norm_payload.alias("payload"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def _phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = (np.arange(PHASH_BITS, dtype=np.int64)).reshape(
            PHASH_ROWS, PHASH_COLS - 1
        )
        for pdf in batches:
            if not len(pdf):
                continue
            grid = np.frombuffer(
                b"".join(p[:_PH_SAMPLES] for p in pdf["payload"]),
                dtype=np.uint8,
            ).reshape(len(pdf), PHASH_ROWS, PHASH_COLS)
            bits = (grid[:, :, :-1] < grid[:, :, 1:]).astype(np.int64)
            fps = (bits << shifts).sum(axis=(1, 2))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "fp": fps}
            )

    # fp feeds both sides of the band self-join AND the verify
    # projection; without a persist the whole upstream — the ASCII
    # regex normalize (the query's hottest expression) plus the
    # mapInPandas Python pass — is evaluated once per join side
    # (plan showed two MapInPandas nodes). Persist the tiny
    # (doc_id, fp) table so bytes cross the Python boundary once.
    fp = persist(docs.mapInPandas(_phash, schema=fp_schema))
    bands = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(*[F.lit(b) for b in range(PHASH_BANDS)])
        ).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(
            f"shiftright(fp, {PHASH_BAND_BITS} * band)"
            f" & {(1 << PHASH_BAND_BITS) - 1}"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(
                F.col("fp_a").bitwiseXOR(F.col("fp_b"))
            ).cast("long"),
        )
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )
