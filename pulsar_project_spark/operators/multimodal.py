"""Multimodal column operators — north-star extension (SURVEY.md §2.11,
generalizing the reference's ``ExtractedFile{type, format, metadata}``
record, ``task.py:10-24``, to binary media columns at 100 TB).

Design: media are opaque ``BINARY`` columns with a typed metadata struct
riding alongside — parquet stores both natively, column pruning means a
metadata-only query never reads the bytes. All per-asset compute runs as
Arrow-batched ``mapInPandas`` (one Python roundtrip per batch, zero
driver involvement, embarrassingly parallel across partitions — the
only sane shape for per-image work on a 1000-executor cluster).

External codec libraries are absent from this container, but three
formats are decodable with the standard library alone and run REAL
byte-level pipelines: WAV (stdlib ``wave``), PGM (netpbm header +
raw bytes), and PNG (stdlib ``zlib`` — full chunk/CRC/filter
pipeline, see ``synthesize_png``/``decode_png_features`` below).
Only compressed A/V codecs (JPEG/H.264/...) remain stubbed:
``decode_image_meta`` ships a deterministic fake decoder
(byte-length-derived dimensions + md5 checksum) and the real-codec
hook raises ``NotImplementedError`` behind an import-try.
Everything AROUND the codec — schemas, binary handling, Arrow batch
shapes, partition parallelism, the byte-level numpy feature pass — is
real and oracle-tested (``byte_histogram_features`` recomputes the
numpy histogram in SQL).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

# Typed metadata carried next to every binary payload.
ASSET_META_SCHEMA = StructType([
    StructField("modality", StringType()),      # image | audio | video | text
    StructField("fmt", StringType()),           # png | jpeg | wav | mp4 | txt
    StructField("width", IntegerType()),        # images/video, else null
    StructField("height", IntegerType()),
    StructField("sample_rate", IntegerType()),  # audio, else null
    StructField("duration_ms", IntegerType()),  # audio/video, else null
])

_MODS = ("image", "audio", "video", "text")
_FMTS = {"image": "png", "audio": "wav", "video": "mp4", "text": "txt"}

DECODE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("modality", StringType()),
    StructField("n_bytes", LongType()),
    StructField("checksum", StringType()),
    StructField("dec_width", IntegerType()),
    StructField("dec_height", IntegerType()),
])

HISTOGRAM_BINS = 16
HIST_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("bin", IntegerType()),
    StructField("n", LongType()),
])


def as_assets(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Deterministic asset table from ``documents``: the text bytes act
    as the opaque payload, modality assigned round-robin by id. This is
    the fixture builder — a real pipeline reads parquet with the same
    schema directly."""
    # A row with no payload is not an asset: drop it at the catalog
    # boundary (mirrored as WHERE text IS NOT NULL in every multimodal
    # oracle). Without this, NULL content reaches the Arrow decode pass
    # and len(None) blows up the Python worker — found by the NULL-input
    # sweep; at 100 TB missing payloads are a certainty.
    docs = docs.filter(F.col(text_col).isNotNull())
    # pmod, not %: a NEGATIVE id's signed remainder yields element_at
    # index 0, which ERRORS under ANSI (a negative-id shard would kill
    # the whole scan stage — round-6 negative-id sweep); pmod keeps the
    # round-robin total and is mirrored in every multimodal oracle.
    modality = F.element_at(
        F.array(*[F.lit(m) for m in _MODS]),
        (F.pmod(F.col(id_col), F.lit(4)) + 1).cast("int")
    )
    fmt = F.element_at(
        F.array(*[F.lit(_FMTS[m]) for m in _MODS]),
        (F.pmod(F.col(id_col), F.lit(4)) + 1).cast("int")
    )
    content = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        modality.alias("modality"),
        fmt.alias("fmt"),
        F.when(modality == "image", (F.octet_length(content) % 640 + 1).cast("int"))
         .alias("width"),
        F.when(modality == "image", (F.octet_length(content) % 480 + 1).cast("int"))
         .alias("height"),
        F.when(modality == "audio", F.lit(16000)).cast("int").alias("sample_rate"),
        F.when(modality != "image", (F.octet_length(content) * 10).cast("int"))
         .alias("duration_ms"),
    )
    return docs.select(
        F.col(id_col), content.alias("content"), meta.alias("meta")
    )


def decode_image_meta(assets: DataFrame) -> DataFrame:
    """Arrow-batched decode pass: one ``mapInPandas`` over (id, content,
    meta). Fake-decodes dimensions from the payload deterministically;
    md5 checksum is real byte-level work the oracle can verify."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            content = pdf["content"]
            n_bytes = content.map(len)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "n_bytes": n_bytes.astype("int64"),
                "checksum": content.map(lambda b: hashlib.md5(b).hexdigest()),
                "dec_width": (n_bytes % 640 + 1).astype("int32"),
                "dec_height": (n_bytes % 480 + 1).astype("int32"),
            })

    # pin parallelism to cores — a single-file asset scan would
    # otherwise serialize the whole Python decode stage
    n_cpu = assets.sparkSession.sparkContext.defaultParallelism
    flat = assets.select("doc_id", "content",
                         F.col("meta.modality").alias("modality"))
    return flat.repartition(n_cpu, "doc_id").mapInPandas(batches, DECODE_SCHEMA)


def byte_histogram(assets: DataFrame, bins: int = HISTOGRAM_BINS) -> DataFrame:
    """Byte-level feature extraction: 16-bin histogram of payload bytes
    via numpy inside ``mapInPandas`` (the feature-extract stage of an
    image pipeline, minus the codec). Long-format output so the result
    is a relation, not a nested array — joins/aggregations downstream
    stay relational."""
    import numpy as np

    width = 256 // bins

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, bs, ns = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                arr = np.frombuffer(content, dtype=np.uint8)
                counts = np.bincount(arr // width, minlength=bins)
                nz = np.nonzero(counts)[0]
                ids.extend([doc_id] * len(nz))
                bs.extend(nz.tolist())
                ns.extend(counts[nz].tolist())
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "bin": pd.Series(bs, dtype="int32"),
                "n": pd.Series(ns, dtype="int64"),
            })

    n_cpu = assets.sparkSession.sparkContext.defaultParallelism
    return (assets.select("doc_id", "content")
            .repartition(n_cpu, "doc_id")
            .mapInPandas(batches, HIST_SCHEMA))


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: which timestamps to decode per asset
    (the planning half is pure SQL — the codec half is the stub). One
    row per planned frame via explode over a sequence — no UDF."""
    video = assets.filter(F.col("meta.modality") == "video")
    ts = F.sequence(
        F.lit(0),
        F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
        F.lit(every_ms),
    )
    return video.select(
        "doc_id",
        F.col("meta.duration_ms").alias("duration_ms"),
        F.explode(ts).alias("frame_ts_ms"),
    )


def audio_chunk_plan(assets: DataFrame, chunk_ms: int = 5_000) -> DataFrame:
    """Audio chunking plan: fixed-length windows (start, end, n_samples)
    per audio asset — the featurizer work-list (one chunk → one model
    input at decode time). Pure SQL planning via sequence-explode; the
    sample count comes from metadata (sample_rate · chunk/1000), so the
    payload column is never read."""
    audio = assets.filter(F.col("meta.modality") == "audio")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
        F.lit(chunk_ms),
    )
    return audio.select(
        "doc_id",
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.explode(starts).alias("chunk_start_ms"),
    ).select(
        "doc_id", "duration_ms", "sample_rate", "chunk_start_ms",
        F.least(F.col("chunk_start_ms") + chunk_ms, F.col("duration_ms"))
         .alias("chunk_end_ms"),
        ((F.least(F.col("chunk_start_ms") + chunk_ms, F.col("duration_ms"))
          - F.col("chunk_start_ms")) * F.col("sample_rate") / 1000)
        .cast("bigint").alias("n_samples"),
    )


# --- REAL audio codec path (stdlib `wave` — no external libs) ----------------
#
# The image/video codecs stay gated (no PIL/libav in the container), but
# WAV is decodable with the standard library, so the audio modality runs
# a REAL synthesize → encode → decode → feature-extract pipeline:
# deterministic integer sawtooth PCM, packaged as actual RIFF/WAVE bytes
# by `wave`, decoded back by `wave`, features in exact int64 — every
# number SQL-replayable from the generation rule alone, so the oracle
# transitively proves header handling, sample packing, and the decode.

WAV_SR = 8_000  # mono 16-bit PCM

WAV_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_frames", LongType()),
    StructField("sum_sq", LongType()),
    StructField("peak", IntegerType()),
])


def _wav_params(doc_id: int) -> tuple[int, int, int]:
    """(freq_hz, amplitude, n_frames) — all derived from the id."""
    return (
        100 + doc_id % 40,
        1_000 + (doc_id % 20) * 100,
        800 + (doc_id % 8) * 100,
    )


def synthesize_wav(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, wav BINARY): integer sawtooth PCM —
    ``s_t = ((t·f) mod sr)·2A div sr − A`` — written as real WAV bytes
    via the stdlib ``wave`` encoder inside Arrow-batched mapInPandas."""
    import io
    import wave as _wave

    import numpy as np

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("wav", BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                f, a, n = _wav_params(int(doc_id))
                t = np.arange(n, dtype=np.int64)
                s = ((t * f) % WAV_SR) * 2 * a // WAV_SR - a
                buf = io.BytesIO()
                with _wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(WAV_SR)
                    w.writeframes(s.astype("<i2").tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf[id_col].astype("int64"),
                                "wav": payloads})

    # Python synthesis/decode is CPU-bound and must not inherit the
    # scan's file-granular layout (one file -> one task): pin the
    # stage's parallelism to core count (repo-wide principle, README).
    n_cpu = docs.sparkSession.sparkContext.defaultParallelism
    return (docs.select(id_col).repartition(n_cpu, id_col)
            .mapInPandas(batches, out_schema))


def decode_wav_features(wavs: DataFrame) -> DataFrame:
    """REAL decode: parse the RIFF/WAVE header with stdlib ``wave``,
    unpack int16 PCM via numpy, emit exact integer features (frame
    count, energy as Σs², peak). Any header/packing bug upstream makes
    the decode fail or the features drift off the closed form."""
    import io
    import wave as _wave

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["wav"]):
                with _wave.open(io.BytesIO(payload), "rb") as w:
                    sr = w.getframerate()
                    n = w.getnframes()
                    raw = w.readframes(n)
                s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                rows.append((int(doc_id), sr, n,
                             int((s * s).sum()), int(s.max())))
            yield pd.DataFrame(
                rows, columns=["doc_id", "sample_rate", "n_frames",
                               "sum_sq", "peak"])

    return wavs.mapInPandas(batches, WAV_FEATURES_SCHEMA)


# --- REAL image path: PGM (netpbm) — trivial header + raw bytes --------------
#
# No PIL needed: P5 PGM is a 3-token ASCII header followed by row-major
# raw bytes, so synthesize → encode → decode → RESIZE runs for real.
# The resize is 2×2 block averaging with floor division — exact integer
# math the oracle replays pixel-by-pixel from the generation rule.

PGM_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("out_width", IntegerType()),
    StructField("out_height", IntegerType()),
    StructField("n_px", LongType()),
    StructField("sum_px", LongType()),
    StructField("max_px", IntegerType()),
])


def _pgm_params(doc_id: int) -> tuple[int, int]:
    """(width, height) of the synthesized gradient image."""
    return 32 + (doc_id % 4) * 16, 24 + (doc_id % 3) * 16


def synthesize_pgm(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pgm BINARY): deterministic gradient image
    ``p(x, y) = (3x + 5y + id) mod 256`` encoded as genuine P5 PGM."""
    import numpy as np

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("pgm", BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                w, h = _pgm_params(int(doc_id))
                x = np.arange(w, dtype=np.int64)
                y = np.arange(h, dtype=np.int64)[:, None]
                img = ((3 * x + 5 * y + int(doc_id)) % 256).astype(np.uint8)
                payloads.append(b"P5\n%d %d\n255\n" % (w, h) + img.tobytes())
            yield pd.DataFrame({"doc_id": pdf[id_col].astype("int64"),
                                "pgm": payloads})

    # Python synthesis/decode is CPU-bound and must not inherit the
    # scan's file-granular layout (one file -> one task): pin the
    # stage's parallelism to core count (repo-wide principle, README).
    n_cpu = docs.sparkSession.sparkContext.defaultParallelism
    return (docs.select(id_col).repartition(n_cpu, id_col)
            .mapInPandas(batches, out_schema))


def _parse_pgm(payload: bytes):
    """Strict single-asset P5 parse shared by every PGM pass. Returns
    (w, h, int64 ndarray of shape (h, w)).

    Corruption detection raises ``ValueError`` explicitly (never bare
    ``assert`` — stripped under ``python -O``, after which a malformed
    asset mis-decodes silently; VERDICT r6 "What's wrong" #1)."""
    import numpy as np

    parts = payload.split(b"\n", 3)
    if len(parts) != 4:
        raise ValueError("truncated PGM header")
    magic, dims, maxval, raw = parts
    if magic != b"P5" or maxval != b"255":
        raise ValueError("not 8-bit P5")
    w, h = (int(v) for v in dims.split())
    if len(raw) != w * h:
        raise ValueError("pixel payload size mismatch")
    img = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
    return w, h, img.astype(np.int64)


def _decode_pgm_resized_one(payload: bytes):
    """Strict parse + 2×2 block-average halving (floor) — shared by the
    strict and permissive passes. Returns (w2, h2, resized ndarray)."""
    w, h, img = _parse_pgm(payload)
    h2, w2 = h // 2, w // 2
    blocks = img[: h2 * 2, : w2 * 2].reshape(h2, 2, w2, 2)
    return w2, h2, blocks.sum(axis=(1, 3)) // 4


def decode_pgm_resize_features(pgms: DataFrame) -> DataFrame:
    """REAL decode + resize: parse the P5 header, reshape the raw bytes,
    halve the image by 2×2 block averaging (floor), emit exact integer
    features of the RESIZED image. A wrong header, stride, or rounding
    anywhere diverges from the oracle's closed-form replay."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["pgm"]):
                w2, h2, resized = _decode_pgm_resized_one(payload)
                rows.append((int(doc_id), w2, h2, int(resized.size),
                             int(resized.sum()), int(resized.max())))
            yield pd.DataFrame(
                rows, columns=["doc_id", "out_width", "out_height",
                               "n_px", "sum_px", "max_px"])

    return pgms.mapInPandas(batches, PGM_FEATURES_SCHEMA)


PGM_DHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("dhash", LongType()),
])

# dHash grid: 9 sample columns x 7 sample rows -> 8 horizontal
# gradients per row x 7 rows = 56 bits, comfortably inside a signed
# BIGINT (the classic 9x8/64-bit form would collide with the sign bit
# in both engines' BIGINT hash packing).
DHASH_GRID_W, DHASH_GRID_H = 9, 7


def decode_pgm_dhash(pgms: DataFrame) -> DataFrame:
    """PERCEPTUAL HASH over the REAL image decode path: parse the P5
    payload, point-sample a fixed 9x7 grid (x_c = c*w div 9,
    y_r = r*h div 7 — pure integer, so the oracle replays it exactly),
    and pack the horizontal gradient signs into a 56-bit dHash
    (bit p = r*8+c set iff sample(r,c) > sample(r,c+1)) — the standard
    difference-hash, resolution-invariant by construction (two renders
    of the same scene at different sizes sample to the same grid).

    Scale shape: decode + hash are map-side Arrow batches; the dedup
    census downstream is one groupBy on a 56-bit key (uniform unless
    the corpus genuinely repeats imagery — exactly the skew you WANT
    surfaced). Near-dup (Hamming <= k) composes with the existing LSH
    band machinery: split the hash into 5x12-bit bands (K+1 bands
    guarantee recall at Hamming <= K=4) and bucket-join, same plan as
    minhash_lsh_bands."""
    import numpy as np

    xs_frac = np.arange(DHASH_GRID_W, dtype=np.int64)
    ys_frac = np.arange(DHASH_GRID_H, dtype=np.int64)
    powers = (np.arange(DHASH_GRID_W - 1, dtype=np.int64)[None, :]
              + (DHASH_GRID_W - 1) * np.arange(DHASH_GRID_H,
                                               dtype=np.int64)[:, None])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["pgm"]):
                w, h, img = _parse_pgm(payload)
                xs = (xs_frac * w) // DHASH_GRID_W
                ys = (ys_frac * h) // DHASH_GRID_H
                g = img[np.ix_(ys, xs)]
                bits = (g[:, :-1] > g[:, 1:]).astype(np.int64)
                rows.append((int(doc_id),
                             int((bits << powers).sum())))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    return pgms.mapInPandas(batches, PGM_DHASH_SCHEMA)


PGM_DHASH_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("dhash", LongType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("pixel_sum", LongType()),
])


def decode_pgm_dhash_stats(pgms: DataFrame) -> DataFrame:
    """ONE decode pass emitting the perceptual hash AND the byte
    statistics the corpus pipeline filters on: (doc_id, dhash, w, h,
    pixel_sum). The corpus-pipeline capstone needs both, and decoding
    the corpus twice (once per consumer) would double the dominant
    cost at 100 TB — the same materialize-once rule the dHash
    near-dup query applies to its reps relation.

    ``pixel_sum`` is the exact int64 sum of all pixel bytes; mean-band
    quality rules compare ``lo*n_px <= pixel_sum <= hi*n_px`` in pure
    integers so the oracle can replay them bit-for-bit."""
    import numpy as np

    xs_frac = np.arange(DHASH_GRID_W, dtype=np.int64)
    ys_frac = np.arange(DHASH_GRID_H, dtype=np.int64)
    powers = (np.arange(DHASH_GRID_W - 1, dtype=np.int64)[None, :]
              + (DHASH_GRID_W - 1) * np.arange(DHASH_GRID_H,
                                               dtype=np.int64)[:, None])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["pgm"]):
                w, h, img = _parse_pgm(payload)
                xs = (xs_frac * w) // DHASH_GRID_W
                ys = (ys_frac * h) // DHASH_GRID_H
                g = img[np.ix_(ys, xs)]
                bits = (g[:, :-1] > g[:, 1:]).astype(np.int64)
                rows.append((int(doc_id), int((bits << powers).sum()),
                             w, h, int(img.sum())))
            yield pd.DataFrame(
                rows, columns=["doc_id", "dhash", "w", "h", "pixel_sum"])

    return pgms.mapInPandas(batches, PGM_DHASH_STATS_SCHEMA)


PGM_PERMISSIVE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("status", StringType()),
    StructField("n_px", LongType()),
    StructField("sum_px", LongType()),
])


def decode_pgm_features_permissive(pgms: DataFrame) -> DataFrame:
    """PERMISSIVE PGM decode+resize: a corrupt payload becomes an ERROR
    ROW at the asset boundary, never a task-killing exception (Spark
    retries a failed task 4x then fails the JOB — one truncated asset
    in a billion must not halt a 100 TB scan). Mirrors
    ``decode_png_features_permissive``; same parser as the strict
    pass, so 'ok' rows are certified by the same closed form."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["pgm"]):
                try:
                    _w2, _h2, resized = _decode_pgm_resized_one(payload)
                    rows.append((int(doc_id), "ok", int(resized.size),
                                 int(resized.sum())))
                except Exception:
                    rows.append((int(doc_id), "error", None, None))
            yield pd.DataFrame(
                rows, columns=["doc_id", "status", "n_px", "sum_px"])

    return pgms.mapInPandas(batches, PGM_PERMISSIVE_SCHEMA)


# --- REAL video path: raw multi-frame container ------------------------------
#
# No stdlib video codec exists, but "video" at the engine level is a
# CONTAINER of frames — and container parsing, byte-offset frame
# extraction, and every-Nth frame sampling are real byte-level work.
# Frames are the same PGM-style raw grayscale planes as the image path.

RAWV_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("sum_px", LongType()),
    StructField("max_px", IntegerType()),
])

RAWV_W, RAWV_H = 16, 12


def _rawv_params(doc_id: int) -> int:
    """Frame count of the synthesized clip."""
    return 4 + doc_id % 4


def synthesize_raw_video(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, clip BINARY): K frames of gradient
    ``p(x, y, k) = (3x + 5y + 7k + id) mod 256`` concatenated after an
    ASCII header ``RAWV\\n{K} {W} {H}\\n``."""
    import numpy as np

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("clip", BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                k = _rawv_params(int(doc_id))
                x = np.arange(RAWV_W, dtype=np.int64)
                y = np.arange(RAWV_H, dtype=np.int64)[:, None]
                frames = [
                    ((3 * x + 5 * y + 7 * f + int(doc_id)) % 256
                     ).astype(np.uint8).tobytes()
                    for f in range(k)
                ]
                payloads.append(
                    b"RAWV\n%d %d %d\n" % (k, RAWV_W, RAWV_H) + b"".join(frames)
                )
            yield pd.DataFrame({"doc_id": pdf[id_col].astype("int64"),
                                "clip": payloads})

    # Python synthesis/decode is CPU-bound and must not inherit the
    # scan's file-granular layout (one file -> one task): pin the
    # stage's parallelism to core count (repo-wide principle, README).
    n_cpu = docs.sparkSession.sparkContext.defaultParallelism
    return (docs.select(id_col).repartition(n_cpu, id_col)
            .mapInPandas(batches, out_schema))


def _sample_rawv_one(payload: bytes, every: int):
    """Strict single-clip container parse + every-Nth frame slice —
    shared by the strict and permissive passes. Returns a list of
    (frame_idx, sum_px, max_px) triples.

    Corruption detection raises ``ValueError`` explicitly (never bare
    ``assert`` — stripped under ``python -O``; VERDICT r6 #1)."""
    import numpy as np

    parts = payload.split(b"\n", 2)
    if len(parts) != 3:
        raise ValueError("truncated RAWV header")
    magic, dims, raw = parts
    if magic != b"RAWV":
        raise ValueError("not a raw video container")
    k, w, h = (int(v) for v in dims.split())
    fsize = w * h
    if len(raw) != k * fsize:
        raise ValueError("frame payload size mismatch")
    out = []
    for f in range(0, k, every):
        frame = np.frombuffer(
            raw, dtype=np.uint8, count=fsize, offset=f * fsize
        ).astype(np.int64)
        out.append((f, int(frame.sum()), int(frame.max())))
    return out


def sample_video_frames(clips: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame sampling: parse the container header, slice every
    ``every``-th frame OUT OF THE BYTE STREAM by offset arithmetic
    (never materializing the skipped frames), and emit exact integer
    features per sampled frame."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["clip"]):
                for f, s, m in _sample_rawv_one(payload, every):
                    rows.append((int(doc_id), f, s, m))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "sum_px", "max_px"])

    return clips.mapInPandas(batches, RAWV_FEATURES_SCHEMA)


RAWV_PERMISSIVE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("status", StringType()),
    StructField("n_frames", LongType()),
    StructField("sum_px", LongType()),
])


def sample_video_frames_permissive(clips: DataFrame,
                                   every: int = 2) -> DataFrame:
    """PERMISSIVE frame sampling: one corrupt clip becomes an ERROR ROW
    (per-asset boundary), never a dead executor task — the
    ``decode_png_features_permissive`` posture for the video-container
    modality. Emits sampled-frame count + total pixel sum per clip so
    the oracle certifies 'ok' rows via the same closed form."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["clip"]):
                try:
                    frames = _sample_rawv_one(payload, every)
                    rows.append((int(doc_id), "ok", len(frames),
                                 sum(s for _f, s, _m in frames)))
                except Exception:
                    rows.append((int(doc_id), "error", None, None))
            yield pd.DataFrame(
                rows, columns=["doc_id", "status", "n_frames", "sum_px"])

    return clips.mapInPandas(batches, RAWV_PERMISSIVE_SCHEMA)


# --- REAL image path #2: PNG — stdlib zlib, full filter pipeline -------------
#
# PNG needs no external codec either: the container is chunked
# (length/type/data/crc32), the pixels are zlib-deflated scanlines, and
# each scanline carries one of five filter types. The synthesizer emits
# GENUINE spec-compliant PNG bytes — signature, IHDR, IDAT, IEND, real
# CRCs — and deliberately cycles the filter type per scanline
# (row % 5: None, Sub, Up, Average, Paeth) so the decoder's unfiltering
# of ALL five types is actually exercised, not just the trivial one.
# The decoder is a full parser: signature check, chunk walk with CRC
# verification, IHDR parse, multi-IDAT concatenation, zlib inflate,
# per-scanline unfilter. Pixels are the same closed-form gradient as
# the PGM path, so the oracle replays them in SQL — any bug in
# filtering, CRC, chunking, or inflate shows up as a hash mismatch.

PNG_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_idat_chunks", IntegerType()),
    StructField("n_px", LongType()),
    StructField("sum_px", LongType()),
    StructField("max_px", IntegerType()),
])

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# IDAT payload split size. Small on purpose: every synthesized image's
# compressed stream exceeds it, so multi-IDAT reassembly is always
# exercised on decode. tests/test_png_codec.py and the query docstring
# reference THIS constant — keep them in sync through it.
PNG_IDAT_SPLIT = 64


def _png_params(doc_id: int) -> tuple[int, int]:
    """(width, height) of the synthesized gradient image."""
    return 16 + (doc_id % 4) * 8, 12 + (doc_id % 3) * 8


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib as _zlib

    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", _zlib.crc32(ctype + data)))


def _paeth(a, b, c):
    """Paeth predictor (PNG spec §4.5.6) — numpy-vectorized over a row."""
    import numpy as np

    p = a.astype(np.int64) + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def synthesize_png(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, png BINARY): the gradient ``p(x, y) = (3x + 5y + id)
    mod 256`` encoded as a REAL 8-bit grayscale PNG. Scanline filters
    cycle ``row % 5`` through all five spec filter types (the filter
    math runs on the reconstructed neighbors, so encoding vectorizes);
    the IDAT stream is split into ``PNG_IDAT_SPLIT``-byte (64) chunks
    (the filtered compressed gradients run 85-280 bytes, so EVERY
    image gets 2+ IDAT chunks) to exercise multi-IDAT reassembly on
    the decode side."""
    import struct
    import zlib as _zlib

    import numpy as np

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("png", BinaryType()),
    ])

    def encode_one(doc_id: int) -> bytes:
        w, h = _png_params(doc_id)
        x = np.arange(w, dtype=np.int64)
        y = np.arange(h, dtype=np.int64)[:, None]
        img = ((3 * x + 5 * y + doc_id) % 256).astype(np.uint8)
        lines = []
        zero = np.zeros(w, dtype=np.uint8)
        for r in range(h):
            cur = img[r].astype(np.int64)
            prev = (img[r - 1] if r > 0 else zero).astype(np.int64)
            left = np.concatenate(([0], cur[:-1]))
            upleft = np.concatenate(([0], prev[:-1]))
            ft = r % 5
            if ft == 0:
                filt = cur
            elif ft == 1:
                filt = (cur - left) % 256
            elif ft == 2:
                filt = (cur - prev) % 256
            elif ft == 3:
                filt = (cur - (left + prev) // 2) % 256
            else:
                filt = (cur - _paeth(left, prev, upleft)) % 256
            lines.append(bytes([ft]) + filt.astype(np.uint8).tobytes())
        raw = _zlib.compress(b"".join(lines))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        idats = b"".join(
            _png_chunk(b"IDAT", raw[i:i + PNG_IDAT_SPLIT])
            for i in range(0, len(raw), PNG_IDAT_SPLIT)
        )
        return (_PNG_SIG + _png_chunk(b"IHDR", ihdr) + idats
                + _png_chunk(b"IEND", b""))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "png": [encode_one(int(d)) for d in pdf[id_col]],
            })

    # Python synthesis/decode is CPU-bound and must not inherit the
    # scan's file-granular layout (one file -> one task): pin the
    # stage's parallelism to core count (repo-wide principle, README).
    n_cpu = docs.sparkSession.sparkContext.defaultParallelism
    return (docs.select(id_col).repartition(n_cpu, id_col)
            .mapInPandas(batches, out_schema))


def _decode_png_one(payload: bytes):
    """Strict single-asset PNG parse + unfilter (raises on any damage)
    — shared by the strict and permissive decode passes. Returns
    (w, h, n_idat, img).

    Corruption detection raises ``ValueError`` explicitly (never bare
    ``assert``): under ``python -O`` asserts are stripped, and a
    permissive census that silently mis-decodes damaged assets is
    worse than one that crashes."""
    import struct
    import zlib as _zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    off, w, h = 8, None, None
    idat, n_idat = [], 0
    while off < len(payload):
        (clen,) = struct.unpack_from(">I", payload, off)
        ctype = payload[off + 4:off + 8]
        data = payload[off + 8:off + 8 + clen]
        (crc,) = struct.unpack_from(">I", payload, off + 8 + clen)
        if crc != _zlib.crc32(ctype + data):
            raise ValueError("chunk CRC mismatch")
        if ctype == b"IHDR":
            w, h, depth, ctype_px = struct.unpack_from(">IIBB", data)
            if depth != 8 or ctype_px != 0:
                raise ValueError("not 8-bit grayscale")
        elif ctype == b"IDAT":
            idat.append(data)
            n_idat += 1
        elif ctype == b"IEND":
            break
        off += 12 + clen
    if w is None or h is None:
        raise ValueError("missing IHDR")
    raw = _zlib.decompress(b"".join(idat))
    if len(raw) != h * (w + 1):
        raise ValueError("scanline stream size mismatch")
    img = np.zeros((h, w), dtype=np.int64)
    for r in range(h):
        line = np.frombuffer(
            raw, dtype=np.uint8, count=w + 1, offset=r * (w + 1)
        ).astype(np.int64)
        ft, filt = line[0], line[1:]
        prev = img[r - 1] if r > 0 else np.zeros(w, dtype=np.int64)
        if ft == 0:
            recon = filt
        elif ft == 1:
            recon = np.cumsum(filt) % 256
        elif ft == 2:
            recon = (filt + prev) % 256
        elif ft == 3:
            recon = np.zeros(w, dtype=np.int64)
            for i in range(w):
                left = recon[i - 1] if i > 0 else 0
                recon[i] = (filt[i] + (left + prev[i]) // 2) % 256
        else:
            recon = np.zeros(w, dtype=np.int64)
            for i in range(w):
                a = recon[i - 1] if i > 0 else 0
                b = prev[i]
                c = prev[i - 1] if i > 0 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                recon[i] = (filt[i] + pred) % 256
        img[r] = recon
    return w, h, n_idat, img


def decode_png_features(pngs: DataFrame) -> DataFrame:
    """REAL PNG decode with no codec library: verify the signature, walk
    the chunk stream CHECKING every CRC, parse IHDR, reassemble the
    possibly-split IDAT stream, ``zlib.decompress``, and unfilter each
    scanline per its filter byte (all five types; Sub is a mod-256
    cumulative sum, Up/None vectorize directly, Average and Paeth run
    the spec recurrences). Emits exact integer pixel features of the
    reconstructed image — compared against the closed-form oracle, this
    certifies the whole container + compression + filter pipeline."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["png"]):
                w, h, n_idat, img = _decode_png_one(payload)
                rows.append((int(doc_id), w, h, n_idat, int(img.size),
                             int(img.sum()), int(img.max())))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "n_idat_chunks",
                               "n_px", "sum_px", "max_px"])

    return pngs.mapInPandas(batches, PNG_FEATURES_SCHEMA)


PNG_PERMISSIVE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("status", StringType()),
    StructField("n_px", LongType()),
    StructField("sum_px", LongType()),
])


def decode_png_features_permissive(pngs: DataFrame) -> DataFrame:
    """PERMISSIVE decode — the fault-tolerance posture a 100 TB asset
    scan requires: one corrupt payload must become an ERROR ROW, never
    a dead executor task (Spark retries the whole task 4x and then
    kills the JOB — a single bad image in a billion would otherwise
    halt the pipeline). Same full parser as ``decode_png_features``;
    any per-asset failure (bad signature, CRC mismatch, inflate error,
    truncation) is caught AT THE ASSET BOUNDARY and emitted as
    ``status='error'`` with NULL features, mirroring the PERMISSIVE +
    ``_corrupt_record`` stance of ``corrupt_json_lines_census``."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["png"]):
                try:
                    w, h, _n_idat, img = _decode_png_one(payload)
                    rows.append((int(doc_id), "ok", int(img.size),
                                 int(img.sum())))
                except Exception:
                    rows.append((int(doc_id), "error", None, None))
            yield pd.DataFrame(
                rows, columns=["doc_id", "status", "n_px", "sum_px"])

    return pngs.mapInPandas(batches, PNG_PERMISSIVE_SCHEMA)


WAV_TILT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_frames", LongType()),
    StructField("total_abs", LongType()),
    StructField("diff_abs", LongType()),
    StructField("tilt_micros", LongType()),
])


def decode_wav_tilt_features(wavs: DataFrame) -> DataFrame:
    """Integer spectral-tilt features from REAL WAV decode: Σ|s_t|
    (signal mass) and Σ|s_t − s_{t−1}| (first-difference mass — the
    high-frequency proxy: white noise maximizes it, DC minimizes it),
    plus their ratio in integer micros. The classic zero-DSP audio
    screen (speech/music vs hiss/clipping) with every number exact
    int64 — no FFT, no float, so the oracle replays it from the
    closed-form generation rule alone."""
    import io
    import wave as _wave

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["wav"]):
                with _wave.open(io.BytesIO(payload), "rb") as w:
                    n = w.getnframes()
                    raw = w.readframes(n)
                s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                total = int(np.abs(s).sum())
                diff = int(np.abs(np.diff(s)).sum()) if n > 1 else 0
                tilt = (1_000_000 * diff) // total if total else 0
                rows.append((int(doc_id), n, total, diff, tilt))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "total_abs",
                               "diff_abs", "tilt_micros"])

    return wavs.mapInPandas(batches, WAV_TILT_SCHEMA)


WAV_DECIMATE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_out", LongType()),
    StructField("sum_abs_out", LongType()),
    StructField("passband_micros", LongType()),
])


def decode_wav_decimate_features(wavs: DataFrame) -> DataFrame:
    """Integer half-band FIR decimation ×2 on REAL WAV decode — the
    first resampling stage of an audio ingest pipeline, all-integer so
    the oracle replays it sample-exactly: y_i = s_{2i} + 2·s_{2i+1} +
    s_{2i+2} (the [1,2,1] smoother, DC gain 4) taken at even phases
    with the tail dropped where the kernel leaves the signal. Features:
    output length, Σ|y| and the passband-mass ratio
    (10⁶·Σ|y|) div (4·Σ|s|) in micros — a pure tone survives decimation
    (ratio near 10⁶), near-Nyquist content cancels in the smoother and
    the ratio collapses, so a resampler bug (phase slip, off-by-one
    tail, wrong kernel) shifts the integers and breaks the hash."""
    import io
    import wave as _wave

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["wav"]):
                with _wave.open(io.BytesIO(payload), "rb") as w:
                    n = w.getnframes()
                    raw = w.readframes(n)
                s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                idx = np.arange(0, max(n - 2, 0), 2)
                y = s[idx] + 2 * s[idx + 1] + s[idx + 2]
                total_in = int(np.abs(s).sum())
                sum_abs = int(np.abs(y).sum())
                ratio = ((1_000_000 * sum_abs) // (4 * total_in)
                         if total_in else 0)
                rows.append((int(doc_id), int(len(y)), sum_abs, ratio))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_out", "sum_abs_out",
                               "passband_micros"])

    return wavs.mapInPandas(batches, WAV_DECIMATE_SCHEMA)
