"""Multimodal column plumbing (SURVEY.md §2.11 L5).

Images/audio/video are carried as opaque ``binary`` columns with a typed
metadata struct alongside. The Spark-side machinery — schema, Arrow batch
shape, ``mapInPandas`` signature, partitioning — is real and tested; the
actual byte decode is STUBBED (no image/audio libraries in this container):
``decode_features`` computes deterministic byte-level statistics where a real
pipeline would call the decoder, and ``decode_image`` raises
``NotImplementedError`` with the integration point documented.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.reliability import materialize
from ..registry import register
from ..sources import load_table


def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical multimodal layout: (asset_id, payload binary, meta
    struct<lang,source,n_chars>, embedding-ready text). Built here from the
    documents fixture (text bytes stand in for media bytes); a real ingest
    would read the bytes from object storage with the same schema."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct("lang", "source", "n_chars").alias("meta"),
    )


@register(
    "multimodal_manifest",
    """
    SELECT doc_id AS asset_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS content_hash,
           lang AS meta_lang,
           source AS meta_source
    FROM documents
    """,
)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest over binary payloads (L5): byte size, content hash, flattened
    metadata — the asset-catalog query every multimodal pipeline starts from."""
    assets = multimodal_table(spark, sf_dir)
    return assets.select(
        "asset_id",
        F.octet_length("payload").alias("n_bytes"),
        F.sha2(F.col("payload").cast("string"), 256).alias("content_hash"),
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.source").alias("meta_source"),
    )


# mean byte is carried as integer micro-units (floor(sum*1e6 / n)) rather
# than a rounded double: floor is unambiguous across engines, while
# round-half differs (Python rounds half-to-even, DuckDB half-away) and
# power-of-two payload lengths make exact .5 ties representable.
DECODE_SCHEMA = (
    "asset_id long, n_bytes int, mean_byte_micro long, first_byte int, "
    "last_byte int, byte_checksum long"
)


def _ppm_tokens(payload: bytes, n: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated integer tokens from a PNM header
    (skipping ``#`` comments), returning (tokens, offset_after_last). The
    offset points at the single whitespace byte that separates the header
    from the raster."""
    toks: list[int] = []
    i = 2  # past the magic
    while len(toks) < n:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i < len(payload) and payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PNM header")
        toks.append(int(payload[i:j]))
        i = j
    return toks, i


def decode_image(payload: bytes) -> dict:
    """Minimal REAL image decode — pure Python, no external libs — for the
    two classic uncompressed formats whose specs fit in a page:

    - **PPM (P6)**: ``P6 <ws> width <ws> height <ws> maxval <1 ws byte>``
      then ``width*height*3`` RGB bytes (maxval < 256).
    - **BMP** (BITMAPINFOHEADER, 24 bpp, uncompressed): little-endian
      header, bottom-up BGR rows padded to 4 bytes.

    Returns ``{format, width, height, n_pixels, mean_r_micro, mean_g_micro,
    mean_b_micro}`` — channel means as floor(sum*1e6 / n_pixels) integer
    micro-units (unambiguous across engines, like DECODE_SCHEMA's
    mean_byte_micro). Compressed formats (PNG/JPEG/…) still raise
    ``NotImplementedError`` — entropy coding genuinely needs the media libs
    this container lacks; wire Pillow/torchvision/ffmpeg here when present."""
    if payload[:2] == b"P6":
        (w, h, maxval), i = _ppm_tokens(payload, 3)
        if maxval >= 256:
            raise NotImplementedError("16-bit PPM not supported")
        raster = payload[i + 1 : i + 1 + w * h * 3]
        if len(raster) != w * h * 3:
            raise ValueError("truncated PPM raster")
        sums = [0, 0, 0]
        for c in range(3):
            sums[c] = sum(raster[c::3])
        fmt = "ppm"
    elif payload[:2] == b"BM":
        def u32(o: int) -> int:
            return int.from_bytes(payload[o : o + 4], "little")

        def i32(o: int) -> int:
            return int.from_bytes(payload[o : o + 4], "little", signed=True)

        data_off = u32(10)
        w, h_raw = i32(18), i32(22)
        bpp = int.from_bytes(payload[28:30], "little")
        if bpp != 24 or u32(30) != 0:
            raise NotImplementedError("only uncompressed 24bpp BMP supported")
        h = abs(h_raw)
        row_stride = (w * 3 + 3) & ~3
        sums = [0, 0, 0]
        for r in range(h):
            row = payload[data_off + r * row_stride :][: w * 3]
            if len(row) != w * 3:
                raise ValueError("truncated BMP raster")
            # BGR on disk → accumulate as RGB
            sums[0] += sum(row[2::3])
            sums[1] += sum(row[1::3])
            sums[2] += sum(row[0::3])
        fmt = "bmp"
    else:
        raise NotImplementedError(
            "only PPM(P6)/BMP(24bpp) decode in-container; compressed formats "
            "require media libraries not present in this environment"
        )
    n_px = w * h
    return {
        "format": fmt,
        "width": w,
        "height": h,
        "n_pixels": n_px,
        "mean_r_micro": (sums[0] * 1_000_000) // n_px,
        "mean_g_micro": (sums[1] * 1_000_000) // n_px,
        "mean_b_micro": (sums[2] * 1_000_000) // n_px,
    }


# The fixture corpus is pure ASCII (asserted in tests/test_multimodal
# plumbing tests), so per-character code points ARE the payload bytes and
# DuckDB can replay the byte-statistics kernel with unnest + ascii().
decode_features_oracle = """
WITH bytes AS (
  SELECT doc_id, sum(ascii(ch)) AS bsum
  FROM (
    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
  )
  GROUP BY doc_id
)
SELECT d.doc_id AS asset_id,
       CAST(length(d.text) AS INT) AS n_bytes,
       CAST(CASE WHEN length(d.text) = 0 THEN 0
                 ELSE (b.bsum * 1000000) // length(d.text)
            END AS BIGINT) AS mean_byte_micro,
       CAST(CASE WHEN length(d.text) = 0 THEN -1
                 ELSE ascii(substr(d.text, 1, 1)) END AS INT) AS first_byte,
       CAST(CASE WHEN length(d.text) = 0 THEN -1
                 ELSE ascii(substr(d.text, length(d.text), 1)) END AS INT)
         AS last_byte,
       CAST(coalesce(b.bsum, 0) % 1000000007 AS BIGINT) AS byte_checksum
FROM documents d LEFT JOIN bytes b USING (doc_id)
"""


@register("multimodal_decode_features", decode_features_oracle)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas`` (L5): the
    per-batch Arrow plumbing is exactly what a real decode uses — iterate
    record batches, run a vectorized kernel per batch, emit a typed frame.
    The kernel here is a deterministic byte-statistics stub standing in for
    decode (see :func:`decode_image`)."""
    assets = multimodal_table(spark, sf_dir).select("asset_id", "payload")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "mean_byte_micro": payloads.map(
                        lambda b: (sum(b) * 1_000_000) // len(b) if len(b) else 0
                    ).astype("int64"),
                    "first_byte": payloads.map(
                        lambda b: b[0] if len(b) else -1
                    ).astype("int32"),
                    "last_byte": payloads.map(
                        lambda b: b[-1] if len(b) else -1
                    ).astype("int32"),
                    "byte_checksum": payloads.map(
                        lambda b: sum(b) % 1_000_000_007
                    ).astype("int64"),
                }
            )

    return assets.mapInPandas(extract, DECODE_SCHEMA)


# image_decode: synthetic 4x4 PPM per document — header + the first 48 text
# bytes as RGB raster. The payload is assembled in-plan (binary concat), so
# the decode below exercises a REAL parser on a REAL wire format end-to-end.
IMG_W = IMG_H = 4
_IMG_RASTER = IMG_W * IMG_H * 3  # 48 raster bytes
IMAGE_SCHEMA = (
    "asset_id long, format string, width int, height int, n_pixels int, "
    "mean_r_micro long, mean_g_micro long, mean_b_micro long"
)

image_decode_oracle = f"""
WITH px AS (
  SELECT doc_id,
         ascii(substr(text, CAST(i + 1 AS BIGINT), 1)) AS b,
         CAST(i % 3 AS INT) AS chan
  FROM documents, range(0, {_IMG_RASTER}) t(i)
  WHERE length(text) >= {_IMG_RASTER} AND strlen(text) = length(text)
)
SELECT doc_id AS asset_id,
       'ppm' AS format,
       CAST({IMG_W} AS INT) AS width,
       CAST({IMG_H} AS INT) AS height,
       CAST({IMG_W * IMG_H} AS INT) AS n_pixels,
       CAST(sum(CASE WHEN chan = 0 THEN b ELSE 0 END) * 1000000
            // {IMG_W * IMG_H} AS BIGINT) AS mean_r_micro,
       CAST(sum(CASE WHEN chan = 1 THEN b ELSE 0 END) * 1000000
            // {IMG_W * IMG_H} AS BIGINT) AS mean_g_micro,
       CAST(sum(CASE WHEN chan = 2 THEN b ELSE 0 END) * 1000000
            // {IMG_W * IMG_H} AS BIGINT) AS mean_b_micro
FROM px
GROUP BY doc_id
"""


@register("multimodal_image_decode", image_decode_oracle)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (L5, de-stubbed for headerless formats):
    a 4x4 P6 PPM is assembled per document in-plan (binary concat of a
    literal header and the first 48 text bytes as raster), then
    :func:`decode_image`'s actual PPM parser runs inside ``mapInPandas`` and
    emits per-channel statistics. The DuckDB oracle replays the channel
    arithmetic directly on the text bytes — so header parsing, raster
    slicing, and channel de-interleave are all verified, not stubbed.
    Compressed formats still gate on media libs (see decode_image)."""
    docs = load_table(spark, sf_dir, "documents")
    header = f"P6\n{IMG_W} {IMG_H}\n255\n".encode()
    # all-ASCII guard on BOTH engines (octet_length == length ⟺ every code
    # point is 1 UTF-8 byte): makes the char-indexed oracle and the
    # byte-sliced raster agree on membership AND values for any input, not
    # just an ASCII-only fixture. Non-ASCII docs are excluded identically
    # on both sides.
    assets = docs.filter(
        (F.length("text") >= _IMG_RASTER)
        & (F.octet_length("text") == F.length("text"))
    ).select(
        F.col("doc_id").alias("asset_id"),
        F.concat(
            F.lit(header),
            F.encode(F.substring("text", 1, _IMG_RASTER), "UTF-8"),
        ).alias("payload"),
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "asset_id", "format", "width", "height", "n_pixels",
            "mean_r_micro", "mean_g_micro", "mean_b_micro",
        ]
        for pdf in batches:
            if pdf.empty:
                continue
            rows = [decode_image(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(rows)
            out.insert(0, "asset_id", pdf["asset_id"].to_numpy())
            yield out[cols].astype(
                {
                    "width": "int32",
                    "height": "int32",
                    "n_pixels": "int32",
                    "mean_r_micro": "int64",
                    "mean_g_micro": "int64",
                    "mean_b_micro": "int64",
                }
            )

    return assets.mapInPandas(decode, IMAGE_SCHEMA)


FRAME_SIZE = 32     # bytes per "frame" of the payload
SAMPLE_EVERY = 4    # keep every 4th frame

frame_sample_oracle = f"""
WITH f AS (
  SELECT doc_id AS asset_id, text,
         unnest(range(0, CAST(floor(length(text) / {FRAME_SIZE}) AS BIGINT),
                      {SAMPLE_EVERY})) AS frame_idx
  FROM documents
  WHERE length(text) >= {FRAME_SIZE} AND strlen(text) = length(text)
)
SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
       sha256(substr(text, CAST(frame_idx * {FRAME_SIZE} + 1 AS BIGINT),
                     {FRAME_SIZE})) AS frame_hash
FROM f
"""


@register("multimodal_frame_sample", frame_sample_oracle)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided frame sampling over binary payloads (L5): treat the payload
    as FRAME_SIZE-byte frames and keep every SAMPLE_EVERY-th — the
    video-keyframe access pattern, as a pure-plan explode + binary substring
    (one row → many frames, no Python). The oracle slices the TEXT by
    characters while this plan slices the PAYLOAD by bytes, so membership
    and frame boundaries agree only when every code point is 1 UTF-8 byte
    — the same all-ASCII guard its image/audio siblings carry
    (octet_length == length Spark-side, strlen = length oracle-side):
    non-ASCII docs are excluded identically on BOTH engines rather than
    silently hash-mismatching. Real media bytes would drop the guard and
    the oracle together."""
    docs = load_table(spark, sf_dir, "documents")
    assets = docs.filter(
        F.octet_length("text") == F.length("text")
    ).select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    n_frames = F.floor(F.octet_length("payload") / FRAME_SIZE)
    return (
        assets.filter(F.octet_length("payload") >= FRAME_SIZE)
        .select(
            "asset_id",
            "payload",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    (n_frames - 1).cast("bigint"),
                    F.lit(SAMPLE_EVERY).cast("bigint"),
                )
            ).alias("frame_idx"),
        )
        .select(
            "asset_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.sha2(
                F.expr(
                    f"substring(payload, frame_idx * {FRAME_SIZE} + 1, {FRAME_SIZE})"
                ),
                256,
            ).alias("frame_hash"),
        )
    )


# wav_decode: synthetic RIFF/WAVE PCM payload per document — a REAL 44-byte
# RIFF header + the first 2*WAV_N_SAMPLES text bytes as little-endian int16
# mono samples, assembled in-plan; the decoder below is a genuine chunk
# walker, not fixed-offset math.
WAV_RATE = 8000
WAV_N_SAMPLES = 32
_WAV_DATA = WAV_N_SAMPLES * 2


def _wav_header(n_data: int, rate: int = WAV_RATE) -> bytes:
    """Canonical RIFF/WAVE header for PCM-16 mono: RIFF size covers the
    WAVE id + fmt chunk + data chunk."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + n_data)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", n_data)
    )


def _parse_wav_pcm(payload: bytes) -> tuple[int, int, list[int]]:
    """(sample_rate, channels, samples) from a RIFF/WAVE PCM-16 payload —
    the REAL chunk walk (fmt may be preceded or followed by LIST/fact/
    other chunks, as in real files) shared by :func:`decode_wav` and
    :func:`decode_wav_samples`. PCM-16 only — compressed codecs (MP3/AAC/
    µ-law…) raise ``NotImplementedError`` with the library integration
    point documented, same contract as :func:`decode_image`."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "only RIFF/WAVE audio decode in-container; other containers "
            "require media libraries not present in this environment"
        )
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(
            "only uncompressed PCM-16 supported; compressed codecs require "
            "media libraries not present in this environment"
        )
    n = len(data) // (2 * channels)
    samples = list(struct.unpack(f"<{n * channels}h", data[: n * channels * 2]))
    return rate, channels, samples


def decode_wav(payload: bytes) -> dict:
    """Minimal REAL audio decode — sample-rate/channel metadata plus
    integer amplitude statistics (micro-units, unambiguous across
    engines) over :func:`_parse_wav_pcm`'s sample stream."""
    rate, channels, samples = _parse_wav_pcm(payload)
    n = len(samples) // channels
    abs_sum = sum(abs(s) for s in samples)
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": 16,
        "n_samples": n,
        "duration_micro": (n * 1_000_000) // rate,
        "peak_abs": max((abs(s) for s in samples), default=0),
        "mean_abs_micro": (abs_sum * 1_000_000) // (n * channels)
        if n
        else 0,
    }


WAV_SCHEMA = (
    "asset_id long, sample_rate int, channels int, bits int, n_samples int, "
    "duration_micro long, peak_abs int, mean_abs_micro long"
)

# Membership is restricted to all-ASCII docs (strlen = length on both
# engines), so every byte is < 128, every little-endian int16 sample
# (low + 256*high) is positive, and abs() is the identity — the oracle
# replays the amplitude math straight off the characters.
wav_decode_oracle = f"""
WITH s AS (
  SELECT doc_id,
         ascii(substr(text, CAST(2 * i + 1 AS BIGINT), 1))
         + 256 * ascii(substr(text, CAST(2 * i + 2 AS BIGINT), 1)) AS v
  FROM documents, range(0, {WAV_N_SAMPLES}) t(i)
  WHERE length(text) >= {_WAV_DATA} AND strlen(text) = length(text)
)
SELECT doc_id AS asset_id,
       CAST({WAV_RATE} AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels,
       CAST(16 AS INT) AS bits,
       CAST({WAV_N_SAMPLES} AS INT) AS n_samples,
       CAST({WAV_N_SAMPLES} * 1000000 // {WAV_RATE} AS BIGINT)
         AS duration_micro,
       CAST(max(v) AS INT) AS peak_abs,
       CAST(sum(v) * 1000000 // {WAV_N_SAMPLES} AS BIGINT) AS mean_abs_micro
FROM s GROUP BY doc_id
"""


@register("multimodal_wav_decode", wav_decode_oracle)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end (L5, audio modality): a RIFF/WAVE
    PCM-16 payload is assembled per document in-plan (a correct 44-byte
    header + the first {2·WAV_N_SAMPLES} text bytes as little-endian
    samples), then :func:`decode_wav`'s actual chunk-walking parser runs
    inside ``mapInPandas`` and emits rate/channel metadata + integer
    amplitude statistics. The DuckDB oracle replays the sample arithmetic
    directly on the characters, so header construction, chunk walking,
    int16 unpacking, and the amplitude kernel are all verified. Compressed
    codecs gate on media libs (see decode_wav) — the honest boundary,
    exactly like the image path."""
    docs = load_table(spark, sf_dir, "documents")
    header = _wav_header(_WAV_DATA)
    # all-ASCII guard on BOTH engines — see multimodal_image_decode; also
    # what makes the "< 128 so abs() is the identity" comment above a
    # checked precondition instead of a fixture assumption.
    assets = docs.filter(
        (F.length("text") >= _WAV_DATA)
        & (F.octet_length("text") == F.length("text"))
    ).select(
        F.col("doc_id").alias("asset_id"),
        F.concat(
            F.lit(header), F.encode(F.substring("text", 1, _WAV_DATA), "UTF-8")
        ).alias("payload"),
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "asset_id", "sample_rate", "channels", "bits", "n_samples",
            "duration_micro", "peak_abs", "mean_abs_micro",
        ]
        for pdf in batches:
            if pdf.empty:
                continue
            rows = [decode_wav(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(rows)
            out.insert(0, "asset_id", pdf["asset_id"].to_numpy())
            yield out[cols].astype(
                {
                    "sample_rate": "int32",
                    "channels": "int32",
                    "bits": "int32",
                    "n_samples": "int32",
                    "duration_micro": "int64",
                    "peak_abs": "int32",
                    "mean_abs_micro": "int64",
                }
            )

    return assets.mapInPandas(decode, WAV_SCHEMA)


# ---------------------------------------------------------------------------
# audio_features: DSP feature extraction over the decoded PCM stream
# ---------------------------------------------------------------------------

#: samples per analysis frame for the energy-flux feature (32 samples → 4
#: frames) — frame boundaries are index arithmetic, identical both engines
WAV_FRAME = 8


def decode_wav_samples(payload: bytes) -> tuple[int, list[int]]:
    """(sample_rate, samples) — the raw sample stream for feature
    extraction, via the shared :func:`_parse_wav_pcm` chunk walk."""
    rate, _channels, samples = _parse_wav_pcm(payload)
    return rate, samples


def audio_features(samples) -> dict:
    """Pure DSP kernel over one PCM sample vector: RMS energy, crest
    factor (peak/RMS — transient-ness), zero-crossing count/rate of the
    MEAN-CENTERED signal (the DC offset of unsigned-ish payloads would
    otherwise hide every crossing), and energy flux (max/min frame energy
    ratio — burst structure). Centering is exact integer arithmetic
    (sign(v·n − Σv)), so the crossing count is bit-identical cross-engine;
    float enters only in the final rounded ratios."""
    import numpy as np

    v = np.asarray(samples, dtype=np.int64)
    n = int(v.size)
    sum_sq = int((v * v).sum())
    peak = int(np.abs(v).max()) if n else 0
    sv = int(v.sum())
    c = np.sign(v * n - sv)
    crossings = int(np.count_nonzero(c[1:] != c[:-1])) if n > 1 else 0
    sq = (v * v).astype(np.int64)
    starts = np.arange(0, n, WAV_FRAME)
    fe = np.add.reduceat(sq, starts) if n else np.array([], dtype=np.int64)
    rms = math.sqrt(sum_sq / n) if n else 0.0
    min_fe = int(fe.min()) if fe.size else 0
    return {
        "n_samples": n,
        "peak": peak,
        "sum_sq": sum_sq,
        "rms": round(rms, 6),
        "crest": round(peak / rms, 6) if rms else None,
        "zero_crossings": crossings,
        "zcr": round(crossings / (n - 1), 6) if n > 1 else 0.0,
        "energy_flux": round(int(fe.max()) / min_fe, 6)
        if fe.size and min_fe
        else None,
    }


AUDIO_FEATURES_SCHEMA = (
    "asset_id long, n_samples int, peak int, sum_sq long, rms double, "
    "crest double, zero_crossings int, zcr double, energy_flux double"
)

audio_features_oracle = f"""
WITH s AS (
  SELECT doc_id, i,
         ascii(substr(text, CAST(2 * i + 1 AS BIGINT), 1))
         + 256 * ascii(substr(text, CAST(2 * i + 2 AS BIGINT), 1)) AS v
  FROM documents, range(0, {WAV_N_SAMPLES}) t(i)
  WHERE length(text) >= {_WAV_DATA} AND strlen(text) = length(text)
), agg AS (
  SELECT doc_id, sum(v * v) AS sum_sq, max(v) AS peak, sum(v) AS sv,
         count(*) AS n
  FROM s GROUP BY doc_id
), sg AS (
  SELECT s.doc_id, s.i, sign(s.v * a.n - a.sv) AS sgn
  FROM s JOIN agg a USING (doc_id)
), x AS (
  SELECT doc_id,
         sum(CASE WHEN sgn <> prev THEN 1 ELSE 0 END) AS crossings
  FROM (
    SELECT doc_id, sgn,
           lag(sgn) OVER (PARTITION BY doc_id ORDER BY i) AS prev
    FROM sg
  ) WHERE prev IS NOT NULL
  GROUP BY doc_id
), f AS (
  SELECT doc_id, i // {WAV_FRAME} AS frame, sum(v * v) AS fe
  FROM s GROUP BY doc_id, frame
), flux AS (
  SELECT doc_id,
         round(CAST(max(fe) AS DOUBLE) / nullif(min(fe), 0), 6)
           AS energy_flux
  FROM f GROUP BY doc_id
)
SELECT a.doc_id AS asset_id,
       CAST(a.n AS INT) AS n_samples,
       CAST(a.peak AS INT) AS peak,
       CAST(a.sum_sq AS BIGINT) AS sum_sq,
       round(sqrt(CAST(a.sum_sq AS DOUBLE) / a.n), 6) AS rms,
       round(a.peak / nullif(sqrt(CAST(a.sum_sq AS DOUBLE) / a.n), 0), 6)
         AS crest,
       CAST(x.crossings AS INT) AS zero_crossings,
       round(CAST(x.crossings AS DOUBLE) / (a.n - 1), 6) AS zcr,
       flux.energy_flux
FROM agg a JOIN x USING (doc_id) JOIN flux USING (doc_id)
"""


@register("multimodal_audio_features", audio_features_oracle)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-quality feature extraction over REAL decoded PCM (L5): the
    same in-plan RIFF/WAVE payload as ``multimodal_wav_decode``, decoded
    back to the raw sample stream by the actual chunk-walking parser
    inside ``mapInPandas``, then vectorized numpy DSP per asset — RMS,
    crest factor, mean-centered zero-crossing rate, frame energy flux:
    the silence/clipping/burst signals an audio-corpus curator filters
    on. The DuckDB oracle replays the identical arithmetic on the
    character-derived samples, so the parser, the int16 unpacking, AND
    the feature kernel are all value-checked. Executor-parallel, Arrow
    batch transfer, per-asset O(samples) work."""
    docs = load_table(spark, sf_dir, "documents")
    header = _wav_header(_WAV_DATA)
    assets = docs.filter(
        (F.length("text") >= _WAV_DATA)
        & (F.octet_length("text") == F.length("text"))
    ).select(
        F.col("doc_id").alias("asset_id"),
        F.concat(
            F.lit(header), F.encode(F.substring("text", 1, _WAV_DATA), "UTF-8")
        ).alias("payload"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "asset_id", "n_samples", "peak", "sum_sq", "rms", "crest",
            "zero_crossings", "zcr", "energy_flux",
        ]
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for p in pdf["payload"]:
                _, samples = decode_wav_samples(bytes(p))
                rows.append(audio_features(samples))
            out = pd.DataFrame(rows)
            out.insert(0, "asset_id", pdf["asset_id"].to_numpy())
            # nullable Float64 so the kernel's None (silent signal: rms=0
            # → crest undefined; zero-energy frame → flux undefined)
            # crosses Arrow as SQL NULL, not NaN. Unreachable under the
            # registered query's ASCII membership (every sample ≥ the
            # char range of real text), but the kernel API is general.
            yield out[cols].astype(
                {
                    "n_samples": "int32",
                    "peak": "int32",
                    "sum_sq": "int64",
                    "zero_crossings": "int32",
                    "crest": "Float64",
                    "energy_flux": "Float64",
                }
            )

    return assets.mapInPandas(extract, AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual (difference-hash) image near-dup over REAL decoded pixels
# ---------------------------------------------------------------------------

DH_W, DH_H = 9, 8  # dHash canonical grid: 9x8 grayscale → 8x8 neighbor bits
_DH_RASTER = DH_W * DH_H * 3  # 216 raster bytes
DH_HAM_MAX = 3  # ≤3 of 64 bits: 4 two-byte bands make the blocking LOSSLESS
_DH_BANDS = 4  # band b = rows (2b, 2b+1) as one 16-bit key


def _dh_gray_sql(x: int, y: int) -> str:
    """Grayscale (r+g+b)//3 of grid cell (x, y), replayed on the text
    bytes the in-plan PPM assembly uses as raster (ASCII-guarded)."""
    p = 3 * (y * DH_W + x)
    return (
        f"(ascii(substr(text, {p + 1}, 1)) + ascii(substr(text, {p + 2}, 1))"
        f" + ascii(substr(text, {p + 3}, 1))) // 3"
    )


def _dh_rowbyte_sql(y: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_dh_gray_sql(x + 1, y)} > {_dh_gray_sql(x, y)} "
        f"THEN {1 << x} ELSE 0 END)"
        for x in range(8)
    )
    return f"CAST({bits} AS BIGINT)"


def _dhash_neardup_oracle() -> str:
    rowbytes = ",\n         ".join(
        f"{_dh_rowbyte_sql(y)} AS rb{y}" for y in range(DH_H)
    )
    ham = " + ".join(f"bit_count(xor(a.rb{y}, b.rb{y}))" for y in range(DH_H))
    return f"""
WITH fp AS MATERIALIZED (
  SELECT doc_id AS asset_id,
         {rowbytes}
  FROM documents
  WHERE length(text) >= {_DH_RASTER} AND strlen(text) = length(text)
)
SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
       CAST({ham} AS INT) AS hamming
FROM fp a JOIN fp b ON a.asset_id < b.asset_id
WHERE {ham} <= {DH_HAM_MAX}
"""


@register("image_dhash_neardup", _dhash_neardup_oracle())
def image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-duplication via difference hash (dHash) over
    REAL decoded pixels: a 9×8 P6 PPM is assembled per document in-plan
    (the `multimodal_image_decode` pattern — header + 216 text bytes as
    raster), the actual PPM parser + numpy grayscale/neighbor-gradient
    run inside mapInPandas, and the 64-bit fingerprint (8 row-bytes) is
    banded so candidate pairs form ONLY on an equal TWO-ROW (16-bit) band
    — the pigeonhole makes the blocking LOSSLESS for hamming ≤ 3 (4
    bands, ≤3 differing bits leave ≥1 band untouched). 16-bit bands, not
    single row-bytes, are the scale decision: an 8-bit band has only 256
    values, so its buckets fill at N/256 and candidate pairs grow ~N²/256
    (measured 1.8M candidate rows from 5k docs); 65,536-value bands cut
    that 256-fold for the same lossless guarantee at the tighter
    threshold. Exact per-row-byte popcount verifies candidates. The image twin of `simhash_near_dup`: robust to
    brightness-uniform shifts (gradient signs survive), unlike the
    byte-exact `ingest_content_dedup`.

    The oracle replays grayscale → gradient bits → popcount on the text
    bytes directly and verifies the FULL quadratic — two genuinely
    different algorithms (banded LSH vs brute force), one result.

    Scale: fingerprints are one mapInPandas scan (real decode, 24-byte
    output/asset); the band join shuffles 8 hash-keyed rows per asset;
    hot bands self-cap at the band-equality selectivity (the
    `hamming_self_join` argument). Integer math end to end."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents")
    header = f"P6\n{DH_W} {DH_H}\n255\n".encode()
    assets = docs.filter(
        (F.length("text") >= _DH_RASTER)
        & (F.octet_length("text") == F.length("text"))
    ).select(
        F.col("doc_id").alias("asset_id"),
        F.concat(
            F.lit(header),
            F.encode(F.substring("text", 1, _DH_RASTER), "UTF-8"),
        ).alias("payload"),
    )

    def fingerprint(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                img = decode_image_pixels(bytes(payload))  # (h, w, 3) uint8
                g = img.astype(np.int64).sum(axis=2) // 3  # (8, 9) gray
                bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)  # (8, 8)
                rbs = (bits << np.arange(8)).sum(axis=1)  # 8 row-bytes
                out.append((aid, *map(int, rbs)))
            yield pd.DataFrame(
                out, columns=["asset_id"] + [f"rb{y}" for y in range(DH_H)]
            )

    schema = T.StructType(
        [T.StructField("asset_id", T.LongType(), False)]
        + [T.StructField(f"rb{y}", T.LongType(), False) for y in range(DH_H)]
    )
    fp = assets.mapInPandas(fingerprint, schema).transform(materialize)

    bands = fp.select(
        "asset_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.col(f"rb{2 * b}")
                            + F.col(f"rb{2 * b + 1}") * 256
                        ).alias("val"),
                    )
                    for b in range(_DH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("asset_id", "b.band", "b.val")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.asset_id") < F.col("y.asset_id")),
        )
        .select(
            F.col("x.asset_id").alias("asset_a"),
            F.col("y.asset_id").alias("asset_b"),
        )
        .distinct()
    )
    a = fp.alias("a")
    b = fp.alias("b")
    ham = None
    for y in range(DH_H):
        t = F.bit_count(
            F.col(f"a.rb{y}").bitwiseXOR(F.col(f"b.rb{y}"))
        )
        ham = t if ham is None else ham + t
    return (
        cand.join(a, cand.asset_a == F.col("a.asset_id"))
        .join(b, cand.asset_b == F.col("b.asset_id"))
        .select("asset_a", "asset_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= DH_HAM_MAX)
    )


def decode_image_pixels(payload: bytes):
    """Full-raster counterpart of :func:`decode_image` (which reduces to
    channel means): returns the (h, w, 3) uint8 RGB array of a P6 PPM —
    the pixel surface perceptual hashing needs. Same header parser, same
    NotImplementedError boundary for compressed formats."""
    import numpy as np

    if payload[:2] != b"P6":
        raise NotImplementedError("only P6 PPM rasters here")
    (w, h, maxval), i = _ppm_tokens(payload, 3)
    if maxval >= 256:
        raise NotImplementedError("16-bit PPM not supported")
    raster = payload[i + 1 : i + 1 + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# audio_silence_segments: gaps-islands over frame energy (round 13)
# ---------------------------------------------------------------------------


def silence_segments(samples) -> dict:
    """Pure integer kernel: a frame (WAV_FRAME samples) is SILENT iff its
    energy is below half the asset's mean frame energy (2·fe·n_frames <
    Σfe — pure integers, no float threshold anywhere); silent runs
    collapse to segments. Returns counts + the longest run."""
    import numpy as np

    v = np.asarray(samples, dtype=np.int64)
    sq = v * v
    starts = np.arange(0, v.size, WAV_FRAME)
    fe = (
        np.add.reduceat(sq, starts)
        if v.size
        else np.array([], dtype=np.int64)
    )
    nf = int(fe.size)
    tot = int(fe.sum())
    silent = (2 * fe * nf) < tot
    n_silent = int(silent.sum())
    # run-length: segment starts where silent and (first or prev loud)
    if nf:
        start_mask = silent & np.concatenate(([True], ~silent[:-1]))
        n_seg = int(start_mask.sum())
        longest = 0
        run = 0
        for s in silent:
            run = run + 1 if s else 0
            longest = max(longest, run)
    else:
        n_seg, longest = 0, 0
    return {
        "n_frames": nf,
        "silent_frames": n_silent,
        "n_segments": n_seg,
        "longest_segment": longest,
    }


SILENCE_SCHEMA = (
    "asset_id long, n_frames int, silent_frames int, n_segments int, "
    "longest_segment int"
)

silence_oracle = f"""
WITH s AS (
  SELECT doc_id, i,
         ascii(substr(text, CAST(2 * i + 1 AS BIGINT), 1))
         + 256 * ascii(substr(text, CAST(2 * i + 2 AS BIGINT), 1)) AS v
  FROM documents, range(0, {WAV_N_SAMPLES}) t(i)
  WHERE length(text) >= {_WAV_DATA} AND strlen(text) = length(text)
), f AS (
  SELECT doc_id, i // {WAV_FRAME} AS frame, sum(v * v) AS fe
  FROM s GROUP BY doc_id, frame
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS nf, CAST(sum(fe) AS BIGINT)
           AS te
  FROM f GROUP BY doc_id
), marked AS (
  SELECT f.doc_id, f.frame,
         CASE WHEN 2 * f.fe * t.nf < t.te THEN 1 ELSE 0 END AS silent
  FROM f JOIN tot t USING (doc_id)
), isl AS (
  SELECT doc_id, frame,
         frame - row_number() OVER (PARTITION BY doc_id ORDER BY frame)
           AS grp
  FROM marked WHERE silent = 1
), seg AS (
  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS seg_len
  FROM isl GROUP BY doc_id, grp
), per AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_segments,
         CAST(sum(seg_len) AS INT) AS silent_frames,
         CAST(max(seg_len) AS INT) AS longest_segment
  FROM seg GROUP BY doc_id
)
SELECT t.doc_id AS asset_id, CAST(t.nf AS INT) AS n_frames,
       COALESCE(p.silent_frames, 0) AS silent_frames,
       COALESCE(p.n_segments, 0) AS n_segments,
       COALESCE(p.longest_segment, 0) AS longest_segment
FROM tot t LEFT JOIN per p USING (doc_id)
"""


@register("audio_silence_segments", silence_oracle)
def audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-segment detection over REAL decoded PCM (L5): frames whose
    energy falls below HALF the asset's mean frame energy collapse into
    runs — per asset, how many silent frames/segments and the longest run
    (the trim/VAD pre-processing an audio-corpus pipeline runs before
    transcription; `multimodal_audio_features`' energy_flux says bursts
    EXIST, this says WHERE and HOW LONG). The threshold compare and the
    run-length logic are pure integers (2·fe·n_frames < Σfe), so output
    is bit-determined; the oracle replays frame energies off the
    characters and runs the same gaps-islands in SQL — parser, framing,
    threshold, and segmentation all value-checked.

    Shape: one mapInPandas scan (real chunk-walk decode + an O(frames)
    numpy pass per asset); per-asset work is duration-bounded, the scan
    is embarrassingly parallel, nothing shuffles at all."""
    docs = load_table(spark, sf_dir, "documents")
    header = _wav_header(_WAV_DATA)
    assets = docs.filter(
        (F.length("text") >= _WAV_DATA)
        & (F.octet_length("text") == F.length("text"))
    ).select(
        F.col("doc_id").alias("asset_id"),
        F.concat(
            F.lit(header), F.encode(F.substring("text", 1, _WAV_DATA), "UTF-8")
        ).alias("payload"),
    )

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "asset_id", "n_frames", "silent_frames", "n_segments",
            "longest_segment",
        ]
        for pdf in batches:
            if pdf.empty:
                continue
            rows = [
                silence_segments(decode_wav_samples(bytes(p))[1])
                for p in pdf["payload"]
            ]
            out = pd.DataFrame(rows)
            out.insert(0, "asset_id", pdf["asset_id"].to_numpy())
            yield out[cols].astype(
                {
                    "n_frames": "int32",
                    "silent_frames": "int32",
                    "n_segments": "int32",
                    "longest_segment": "int32",
                }
            )

    return assets.mapInPandas(seg, SILENCE_SCHEMA)
