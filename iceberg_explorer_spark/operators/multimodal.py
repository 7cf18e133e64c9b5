"""Multimodal column plumbing (north-star extension).

Image/audio/video payloads are modeled as opaque ``binary`` columns plus
typed metadata — the lakehouse-native layout for multimodal training data.
The decode stage is REAL for two self-describing formats that need no media
libraries: binary PPM (P6) images and RIFF/WAVE PCM audio, parsed in pure
Python with per-channel statistics as the extracted features. Heavier
codecs (JPEG/MP4/...) would plug into the same ``mapInPandas`` operator —
the Spark-side contract (binary columns, Arrow iterator batching, stable
output schema) is identical; batches stream through Python without
materializing a partition at once.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_explorer_spark.operators.dedup import shared_artifact
from iceberg_explorer_spark.operators.registry import query
from iceberg_explorer_spark.operators.text import FINGERPRINT_MAX_CHARS
from iceberg_explorer_spark.sources.registry import load_table, repartition_for_compute

_DECODE_SCHEMA = (
    "doc_id bigint, decode_status string, format string, width int, "
    "height int, n_channels int, mean_c0 double, mean_c1 double, "
    "mean_c2 double"
)


class _Decoded:
    __slots__ = (
        "status", "format", "width", "height", "n_channels", "means",
        "data_offset",
    )

    def __init__(
        self,
        status: str,
        format: str = "unknown",
        width: Optional[int] = None,
        height: Optional[int] = None,
        n_channels: Optional[int] = None,
        means: Optional[list[float]] = None,
        data_offset: Optional[int] = None,
    ) -> None:
        self.status = status
        self.format = format
        self.width = width
        self.height = height
        self.n_channels = n_channels
        self.means = (means or []) + [None] * (3 - len(means or []))
        #: byte offset of the pixel/sample data within the payload — the
        #: parser's own answer, so consumers never re-derive it from
        #: len(payload) arithmetic (wrong for payloads with trailing bytes)
        self.data_offset = data_offset


def decode_ppm(payload: bytes) -> _Decoded:
    """Parse a binary PPM (P6): header tokens (magic, width, height, maxval,
    with ``#`` comments) then raw RGB bytes; features = per-channel means.

    Real parser, real stats — no stub. Deterministic: channel mean is an
    exact integer sum divided once in double.
    """
    if payload is None:  # a NULL payload must not kill a 100 TB job
        return _Decoded("null_payload")
    if payload[:2] != b"P6":
        return _Decoded("bad_magic")
    # tokenize header: magic, width, height, maxval separated by whitespace,
    # '#' starts a comment through end-of-line
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < len(payload) and payload[j : j + 1].isdigit():
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
        else:
            return _Decoded("bad_header", "ppm")
    if len(tokens) < 3 or i >= len(payload):
        return _Decoded("bad_header", "ppm")
    width, height, maxval = tokens
    if maxval > 255 or width <= 0 or height <= 0:
        return _Decoded("unsupported", "ppm", width, height)
    i += 1  # the single whitespace byte after maxval
    pixels = payload[i : i + width * height * 3]
    if len(pixels) < width * height * 3:
        return _Decoded("truncated", "ppm", width, height, 3)
    n = width * height
    means = [sum(pixels[c::3]) / float(n) for c in range(3)]
    return _Decoded("ok", "ppm", width, height, 3, means, data_offset=i)


def decode_wav(payload: bytes) -> _Decoded:
    """Parse RIFF/WAVE with 16-bit PCM: walk the chunk list to ``fmt `` and
    ``data``, then per-channel mean amplitude (exact integer sum / count)."""
    if payload is None:
        return _Decoded("null_payload")
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return _Decoded("bad_magic")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return _Decoded("bad_header", "wav")
    audio_format, n_channels, _rate, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if audio_format != 1 or bits != 16 or n_channels < 1 or n_channels > 3:
        return _Decoded("unsupported", "wav", None, None, n_channels)
    n_frames = len(data) // (2 * n_channels)
    if n_frames == 0:
        return _Decoded("truncated", "wav", None, None, n_channels)
    samples = struct.unpack(f"<{n_frames * n_channels}h", data[: n_frames * n_channels * 2])
    means = [
        sum(samples[c::n_channels]) / float(n_frames) for c in range(n_channels)
    ]
    return _Decoded("ok", "wav", None, None, n_channels, means)


def decode_payload(payload: bytes) -> _Decoded:
    """Dispatch on magic bytes — the shape a real multi-codec decode stage
    has. Unknown formats are reported, never raised: one corrupt payload
    must not kill a 100 TB job."""
    if payload is None:
        return _Decoded("null_payload")
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    return _Decoded("bad_magic")


def decode_features(binary_df: DataFrame) -> DataFrame:
    """mapInPandas decode operator: (doc_id, payload binary) → per-channel
    feature stats.

    Iterator-of-batches signature so a 100 MB Arrow batch streams through
    Python without materializing the whole partition; batch size is governed
    by spark.sql.execution.arrow.maxRecordsPerBatch.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_payload(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "decode_status": [d.status for d in decoded],
                    "format": [d.format for d in decoded],
                    "width": pd.array([d.width for d in decoded], dtype="Int32"),
                    "height": pd.array([d.height for d in decoded], dtype="Int32"),
                    "n_channels": pd.array(
                        [d.n_channels for d in decoded], dtype="Int32"
                    ),
                    "mean_c0": [d.means[0] for d in decoded],
                    "mean_c1": [d.means[1] for d in decoded],
                    "mean_c2": [d.means[2] for d in decoded],
                }
            )

    return binary_df.mapInPandas(op, schema=_DECODE_SCHEMA)


@query(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           md5(text) AS content_digest,
           CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'image'
                WHEN octet_length(encode(text)) % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality
    FROM documents
    """,
    doc="Typed metadata over opaque binary payloads: byte length, content "
    "digest, modality tag — computed JVM-side on the binary column, no "
    "decode needed. (documents.text stands in for the payload bytes.)",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    blen = F.octet_length(payload).cast("bigint")
    return docs.select(
        "doc_id",
        blen.alias("byte_len"),
        F.md5(payload).alias("content_digest"),
        F.when(blen % 3 == 0, "image")
        .when(blen % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
    )


#: 2×2 P6 header for the synthetic decode corpus (11 bytes, then 12 RGB bytes)
_PPM_W = _PPM_H = 2
_PPM_HEADER = b"P6\n2 2\n255\n"
_PPM_PIX = _PPM_W * _PPM_H * 3


#: Both engines frame the SAME ascii-sanitized projection of the text (strip
#: every non-ASCII char before byte-framing). DuckDB cannot slice BLOBs, so
#: its side of the oracle is necessarily character-based — sanitizing first
#: makes chars == bytes BY CONSTRUCTION instead of by corpus accident, so a
#: future non-ASCII document cannot diverge the gate.
_ASCII_ONLY_RE = r"[^\x01-\x7F]"


def framed_payload(header: bytes, n_bytes: int):
    """Column expression for the synthetic binary payload: the
    ascii-sanitized text bytes framed under a fixed format header.
    Single definition shared by every multimodal operator — the framing
    (sanitization regex, header, byte budget) is the hash/feature domain
    every oracle mirrors character-by-character, so a divergent copy in
    one operator would silently split that domain."""
    ascii_text = F.coalesce(
        F.regexp_replace(F.col("text"), _ASCII_ONLY_RE, ""), F.lit("")
    )
    return F.concat(
        F.lit(header), F.substring(ascii_text.cast("binary"), 1, n_bytes)
    )


def _ppm_mean_sql(channel: int) -> str:
    """DuckDB per-channel mean over the ascii-sanitized text bytes the
    payload embeds (``t``: chars == bytes by construction)."""
    terms = " + ".join(
        f"ord(substr(t, {channel + 1 + 3 * p}, 1))" for p in range(_PPM_W * _PPM_H)
    )
    return f"({terms}) / {float(_PPM_W * _PPM_H)}"


@query(
    "multimodal_decode_features",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, regexp_replace(text, '{_ASCII_ONLY_RE}', '', 'g') AS t
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN length(t) >= {_PPM_PIX} THEN 'ok' ELSE 'truncated' END
             AS decode_status,
           'ppm' AS format,
           CAST({_PPM_W} AS INTEGER) AS width,
           CAST({_PPM_H} AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS n_channels,
           CASE WHEN length(t) >= {_PPM_PIX} THEN {_ppm_mean_sql(0)} END AS mean_c0,
           CASE WHEN length(t) >= {_PPM_PIX} THEN {_ppm_mean_sql(1)} END AS mean_c1,
           CASE WHEN length(t) >= {_PPM_PIX} THEN {_ppm_mean_sql(2)} END AS mean_c2
    FROM a
    """,
    doc="Arrow-batched decode pipeline with a REAL decoder: each document's "
    "first 12 bytes are framed as a 2×2 binary PPM (header built JVM-side), "
    "then mapInPandas runs the pure-Python P6 parser (decode_ppm — magic/"
    "dims/maxval/comments) and extracts per-channel pixel means as the "
    "features. The oracle recomputes the identical means from the raw text "
    "bytes, so header parsing, pixel slicing, and the stats are all "
    "correctness-gated. Exact integer sums / one double division → "
    "bit-identical across engines.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    payload = framed_payload(_PPM_HEADER, _PPM_PIX)
    binary_df = docs.select("doc_id", payload.alias("payload"))
    return decode_features(binary_df)


#: 4×4 P6 header for the synthetic resize corpus (11 bytes + 48 RGB bytes)
_RZ_W = _RZ_H = 4
_RZ_HEADER = b"P6\n4 4\n255\n"
_RZ_PIX = _RZ_W * _RZ_H * 3
#: resize target
_RZ_OUT_W = _RZ_OUT_H = 2

_RESIZE_SCHEMA = (
    "doc_id bigint, decode_status string, out_width int, out_height int, "
    "resized_digest string, mean_c0 double, mean_c1 double, mean_c2 double"
)


def resize_ppm(payload: bytes, out_w: int, out_h: int) -> tuple:
    """Nearest-neighbor resize of a binary PPM (P6): parse the header, pick
    source pixels at ``src = floor(dst * src_dim / dst_dim)`` with numpy
    fancy indexing, return (status, resized_bytes, per-channel means).

    Real numpy kernel — the same array shape a JPEG decode would feed; the
    vectorized indexing is the per-image hot loop and stays in C."""
    import numpy as np

    d = decode_ppm(payload)
    if d.status != "ok":
        return d.status, None, [None, None, None]
    # re-locate the pixel offset the same way decode_ppm did
    hdr_end = len(payload) - d.width * d.height * 3
    arr = np.frombuffer(
        payload[hdr_end : hdr_end + d.width * d.height * 3], dtype=np.uint8
    ).reshape(d.height, d.width, 3)
    iy = (np.arange(out_h) * d.height) // out_h
    ix = (np.arange(out_w) * d.width) // out_w
    res = arr[np.ix_(iy, ix)]
    means = [float(res[:, :, c].sum()) / (out_w * out_h) for c in range(3)]
    import hashlib

    return "ok", hashlib.md5(res.tobytes()).hexdigest(), means


def resize_features(binary_df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """mapInPandas resize operator: (doc_id, payload binary) → resized-image
    digest + per-channel means. Same Arrow iterator-batching contract as
    decode_features."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [resize_ppm(p, out_w, out_h) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "decode_status": [o[0] for o in out],
                    "out_width": pd.array(
                        [out_w if o[0] == "ok" else None for o in out],
                        dtype="Int32",
                    ),
                    "out_height": pd.array(
                        [out_h if o[0] == "ok" else None for o in out],
                        dtype="Int32",
                    ),
                    "resized_digest": [o[1] for o in out],
                    "mean_c0": [o[2][0] for o in out],
                    "mean_c1": [o[2][1] for o in out],
                    "mean_c2": [o[2][2] for o in out],
                }
            )

    return binary_df.mapInPandas(op, schema=_RESIZE_SCHEMA)


def _rz_picked_offsets() -> list[int]:
    """1-based character offsets (into the ascii-sanitized text) of the 2×2
    nearest-neighbor picks from the 4×4 source: pixel (y, x) for
    y, x ∈ floor(dst * 4 / 2) = {0, 2} → byte 3 * (y * 4 + x)."""
    ys = [(dy * _RZ_H) // _RZ_OUT_H for dy in range(_RZ_OUT_H)]
    xs = [(dx * _RZ_W) // _RZ_OUT_W for dx in range(_RZ_OUT_W)]
    return [3 * (y * _RZ_W + x) + 1 for y in ys for x in xs]


def _rz_digest_sql() -> str:
    parts = " || ".join(f"substr(t, {o}, 3)" for o in _rz_picked_offsets())
    return f"md5({parts})"


def _rz_mean_sql(channel: int) -> str:
    terms = " + ".join(
        f"ord(substr(t, {o + channel}, 1))" for o in _rz_picked_offsets()
    )
    return f"({terms}) / {float(_RZ_OUT_W * _RZ_OUT_H)}"


@query(
    "multimodal_image_resize",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, regexp_replace(text, '{_ASCII_ONLY_RE}', '', 'g') AS t
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN length(t) >= {_RZ_PIX} THEN 'ok' ELSE 'truncated' END
             AS decode_status,
           CASE WHEN length(t) >= {_RZ_PIX} THEN CAST({_RZ_OUT_W} AS INTEGER) END
             AS out_width,
           CASE WHEN length(t) >= {_RZ_PIX} THEN CAST({_RZ_OUT_H} AS INTEGER) END
             AS out_height,
           CASE WHEN length(t) >= {_RZ_PIX} THEN {_rz_digest_sql()} END
             AS resized_digest,
           CASE WHEN length(t) >= {_RZ_PIX} THEN {_rz_mean_sql(0)} END AS mean_c0,
           CASE WHEN length(t) >= {_RZ_PIX} THEN {_rz_mean_sql(1)} END AS mean_c1,
           CASE WHEN length(t) >= {_RZ_PIX} THEN {_rz_mean_sql(2)} END AS mean_c2
    FROM a
    """,
    doc="Image resize pipeline with a REAL numpy kernel: each document's "
    f"first {_RZ_PIX} bytes are framed as a 4×4 binary PPM, then mapInPandas "
    "runs nearest-neighbor downsampling to 2×2 via vectorized fancy "
    "indexing (resize_ppm) and emits the resized-pixel digest + per-channel "
    "means. The oracle recomputes the identical picked pixels from the raw "
    "text bytes (src = floor(dst·src_dim/dst_dim) offsets baked into the "
    "SQL), so header parsing, the index math, the resized bytes AND the "
    "stats are all correctness-gated. Zero shuffle: decode/resize is "
    "map-side; at 100 TB this stage is CPU-bound Python, so it rides "
    "repartition_for_compute to spread single-split scans.",
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    payload = framed_payload(_RZ_HEADER, _RZ_PIX)
    binary_df = docs.select("doc_id", payload.alias("payload"))
    return resize_features(binary_df, _RZ_OUT_W, _RZ_OUT_H)


FRAME_BYTES = 16
FRAME_STRIDE = 4


@query(
    "multimodal_frame_sample",
    oracle=f"""
    -- The frame fingerprint is md5 over the frame's HEX encoding: DuckDB
    -- can neither slice a BLOB nor md5 one, but hex() is byte-exact on
    -- both engines and character-slicing the hex string (2 chars/byte)
    -- selects exactly the frame's bytes — so the digests agree for ANY
    -- payload, unicode included (the old text-substring oracle was only
    -- correct for pure-ASCII corpora).
    SELECT doc_id, i AS frame_idx,
           md5(substring(hex(encode(text)),
                         CAST(i * {2 * FRAME_BYTES} + 1 AS BIGINT),
                         {2 * FRAME_BYTES})) AS frame_digest
    FROM documents,
         UNNEST(generate_series(0,
             CAST(FLOOR(octet_length(encode(text)) / {FRAME_BYTES}) AS BIGINT)
               - 1)) AS t(i)
    WHERE i % {FRAME_STRIDE} = 0
    """,
    doc=f"Frame sampling over opaque video-like payloads: chunk the binary "
    f"column into {FRAME_BYTES}-byte frames, keep every {FRAME_STRIDE}th, "
    "digest each sampled frame — entirely JVM-side (sequence + substring on "
    "binary, no Python, no decode). This is the partition-parallel shape of "
    "real frame sampling: per-row expansion with zero shuffle; a real "
    "deployment swaps the digest for a decoder call in the mapInPandas "
    "stage (decode_features) AFTER sampling has cut the data volume.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    # FLOOR on both engines: a bare double→bigint cast truncates in Spark
    # but ROUNDS in DuckDB, silently changing the frame count
    n_frames = F.floor(F.octet_length(payload) / FRAME_BYTES).cast("bigint")
    # Guard the sub-frame payload: Spark's sequence(0, -1) yields a
    # DESCENDING [0, -1] (frame 0 would survive the stride filter and emit a
    # spurious short-frame digest) while DuckDB's generate_series(0, -1) is
    # empty — emit an empty frame list explicitly when n_frames == 0.
    frame_idxs = F.when(
        n_frames > 0, F.sequence(F.lit(0).cast("bigint"), n_frames - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        docs.select(
            "doc_id",
            payload.alias("payload"),
            F.explode(frame_idxs).alias("frame_idx"),
        )
        .filter(F.col("frame_idx") % FRAME_STRIDE == 0)
        .select(
            "doc_id",
            "frame_idx",
            # fingerprint = md5 over the frame's HEX encoding (not the raw
            # bytes): equally opaque, but expressible byte-exactly in the
            # DuckDB oracle, which cannot slice or md5 a BLOB
            F.md5(
                F.hex(
                    F.expr(
                        f"substring(payload, frame_idx * {FRAME_BYTES} + 1,"
                        f" {FRAME_BYTES})"
                    )
                )
            ).alias("frame_digest"),
        )
    )


#: ViT-style patchify over the 4×4 synthetic corpus: 2×2 patch grid → 4
#: patches of 2×2 pixels each; a patch's "visual token" is its per-channel
#: mean vector (a real ViT would project the flattened patch instead —
#: same array slicing, different final matmul).
_PT_GRID = 2
_PT_SIDE = _RZ_W // _PT_GRID

_PATCH_SCHEMA = (
    "doc_id bigint, patch_id bigint, tok_c0 double, tok_c1 double, "
    "tok_c2 double"
)


def patch_tokens_ppm(payload: bytes) -> list:
    """Parse a binary PPM and patchify: reshape to (grid, side, grid, side,
    3) and mean over the in-patch axes — the canonical ViT patch-embedding
    input, computed with one vectorized numpy reduction. Truncated payloads
    emit NO patches (short media yields no tokens, mirroring frame
    sampling)."""
    import numpy as np

    d = decode_ppm(payload)
    if d.status != "ok" or d.width != _RZ_W or d.height != _RZ_H:
        return []
    hdr_end = len(payload) - d.width * d.height * 3
    arr = np.frombuffer(
        payload[hdr_end : hdr_end + d.width * d.height * 3], dtype=np.uint8
    ).reshape(d.height, d.width, 3)
    # (gy, sy, gx, sx, c) → mean over (sy, sx); exact: int sums / 4.0
    sums = (
        arr.reshape(_PT_GRID, _PT_SIDE, _PT_GRID, _PT_SIDE, 3)
        .astype(np.int64)
        .sum(axis=(1, 3))
    )
    n = _PT_SIDE * _PT_SIDE
    return [
        (gy * _PT_GRID + gx, [float(sums[gy, gx, c]) / n for c in range(3)])
        for gy in range(_PT_GRID)
        for gx in range(_PT_GRID)
    ]


def patch_features(binary_df: DataFrame) -> DataFrame:
    """mapInPandas patchify: (doc_id, payload) → one row per patch. Output
    cardinality varies per input row (0 for truncated payloads) — the
    Arrow iterator contract handles the expansion without materializing a
    partition."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                for pid, toks in patch_tokens_ppm(p):
                    rows.append((doc_id, pid, toks[0], toks[1], toks[2]))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "patch_id", "tok_c0", "tok_c1", "tok_c2"],
            )

    return binary_df.mapInPandas(op, schema=_PATCH_SCHEMA)


def _pt_offsets(patch_id: int) -> list[int]:
    """1-based char offsets of patch ``patch_id``'s pixels in the sanitized
    text: patch (gy, gx) covers rows 2gy..2gy+1 × cols 2gx..2gx+1 of the
    4×4 image; pixel (y, x) starts at byte 3(4y + x)."""
    gy, gx = divmod(patch_id, _PT_GRID)
    return [
        3 * (y * _RZ_W + x) + 1
        for y in range(gy * _PT_SIDE, (gy + 1) * _PT_SIDE)
        for x in range(gx * _PT_SIDE, (gx + 1) * _PT_SIDE)
    ]


def _pt_tok_sql(patch_id: int, channel: int) -> str:
    terms = " + ".join(
        f"ord(substr(t, {o + channel}, 1))" for o in _pt_offsets(patch_id)
    )
    return f"({terms}) / {float(_PT_SIDE * _PT_SIDE)}"


def _pt_union_sql() -> str:
    selects = []
    for pid in range(_PT_GRID * _PT_GRID):
        selects.append(
            f"SELECT doc_id, CAST({pid} AS BIGINT) AS patch_id, "
            f"{_pt_tok_sql(pid, 0)} AS tok_c0, "
            f"{_pt_tok_sql(pid, 1)} AS tok_c1, "
            f"{_pt_tok_sql(pid, 2)} AS tok_c2 "
            f"FROM a WHERE length(t) >= {_RZ_PIX}"
        )
    return " UNION ALL ".join(selects)


@query(
    "multimodal_patch_tokens",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, regexp_replace(text, '{_ASCII_ONLY_RE}', '', 'g') AS t
      FROM documents
    )
    {{}}
    """.format(_pt_union_sql()),
    doc="ViT-style patch tokenization: each 4×4 synthetic image splits into "
    "a 2×2 grid of 2×2-pixel patches and every patch becomes a per-channel "
    "mean 'visual token' row — the patch-embedding input layout of a "
    "vision transformer, produced by one vectorized numpy reshape+reduce "
    "inside mapInPandas (Arrow batches, variable output cardinality: "
    "truncated payloads emit no tokens). The oracle recomputes every "
    "patch mean from the raw text bytes, so the patch geometry and the "
    "reduction are both correctness-gated, like the decode and resize "
    "stages. At 100 TB this is the same narrow scan-width Python tier as "
    "decode: no shuffle, work ∝ images × patches.",
)
def multimodal_patch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    payload = framed_payload(_RZ_HEADER, _RZ_PIX)
    return patch_features(docs.select("doc_id", payload.alias("payload")))


#: synthetic audio corpus geometry: 32 mono 16-bit samples (64 data bytes)
#: framed from the ascii-sanitized text, analyzed in 4 windows of 8 samples.
_AU_SAMPLES = 32
_AU_WIN = 8
_AU_DATA_BYTES = _AU_SAMPLES * 2
_AU_HEADER = (
    b"RIFF"
    + struct.pack("<I", 4 + 8 + 16 + 8 + _AU_DATA_BYTES)
    + b"WAVE"
    + b"fmt "
    + struct.pack("<I", 16)
    + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    + b"data"
    + struct.pack("<I", _AU_DATA_BYTES)
)

_AUDIO_ENERGY_SCHEMA = (
    "doc_id bigint, window_id bigint, n_samples bigint, energy_sum bigint"
)


def wav_window_energy(payload: bytes, win: int = _AU_WIN) -> list:
    """Parse RIFF/WAVE PCM via the same chunk walk as decode_wav, then
    per-window sum of squared samples — the frame-energy feature a VAD /
    silence-trimming stage computes. Exact integer arithmetic end to end.
    Truncated/invalid payloads emit no windows."""
    d = decode_wav(payload)
    if d.status != "ok" or d.n_channels != 1:
        return []
    # re-locate the data chunk exactly as decode_wav did
    pos, data = 12, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if cid == b"data":
            data = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size % 2)
    n = len(data) // 2
    samples = struct.unpack(f"<{n}h", data[: n * 2])
    return [
        (
            w,
            len(samples[w * win : (w + 1) * win]),
            sum(int(s) * int(s) for s in samples[w * win : (w + 1) * win]),
        )
        for w in range(n // win)
    ]


def audio_energy_features(binary_df: DataFrame) -> DataFrame:
    """mapInPandas windowed-energy operator: one row per (payload, window),
    variable cardinality like patch/frame extraction."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                for wid, ns, e in wav_window_energy(p):
                    rows.append((doc_id, wid, ns, e))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "window_id", "n_samples", "energy_sum"],
            )

    return binary_df.mapInPandas(op, schema=_AUDIO_ENERGY_SCHEMA)


def _au_sample_sql(i: int) -> str:
    """1-based sample i from the sanitized text: little-endian int16 from
    chars (2i-1, 2i). Sanitized chars are 0x01..0x7F, so the high byte is
    ≤ 0x7F and the sample is always non-negative — no sign branch."""
    return (
        f"CAST(ord(substr(t, {2 * i - 1}, 1))"
        f" + 256 * ord(substr(t, {2 * i}, 1)) AS BIGINT)"
    )


def _au_energy_sql(window: int) -> str:
    terms = " + ".join(
        f"({_au_sample_sql(window * _AU_WIN + k + 1)}"
        f" * {_au_sample_sql(window * _AU_WIN + k + 1)})"
        for k in range(_AU_WIN)
    )
    return f"({terms})"


def _au_union_sql() -> str:
    # window w exists whenever ITS 16 bytes are present — partial payloads
    # yield their complete windows (a VAD consumes what arrived), matching
    # the parser side's n_samples // win emission
    selects = []
    for w in range(_AU_SAMPLES // _AU_WIN):
        selects.append(
            f"SELECT doc_id, CAST({w} AS BIGINT) AS window_id, "
            f"CAST({_AU_WIN} AS BIGINT) AS n_samples, "
            f"CAST({_au_energy_sql(w)} AS BIGINT) AS energy_sum "
            f"FROM a WHERE length(t) >= {(w + 1) * _AU_WIN * 2}"
        )
    return " UNION ALL ".join(selects)


@query(
    "multimodal_audio_energy",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, regexp_replace(text, '{_ASCII_ONLY_RE}', '', 'g') AS t
      FROM documents
    )
    {{}}
    """.format(_au_union_sql()),
    doc="Windowed audio frame energy through the REAL RIFF/WAVE PCM parser: "
    "each document's first 64 sanitized bytes are framed as 32 mono 16-bit "
    "samples and mapInPandas computes per-8-sample-window sums of squares "
    "— the voice-activity-detection / silence-trimming feature, exact "
    "integer arithmetic end to end (sanitized high bytes are ≤ 0x7F so "
    "samples are provably non-negative — the oracle needs no sign "
    "branch). Audio twin of multimodal_patch_tokens: same Arrow-batched "
    "variable-cardinality contract, different codec path "
    "(chunk-walk header parse instead of pixel reshape).",
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    payload = framed_payload(_AU_HEADER, _AU_DATA_BYTES)
    return audio_energy_features(docs.select("doc_id", payload.alias("payload")))


# ---------------------------------------------------------------------------
# Perceptual-hash (average-hash) near-duplicate grouping
# ---------------------------------------------------------------------------
_AH_PIXELS = _RZ_W * _RZ_H  # 16 pixels from the 4x4 corpus

_AHASH_SCHEMA = "doc_id bigint, ahash bigint"


def ahash_ppm(payload: bytes) -> Optional[int]:
    """Average-hash of a binary PPM: per-pixel gray SUM (3 channels, exact
    int), bit i set iff n_pixels * gray_i > total — the strict integer form
    of 'pixel brighter than image mean', no division, no float, so Spark's
    numpy path and the oracle's per-byte SQL agree bit-for-bit."""
    import numpy as np

    d = decode_ppm(payload)
    if d.status != "ok":
        return None
    n = d.width * d.height
    if n > 64:  # the hash is a <=64-bit pattern (aHash standard is 8x8);
        return None  # resize upstream rather than shift past the domain
    start = d.data_offset  # the parser's own offset — never re-derived
    arr = np.frombuffer(
        payload[start : start + n * 3], dtype=np.uint8
    ).reshape(n, 3)
    gray = arr.astype(np.int64).sum(axis=1)  # per-pixel channel sum
    total = int(gray.sum())
    bits = (n * gray > total).astype(np.int64)
    return int((bits << np.arange(n)).sum())


def ahash_features(binary_df: DataFrame) -> DataFrame:
    """mapInPandas aHash operator: (doc_id, payload) -> (doc_id, ahash);
    undecodable images are dropped (null hash)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [ahash_ppm(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "ahash": pd.array(hashes, dtype="Int64")}
            )

    return binary_df.mapInPandas(op, schema=_AHASH_SCHEMA).filter(
        F.col("ahash").isNotNull()
    )


def _ah_gray_sql(p: int) -> str:
    """Per-pixel 3-channel sum over the sanitized text bytes (1-based)."""
    return (
        f"(ord(substr(t, {3 * p + 1}, 1)) + ord(substr(t, {3 * p + 2}, 1))"
        f" + ord(substr(t, {3 * p + 3}, 1)))"
    )


def _ahash_sql() -> str:
    total = " + ".join(_ah_gray_sql(p) for p in range(_AH_PIXELS))
    bits = " + ".join(
        f"(CASE WHEN {_AH_PIXELS} * {_ah_gray_sql(p)} > ({total})"
        f" THEN {1 << p} ELSE 0 END)"
        for p in range(_AH_PIXELS)
    )
    return f"CAST({bits} AS BIGINT)"


@query(
    "multimodal_ahash_dedup",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, regexp_replace(text, '{_ASCII_ONLY_RE}', '', 'g') AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id, {_ahash_sql()} AS ahash
      FROM a WHERE length(t) >= {_RZ_PIX}
    )
    SELECT ahash,
           COUNT(*) AS n_images,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id
    FROM h GROUP BY ahash
    """,
    doc="Perceptual near-duplicate grouping: each 4x4 PPM collapses to a "
    "16-bit average-hash (bit i = pixel i brighter than the image mean, "
    "in strict integer form: n_pixels * gray_i > total — no division, "
    "no float) and images group by hash, keeping the smallest doc_id as "
    "canonical — the image-side sibling of dedup_exact, robust to "
    "brightness-preserving re-encodes where a byte digest is not. The "
    "decode+hash runs in the same Arrow-batched mapInPandas tier as the "
    "other multimodal kernels (numpy vectorized, map-side, zero shuffle "
    "until the one hash-keyed groupBy); the oracle recomputes the "
    "identical hash from the raw bytes per pixel, so the decoder, the "
    "gray math, and the bit rule are all correctness-gated. At 100 TB "
    "the hash is 8 bytes/image on the shuffle — the digest-only-shuffle "
    "principle from dedup_exact, applied to pixels.",
)
def multimodal_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    payload = framed_payload(_RZ_HEADER, _RZ_PIX)
    binary_df = docs.select("doc_id", payload.alias("payload"))
    return ahash_features(binary_df).groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


@query(
    "multimodal_clean_manifest",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, source,
             regexp_replace(text, '{_ASCII_ONLY_RE}', '', 'g') AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id, source, {_ahash_sql()} AS ahash
      FROM a WHERE length(t) >= {_RZ_PIX}
    ),
    flagged AS (
      SELECT source, doc_id,
             MIN(doc_id) OVER (PARTITION BY ahash) AS canonical
      FROM h
    )
    SELECT source,
           COUNT(*) AS n_valid_images,
           COUNT(CASE WHEN doc_id = canonical THEN 1 END) AS n_kept,
           COUNT(*) - COUNT(CASE WHEN doc_id = canonical THEN 1 END)
             AS n_dup_dropped,
           CAST(COUNT(*) - COUNT(CASE WHEN doc_id = canonical THEN 1 END)
                AS DOUBLE) / COUNT(*) AS dup_rate
    FROM flagged GROUP BY source
    """,
    doc="Composed image-curation manifest — the binary-modality twin of "
    "pipeline_clean_corpus, in ONE Catalyst plan: frame -> decode-validity "
    "gate (undecodable images drop inside the same Arrow-batched "
    "mapInPandas kernel the other multimodal ops share) -> perceptual "
    "aHash dedup (keep min doc_id per hash) -> per-source release "
    "accounting (valid / kept / dropped / dup-rate). The keep decision "
    "is a MIN window over the hash partition, not a canon self-join: the "
    "decode tier is the expensive stage and a self-join shape would run "
    "it twice (the plan pin counts exactly one Python kernel). At 100 TB "
    "the shuffle carries 8 bytes/image (the hash) plus the slim "
    "(doc_id, source) projection for attribution — the corpus payload "
    "bytes never shuffle. Per-group division is safe by construction "
    "(every reported source has >= 1 valid image). "
    "reference: no analogue — training-pipeline extension.",
)
def multimodal_clean_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    payload = framed_payload(_RZ_HEADER, _RZ_PIX)
    hashed = ahash_features(
        docs.select("doc_id", payload.alias("payload"))
    )
    src = docs.select("doc_id", "source")
    flagged = (
        hashed.join(src, "doc_id")
        .withColumn(
            "canonical", F.min("doc_id").over(Window.partitionBy("ahash"))
        )
    )
    kept = F.count(F.when(F.col("doc_id") == F.col("canonical"), 1))
    n_valid = F.count(F.lit(1))
    return flagged.groupBy("source").agg(
        n_valid.alias("n_valid_images"),
        kept.alias("n_kept"),
        (n_valid - kept).cast("bigint").alias("n_dup_dropped"),
        ((n_valid - kept).cast("double") / n_valid).alias("dup_rate"),
    )


def _caption_fp_sql() -> str:
    """The capped caption-fingerprint oracle fragment — one (doc_id,
    caption_fp) row per >= 8-char caption, MIN md5 8-gram over the
    FINGERPRINT_MAX_CHARS prefix. The single SQL source for every pair-key
    oracle (multimodal_paired_dedup, pipeline_clean_corpus_v2); a
    divergent copy in one oracle would silently split the pair-key domain
    the two operators must share (same discipline as _ahash_sql)."""
    return f"""
      SELECT doc_id, MIN(md5(substr(ct, i, 8))) AS caption_fp
      FROM (SELECT doc_id, substr(text, 1, {FINGERPRINT_MAX_CHARS}) AS ct
            FROM documents WHERE LENGTH(text) >= 8) caps,
           UNNEST(generate_series(1, LENGTH(ct) - 7)) AS tt(i)
      GROUP BY doc_id"""


def _pair_keys_sql() -> str:
    """Oracle fragment: the cross-modal pair-key DOMAIN — ascii-strip,
    decode-minimum gate, caption fingerprint, inner join — ending in
    ``pkeys(doc_id, source, ahash, caption_fp)``. THE single SQL source
    for the domain rule shared by its four consumers
    (multimodal_paired_dedup, dedup_incremental_paired,
    pipeline_clean_corpus_v2's paired stage,
    pipeline_incremental_ingest_v2's paired stage): a divergent copy in
    one oracle would silently split the pair-key domain they must share
    (same discipline as ``_ahash_sql``/``_caption_fp_sql``, which this
    composes). MATERIALIZED is load-bearing for TWO consumers —
    dedup_incremental_paired (phist + pb) and the v2 incremental
    capstone (vphist + vsk) each reference pkeys from two CTEs, and
    DuckDB re-inlines non-materialized CTEs per reference site; the
    other two read it once, where the hint is harmless."""
    return f"""pa AS (
      SELECT doc_id, source,
             regexp_replace(text, '{_ASCII_ONLY_RE}', '', 'g') AS t
      FROM documents
    ),
    ph AS (
      SELECT doc_id, source, {_ahash_sql()} AS ahash
      FROM pa WHERE length(t) >= {_RZ_PIX}
    ),
    pfp AS ({_caption_fp_sql()}),
    pkeys AS MATERIALIZED (
      SELECT h.doc_id, h.source, h.ahash, f.caption_fp
      FROM ph h JOIN pfp f ON f.doc_id = h.doc_id
    )"""


@shared_artifact("pairs")
def shared_pair_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's (doc_id, source, ahash, caption_fp) pair-key table,
    materialized ONCE per corpus per session through the keyed artifact
    cache (fingerprinting documents.parquet) — the in-session mirror of
    the persisted "pairs" artifact (incremental_artifacts.ARTIFACT_NAMES).
    The aHash decode is the expensive half; consumers that need the
    whole-corpus key table (dedup_incremental_paired,
    pipeline_incremental_ingest_v2) read the checkpoint instead of
    re-running the kernel per call, and the eager checkpoint doubles as
    the multi-branch materialization the flags helper needs."""
    return paired_pair_keys(
        repartition_for_compute(load_table(spark, sf_dir, "documents"))
    )


def paired_pair_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, source, ahash, caption_fp) cross-modal pair keys — the
    LAION-shape dedup key shared by multimodal_paired_dedup (the group
    report) and pipeline_clean_corpus_v2 (the drop-list attribution
    stage). The image side is the shared Arrow-batched aHash kernel; the
    caption side is the winnowing min-gram fingerprint computed fully
    map-side over the FINGERPRINT_MAX_CHARS prefix cap (array_min over
    the gram transform — bounded per-row transient, no per-doc gram
    shuffle). Only docs with BOTH a decodable payload and a >= 8-char
    caption emit a key (inner join)."""
    payload = framed_payload(_RZ_HEADER, _RZ_PIX)
    hashed = ahash_features(docs.select("doc_id", payload.alias("payload")))
    captions = (
        docs.filter(F.length("text") >= 8)
        .select(
            "doc_id",
            "source",
            F.substring("text", 1, FINGERPRINT_MAX_CHARS).alias("ct"),
        )
        .select(
            "doc_id",
            "source",
            F.array_min(
                F.expr(
                    "transform(sequence(1, length(ct) - 7),"
                    " i -> md5(substr(ct, i, 8)))"
                )
            ).alias("caption_fp"),
        )
    )
    return hashed.join(captions, "doc_id")


@query(
    "multimodal_paired_dedup",
    oracle=f"""
    WITH {_pair_keys_sql()}
    SELECT ahash, caption_fp,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
           COUNT(DISTINCT source) > 1 AS cross_source
    FROM pkeys
    GROUP BY ahash, caption_fp
    HAVING COUNT(*) > 1
    """,
    doc="Cross-modal caption-image PAIR dedup — the LAION-style curation "
    "shape: a (image, caption) sample is a duplicate only when BOTH its "
    "perceptual image hash AND its caption fingerprint already occur "
    "together, so re-encoded images with new captions and re-captioned "
    "images both survive while true pair-level scrapes collapse. Composes "
    "the two modality silos' existing keys with zero new kernel code: the "
    "image side is the shared Arrow-batched aHash kernel "
    "(multimodal_ahash_dedup), the caption side is the winnowing min-gram "
    "fingerprint (text_fingerprint) computed fully map-side over the "
    "shared FINGERPRINT_MAX_CHARS prefix cap "
    "(array_min over the gram transform — no per-doc gram shuffle, unlike "
    "the explode+groupBy the standalone fingerprint REPORT needs). Each "
    "duplicated pair group reports its size, distinct-source count, "
    "canonical (min) doc, and whether the duplication crosses sources — "
    "the split that tells scrape-level duplication (drop) from "
    "within-source reposts (dedup policy decision). At 100 TB the join "
    "and the pair groupBy shuffle digests only (8 B ahash + 32 B md5 + "
    "ids); image payload bytes never leave the decode stage, captions "
    "never leave the map side. reference: no analogue — training-pipeline "
    "extension.",
)
def multimodal_paired_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    n_sources = F.countDistinct("source")
    return (
        paired_pair_keys(docs)
        .groupBy("ahash", "caption_fp")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            n_sources.alias("n_sources"),
            F.min("doc_id").alias("canonical_doc_id"),
            (n_sources > F.lit(1)).alias("cross_source"),
        )
        .filter(F.col("n_pairs") > 1)
    )


def _incremental_paired_sql() -> str:
    """Oracle CTE chain for the pair-key incremental classification —
    ``pflags(doc_id, source, seen, is_canon)`` over the shared
    ``_ahash_sql``/``_caption_fp_sql`` key fragments, the exact-match
    rule of ``_incremental_exact_sql`` instantiated on the cross-modal
    key (the single-source discipline: the batch/min/history structure
    must stay identical across the family's exact-match members)."""
    from iceberg_explorer_spark.operators.dedup import INCR_MOD

    return f"""{_pair_keys_sql()},
    phist AS (
      SELECT DISTINCT ahash, caption_fp FROM pkeys
      WHERE doc_id % {INCR_MOD} <> 0
    ),
    pb AS MATERIALIZED (
      SELECT * FROM pkeys WHERE doc_id % {INCR_MOD} = 0
    ),
    pmin AS (
      SELECT ahash, caption_fp, MIN(doc_id) AS k FROM pb
      GROUP BY ahash, caption_fp
    ),
    pflags AS (
      SELECT b.doc_id, b.source,
             CASE WHEN c.ahash IS NOT NULL THEN 1 ELSE 0 END AS seen,
             CASE WHEN b.doc_id = m.k THEN 1 ELSE 0 END AS is_canon
      FROM pb b
      JOIN pmin m ON m.ahash = b.ahash AND m.caption_fp = b.caption_fp
      LEFT JOIN phist c
        ON c.ahash = b.ahash AND c.caption_fp = b.caption_fp
    )"""


@query(
    "dedup_incremental_paired",
    oracle=f"""
    WITH {_incremental_paired_sql()}
    SELECT source,
           COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE seen = 1) AS n_pairdup_vs_corpus,
           COUNT(*) FILTER (WHERE seen = 0 AND is_canon = 0)
             AS n_pairdup_in_batch,
           COUNT(*) FILTER (WHERE seen = 0 AND is_canon = 1)
             AS n_novel_kept
    FROM pflags GROUP BY source
    """,
    doc="Incremental cross-modal pair dedup — the FOURTH sibling of the "
    "incremental-ingest family (exact digests, lexical near, semantic "
    "cosine, and now LAION-shape (image aHash, caption fingerprint) "
    "pairs), completing the family across the same four dedup "
    "modalities pipeline_clean_corpus_v2 composes for the backfill. "
    "Today's batch (doc_id % INCR_MOD = 0 plays the increment) is "
    "classified against the corpus's persisted pair-key artifact: "
    "pairdup-vs-corpus (the (ahash, caption_fp) key already exists in "
    "history), pairdup-in-batch (new key, not the min-doc_id holder "
    "within the batch), novel-kept. The domain is docs that EMIT a pair "
    "key (decodable payload + >= 8-char caption — the same inner-join "
    "rule as multimodal_paired_dedup; a text-only doc is outside "
    "n_batch, exactly as an unembedded doc is outside the semantic "
    "sibling's). Pair-key equality is transitive, so the classification "
    "is the shared exact-match rule (incremental_seen_canon_flags — ONE "
    "definition with the digest instance), not the component machinery "
    "the near/semantic siblings need. At 100 TB the history side is the "
    "(ahash, caption_fp) table the nightly append already maintains "
    "(pipeline_incremental_artifact_delta's multimodal analogue): batch "
    "keys probe it bucketed by key with no shuffle of history, image "
    "bytes never leave the batch's decode stage, and per-ingest work is "
    "O(batch decode + key probe). reference: no analogue — "
    "training-pipeline extension.",
)
def dedup_incremental_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_explorer_spark.operators.dedup import (
        incremental_seen_canon_flags,
    )

    # the key frame feeds THREE plan branches inside the flags helper
    # (history keys, batch rows, batch key-min) — without a
    # materialization the aHash decode kernel runs once PER BRANCH
    # (measured: MapInPandas x3 in the plan; the clean-manifest lesson).
    # The session-shared checkpoint IS that materialization, and the
    # digest-sized (doc_id, source, ahash, caption_fp) table is exactly
    # the pair-key artifact a production nightly maintains anyway.
    keys = shared_pair_keys(spark, sf_dir)
    flags = incremental_seen_canon_flags(keys, ["ahash", "caption_fp"])
    return paired_incremental_report(flags)


def paired_incremental_report(flags: DataFrame) -> DataFrame:
    """The per-source report tail over (doc_id, source, seen, is_canon)
    pair-key flags — shared by dedup_incremental_paired and the
    persisted-artifact variant (incremental_artifacts.
    incremental_paired_from_artifacts), so the two paths can only differ
    in where history keys come from."""
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.count(F.when(F.col("seen") == 1, 1)).alias("n_pairdup_vs_corpus"),
        F.count(
            F.when((F.col("seen") == 0) & (F.col("is_canon") == 0), 1)
        ).alias("n_pairdup_in_batch"),
        F.count(
            F.when((F.col("seen") == 0) & (F.col("is_canon") == 1), 1)
        ).alias("n_novel_kept"),
    )
