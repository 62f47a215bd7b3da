"""Multimodal (binary) column plumbing: decode / feature / resize.

Images, audio, and video ride as opaque ``binary`` columns with typed
metadata.

REAL decode paths — complete container formats that need no external
libraries, so the full pipeline (synthesize payload bytes -> parse ->
reconstruct samples -> statistics) runs for real and is ORACLE-GATED
(the synthetic media follow closed-form laws in the id, so DuckDB
predicts what a correct decode must produce without seeing bytes):
  - PPM (P6) images            ``q_multimodal_decode`` / ``_resize``
  - PNG (zlib + all 5 filters) ``q_multimodal_png``
  - RIFF/WAVE PCM16 audio      ``q_multimodal_audio``
  - YUV4MPEG2 raw video        ``q_multimodal_video``
  - baseline JPEG (Huffman + IDCT) ``q_multimodal_jpeg``

Out of scope: decode variants that need an external codec library
(progressive JPEG's spectral selection / successive approximation
scans, chroma-subsampled color, and real video codecs) have no decoder
here.  ``media_metadata`` reads only byte lengths and has a
bytes-arithmetic DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .textops import rebalance_scan
from pyspark.sql.types import IntegerType, LongType, StructField, StructType


def media_metadata(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Typed metadata for a binary media column — built-in exprs only:
    (id, n_bytes, fake_width, fake_height, fake_channels).  The fake_*
    fields are deterministic stand-ins derived from n_bytes; a real
    decoder would read the container header instead."""
    n = F.octet_length(F.col(bin_col)).cast("bigint")
    return df.select(
        F.col(id_col),
        n.alias("n_bytes"),
        (n % F.lit(640) + F.lit(1)).cast("int").alias("fake_width"),
        ((n * F.lit(7)) % F.lit(480) + F.lit(1)).cast("int").alias("fake_height"),
        F.lit(3).cast("int").alias("fake_channels"),
    )


def media_metadata_oracle_sql(table: str, bin_expr: str, id_col: str) -> str:
    n = f"CAST(octet_length({bin_expr}) AS BIGINT)"
    return f"""
SELECT {id_col},
       {n} AS n_bytes,
       CAST({n} % 640 + 1 AS INT) AS fake_width,
       CAST(({n} * 7) % 480 + 1 AS INT) AS fake_height,
       CAST(3 AS INT) AS fake_channels
FROM {table}
"""


# --- REAL decode path: PPM (P6) ---------------------------------------------
#
# Synthetic image law (shared with the SQL oracle): image for id has
#   width  w = 4 + id % 13          (<= 16)
#   height h = 3 + id % 7           (<= 9)
#   pixel(x, y, c) = base_c + x,  base_c = (id*3 + c*7) % 200
# base_c + x <= 199 + 15 < 256: no wrap, so channel mean is EXACTLY
# base_c + (w-1)/2, i.e. 2*mean = 2*base_c + (w-1) — integer closed form.

_PPM_BASE_MOD = 200


def synth_ppm(ids: np.ndarray) -> list[bytes]:
    """Deterministic P6 payloads (binary, real header + pixel buffer).
    Container encoding is inherently per-payload; the loop is over
    payloads in an Arrow batch, not over pixels (those are NumPy)."""
    out = []
    for i in ids:
        i = int(i)
        w, h = 4 + i % 13, 3 + i % 7
        bases = np.array([(i * 3 + c * 7) % _PPM_BASE_MOD for c in range(3)])
        img = (
            bases[None, None, :] + np.arange(w)[None, :, None]
        ) * np.ones((h, 1, 1), dtype=np.int64)
        out.append(b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes())
    return out


def decode_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a P6 PPM: header 'P6 <w> <h> <maxval>' + raw RGB bytes.
    Returns (w, h, pixels[h, w, 3] uint8)."""
    import re

    m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if m is None:
        raise ValueError("not a P6 PPM payload")
    w, h = int(m.group(1)), int(m.group(2))
    data = payload[m.end() : m.end() + w * h * 3]
    return w, h, np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


PPM_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean2_r", LongType()),
        StructField("mean2_g", LongType()),
        StructField("mean2_b", LongType()),
    ]
)


def decode_ppm_media(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """REAL decode: parse every P6 payload, compute integer-exact
    2*channel-mean from the decoded pixel buffer.  mapInPandas, Arrow
    batches."""

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            rows = []
            for i, payload in zip(ids, pdf[bin_col]):
                w, h, px = decode_ppm(bytes(payload))
                sums = px.astype(np.int64).sum(axis=(0, 1))
                m2 = 2 * sums // (w * h)  # exact for the gradient law
                rows.append((int(i), w, h, int(m2[0]), int(m2[1]), int(m2[2])))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "mean2_r", "mean2_g", "mean2_b"],
            )

    return rebalance_scan(df.select(id_col, bin_col), id_col).mapInPandas(run, schema=PPM_DECODE_SCHEMA)


def with_synth_ppm(df: DataFrame, id_col: str, out_col: str = "ppm") -> DataFrame:
    """Attach the deterministic P6 payload for each id (binary col)."""
    from pyspark.sql.types import BinaryType

    schema = StructType(
        [StructField("media_id", LongType()), StructField(out_col, BinaryType())]
    )

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame({"media_id": ids, out_col: synth_ppm(ids)})

    return rebalance_scan(df.select(id_col), id_col).mapInPandas(run, schema=schema)


def ppm_decode_oracle_sql(table: str, id_col: str) -> str:
    """Closed-form prediction of the decode output straight from the id
    — the oracle never parses bytes, so a header/stride/layout bug in
    the real decoder cannot cancel out."""
    w = f"(4 + {id_col} % 13)"
    h = f"(3 + {id_col} % 7)"
    means = ", ".join(
        f"CAST(2 * (({id_col} * 3 + {c * 7}) % {_PPM_BASE_MOD}) + {w} - 1 AS BIGINT)"
        f" AS mean2_{ch}"
        for c, ch in enumerate("rgb")
    )
    return f"""
SELECT {id_col} AS media_id, CAST({w} AS INT) AS width,
       CAST({h} AS INT) AS height, {means}
FROM {table}
"""


# --- REAL decode path: PNG (8-bit RGB, zlib + scanline filters) --------------
#
# PNG needs no external decode library: the pixel stream is zlib
# (stdlib) and the per-scanline filter reconstruction (None/Sub/Up/
# Average/Paeth, PNG spec §9) is plain integer arithmetic.  The
# synthesizer emits REAL spec-conformant files — signature, IHDR/IDAT/
# IEND chunks with verified CRC32s — and deliberately cycles through
# ALL FIVE filter types across scanlines, so a decoder that botches any
# one filter, the chunk walk, or a CRC cannot reproduce the pixels.
# Synthetic image law (distinct from the PPM law so a crossed wire
# between the two paths cannot cancel):
#   width  w = 5 + id % 11          (<= 15)
#   height h = 3 + id % 5           (<= 7)
#   pixel(x, y, c) = base_c + x,  base_c = (id*5 + c*11) % 190
# base_c + x <= 189 + 14 < 256: no wrap, so 2*mean = 2*base_c + (w-1).

_PNG_BASE_MOD = 190
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    # PNG spec Paeth predictor, vectorized over a scanline
    p = a.astype(np.int64) + b.astype(np.int64) - c.astype(np.int64)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)).astype(
        np.uint8
    )


def synth_png(ids: np.ndarray) -> list[bytes]:
    """Deterministic real PNG files (RGB8, filter type = y % 5)."""
    import struct
    import zlib

    out = []
    for i in ids:
        i = int(i)
        w, h = 5 + i % 11, 3 + i % 5
        bases = np.array([(i * 5 + c * 11) % _PNG_BASE_MOD for c in range(3)])
        img = (
            (bases[None, None, :] + np.arange(w)[None, :, None])
            * np.ones((h, 1, 1), dtype=np.int64)
        ).astype(np.uint8)
        raw = img.reshape(h, w * 3)
        filtered = bytearray()
        prev = np.zeros(w * 3, dtype=np.uint8)
        for y in range(h):
            line = raw[y]
            f = y % 5
            left = np.concatenate([np.zeros(3, np.uint8), line[:-3]])
            pleft = np.concatenate([np.zeros(3, np.uint8), prev[:-3]])
            if f == 0:
                enc = line
            elif f == 1:
                enc = line - left
            elif f == 2:
                enc = line - prev
            elif f == 3:
                enc = line - (
                    (left.astype(np.int64) + prev.astype(np.int64)) // 2
                ).astype(np.uint8)
            else:
                enc = line - _paeth(left, prev, pleft)
            filtered.append(f)
            filtered.extend(enc.astype(np.uint8).tobytes())
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        out.append(
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(filtered)))
            + _png_chunk(b"IEND", b"")
        )
    return out


def decode_png(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse an 8-bit RGB PNG: chunk walk with CRC verification, zlib
    inflate, per-scanline filter reconstruction.  Returns (w, h,
    pixels[h, w, 3] uint8)."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        if pos + 12 + length > len(payload):
            # struct.error from a short unpack would escape the
            # documented ValueError corrupt-input contract
            raise ValueError("truncated PNG chunk")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            w, h, depth, ctyp, comp, filt, inter = struct.unpack(">IIBBBBB", data)
            if (depth, ctyp, comp, filt, inter) != (8, 2, 0, 0, 0):
                raise ValueError("only 8-bit RGB non-interlaced supported")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("missing IHDR")
    stream = zlib.decompress(bytes(idat))
    stride = w * 3
    if len(stream) != h * (stride + 1):
        raise ValueError("IDAT stream length mismatch")
    px = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = stream[y * (stride + 1)]
        line = np.frombuffer(
            stream[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], dtype=np.uint8
        ).copy()
        if f == 0:
            recon = line
        elif f == 2:
            recon = line + prev
        else:
            # Sub/Average/Paeth depend on the just-reconstructed left
            # pixel: walk pixel-positions left to right, vectorized over
            # the 3 channels of each position
            recon = np.zeros(stride, dtype=np.uint8)
            for j in range(0, stride, 3):
                left = recon[j - 3 : j] if j else np.zeros(3, np.uint8)
                up = prev[j : j + 3]
                upleft = prev[j - 3 : j] if j else np.zeros(3, np.uint8)
                if f == 1:
                    recon[j : j + 3] = line[j : j + 3] + left
                elif f == 3:
                    recon[j : j + 3] = line[j : j + 3] + (
                        (left.astype(np.int64) + up.astype(np.int64)) // 2
                    ).astype(np.uint8)
                elif f == 4:
                    recon[j : j + 3] = line[j : j + 3] + _paeth(left, up, upleft)
                else:
                    raise ValueError(f"bad filter byte {f}")
        px[y] = recon
        prev = px[y]
    return w, h, px.reshape(h, w, 3)


def decode_png_media(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """REAL PNG decode: chunk walk + inflate + unfilter per payload,
    integer-exact 2x channel means from the reconstructed pixels.
    Same output schema as the PPM path."""

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            rows = []
            for i, payload in zip(ids, pdf[bin_col]):
                w, h, px = decode_png(bytes(payload))
                sums = px.astype(np.int64).sum(axis=(0, 1))
                m2 = 2 * sums // (w * h)  # exact for the gradient law
                rows.append((int(i), w, h, int(m2[0]), int(m2[1]), int(m2[2])))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "mean2_r", "mean2_g", "mean2_b"],
            )

    return rebalance_scan(df.select(id_col, bin_col), id_col).mapInPandas(run, schema=PPM_DECODE_SCHEMA)


def with_synth_png(df: DataFrame, id_col: str, out_col: str = "png") -> DataFrame:
    """Attach the deterministic PNG payload for each id (binary col)."""
    from pyspark.sql.types import BinaryType

    schema = StructType(
        [StructField("media_id", LongType()), StructField(out_col, BinaryType())]
    )

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame({"media_id": ids, out_col: synth_png(ids)})

    return rebalance_scan(df.select(id_col), id_col).mapInPandas(run, schema=schema)


def png_decode_oracle_sql(table: str, id_col: str) -> str:
    """Closed-form prediction of the PNG decode output from the id —
    the oracle never inflates or unfilters, so a zlib/filter/chunk bug
    in the decoder cannot cancel out."""
    w = f"(5 + {id_col} % 11)"
    h = f"(3 + {id_col} % 5)"
    means = ", ".join(
        f"CAST(2 * (({id_col} * 5 + {c * 11}) % {_PNG_BASE_MOD}) + {w} - 1 AS BIGINT)"
        f" AS mean2_{ch}"
        for c, ch in enumerate("rgb")
    )
    return f"""
SELECT {id_col} AS media_id, CAST({w} AS INT) AS width,
       CAST({h} AS INT) AS height, {means}
FROM {table}
"""


# --- REAL decode path: WAV (RIFF PCM16 mono) ----------------------------------
#
# Synthetic audio law (shared with the SQL oracle): clip for id has
#   n_samples = 16 * (4 + id % 12)        (multiple of 16)
#   sample[t] = base + (t % 16),  base = (id * 11) % 1000
# mean over a whole number of 16-cycles is EXACTLY base + 7.5, so
# 2*mean = 2*base + 15; peak = base + 15.

_WAV_RATE = 8000


def synth_wav(ids: np.ndarray) -> list[bytes]:
    """Deterministic RIFF/WAVE PCM16 mono payloads (real headers)."""
    import struct

    out = []
    for i in ids:
        i = int(i)
        n = 16 * (4 + i % 12)
        base = (i * 11) % 1000
        samples = (base + (np.arange(n) % 16)).astype("<i2")
        data = samples.tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
        riff = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        out.append(b"RIFF" + struct.pack("<I", len(riff)) + riff)
    return out


def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse RIFF chunks: returns (sample_rate, n_channels, samples)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, samples = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            _, channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if bits != 16:
                raise ValueError("only PCM16 supported")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return rate, channels, samples


WAV_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("mean2", LongType()),
        StructField("peak", LongType()),
    ]
)


def decode_wav_media(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """REAL audio decode: RIFF chunk walk + PCM16 buffer reinterpret,
    integer-exact 2x mean and peak from the DECODED samples."""

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for i, payload in zip(
                pdf[id_col].to_numpy(dtype=np.int64), pdf[bin_col]
            ):
                rate, _ch, s = decode_wav(bytes(payload))
                s64 = s.astype(np.int64)
                rows.append(
                    (
                        int(i),
                        rate,
                        len(s),
                        int(2 * s64.sum() // len(s)),
                        int(s64.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_samples", "mean2", "peak"],
            )

    return rebalance_scan(df.select(id_col, bin_col), id_col).mapInPandas(run, schema=WAV_DECODE_SCHEMA)


def with_synth_wav(df: DataFrame, id_col: str, out_col: str = "wav") -> DataFrame:
    from pyspark.sql.types import BinaryType

    schema = StructType(
        [StructField("media_id", LongType()), StructField(out_col, BinaryType())]
    )

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame({"media_id": ids, out_col: synth_wav(ids)})

    return rebalance_scan(df.select(id_col), id_col).mapInPandas(run, schema=schema)


def wav_decode_oracle_sql(table: str, id_col: str) -> str:
    n = f"(16 * (4 + {id_col} % 12))"
    base = f"(({id_col} * 11) % 1000)"
    return f"""
SELECT {id_col} AS media_id, CAST({_WAV_RATE} AS INT) AS sample_rate,
       CAST({n} AS BIGINT) AS n_samples,
       CAST(2 * {base} + 15 AS BIGINT) AS mean2,
       CAST({base} + 15 AS BIGINT) AS peak
FROM {table}
"""


# --- REAL transform: PPM stride-2 downsample ----------------------------------

def resize_ppm_media(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """REAL transform on binary media: decode -> stride-2 downsample ->
    integer-exact per-channel SUM of the RESIZED pixels.  The kept
    columns are x = 0, 2, ... (values base_c + 2x'), so the sums keep a
    closed form the oracle emits from the id alone — a wrong stride or
    axis order cannot match it."""

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("out_width", IntegerType()),
            StructField("out_height", IntegerType()),
            StructField("sum_r", LongType()),
            StructField("sum_g", LongType()),
            StructField("sum_b", LongType()),
        ]
    )

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for i, payload in zip(
                pdf[id_col].to_numpy(dtype=np.int64), pdf[bin_col]
            ):
                w, h, px = decode_ppm(bytes(payload))
                small = px[::2, ::2, :]
                sums = small.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    (
                        int(i),
                        small.shape[1],
                        small.shape[0],
                        int(sums[0]),
                        int(sums[1]),
                        int(sums[2]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "out_width", "out_height", "sum_r", "sum_g", "sum_b",
                ],
            )

    return rebalance_scan(df.select(id_col, bin_col), id_col).mapInPandas(run, schema=schema)


def resize_ppm_oracle_sql(table: str, id_col: str) -> str:
    """Closed form for the stride-2 downsample of the gradient law:
    kept columns x = 0,2,4,... -> values base_c + 2*x' for x' in
    [0, wk); per-channel sum = hk * (wk*base_c + 2 * wk*(wk-1)/2)."""
    w = f"(4 + {id_col} % 13)"
    h = f"(3 + {id_col} % 7)"
    wk = f"(({w} + 1) // 2)"
    hk = f"(({h} + 1) // 2)"
    sums = ", ".join(
        f"CAST({hk} * ({wk} * (({id_col} * 3 + {c * 7}) % {_PPM_BASE_MOD})"
        f" + {wk} * ({wk} - 1)) AS BIGINT) AS sum_{ch}"
        for c, ch in enumerate("rgb")
    )
    return f"""
SELECT {id_col} AS media_id,
       CAST({wk} AS INT) AS out_width, CAST({hk} AS INT) AS out_height,
       {sums}
FROM {table}
"""


# --- REAL decode path: YUV4MPEG2 (y4m) raw video + frame sampling --------------
#
# YUV4MPEG2 is a real, public, uncompressed video container (header
# line + 'FRAME\n'-delimited raw planes) that needs no codec library,
# so the full pipeline — synthesize payload bytes -> parse the header
# -> walk FRAME markers -> slice Y/U/V planes -> sample every 2nd
# frame -> integer statistics — runs for REAL and is oracle-gated,
# upgrading the round-2 video stub the same way PPM/WAV did for
# image/audio.
#
# Synthetic video law (shared with the SQL oracle): video for id has
#   w = 4 + id % 8, h = 2 + id % 5, n_frames = 3 + id % 6
#   Y(x, ., f) = base + 5*f + x,  base = (id * 13) % 180   (max 224: no wrap)
#   U(...) = (id * 7) % 200 constant; V(...) = (id * 17) % 200 constant
# Sampling frames f = 0, 2, 4, ... (s = ceil(n_frames/2) kept):
#   sum(Y over sampled) = s*w*h*base + 5*w*h*s*(s-1) + s*h*w*(w-1)/2
# (sum of sampled f = 0+2+...+2(s-1) = s*(s-1)) — closed form in id.

_Y4M_BASE_MOD = 180


def synth_y4m(ids: np.ndarray) -> list[bytes]:
    """Deterministic YUV4MPEG2 C444 payloads (real header + frames)."""
    out = []
    for i in ids:
        i = int(i)
        w, h, nf = 4 + i % 8, 2 + i % 5, 3 + i % 6
        base = (i * 13) % _Y4M_BASE_MOD
        u = np.full(w * h, (i * 7) % 200, dtype=np.uint8)
        v = np.full(w * h, (i * 17) % 200, dtype=np.uint8)
        buf = [b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C444\n" % (w, h)]
        for f in range(nf):
            y = (base + 5 * f + np.tile(np.arange(w), h)).astype(np.uint8)
            buf.append(b"FRAME\n" + y.tobytes() + u.tobytes() + v.tobytes())
        out.append(b"".join(buf))
    return out


def decode_y4m(payload: bytes) -> tuple[int, int, list[tuple]]:
    """Parse a YUV4MPEG2 C444 stream: returns (w, h, frames) with each
    frame = (Y, U, V) uint8 arrays of length w*h."""
    import re

    m = re.match(rb"YUV4MPEG2 ([^\n]*)\n", payload)
    if m is None:
        raise ValueError("not a YUV4MPEG2 payload")
    params = dict(
        (p[:1], p[1:]) for p in m.group(1).split(b" ") if p
    )
    w, h = int(params[b"W"]), int(params[b"H"])
    plane = w * h
    frames = []
    pos = m.end()
    while pos < len(payload):
        if payload[pos : pos + 6] != b"FRAME\n":
            raise ValueError("bad FRAME marker")
        pos += 6
        raw = np.frombuffer(payload[pos : pos + 3 * plane], dtype=np.uint8)
        frames.append((raw[:plane], raw[plane : 2 * plane], raw[2 * plane :]))
        pos += 3 * plane
    return w, h, frames


Y4M_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_sampled", IntegerType()),
        StructField("y_sum", LongType()),
        StructField("u_val", LongType()),
        StructField("v_val", LongType()),
    ]
)


def sample_y4m_media(
    df: DataFrame, bin_col: str, id_col: str, *, every_n: int = 2
) -> DataFrame:
    """REAL video frame-sampling: parse the y4m container, keep every
    ``every_n``-th frame, integer-exact Y-plane sum over the SAMPLED
    frames plus the (constant) chroma values — each verified against
    the closed-form oracle (a wrong frame stride, plane order, or
    plane size cannot match it)."""

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for i, payload in zip(
                pdf[id_col].to_numpy(dtype=np.int64), pdf[bin_col]
            ):
                w, h, frames = decode_y4m(bytes(payload))
                sampled = frames[::every_n]
                y_sum = int(
                    sum(int(y.astype(np.int64).sum()) for y, _u, _v in sampled)
                )
                u_val = int(sampled[0][1][0]) if sampled else -1
                v_val = int(sampled[0][2][0]) if sampled else -1
                rows.append(
                    (int(i), w, h, len(frames), len(sampled), y_sum, u_val, v_val)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_frames", "n_sampled",
                    "y_sum", "u_val", "v_val",
                ],
            )

    return rebalance_scan(df.select(id_col, bin_col), id_col).mapInPandas(run, schema=Y4M_SAMPLE_SCHEMA)


def with_synth_y4m(df: DataFrame, id_col: str, out_col: str = "y4m") -> DataFrame:
    from pyspark.sql.types import BinaryType

    schema = StructType(
        [StructField("media_id", LongType()), StructField(out_col, BinaryType())]
    )

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame({"media_id": ids, out_col: synth_y4m(ids)})

    return rebalance_scan(df.select(id_col), id_col).mapInPandas(run, schema=schema)


def y4m_sample_oracle_sql(table: str, id_col: str) -> str:
    """Closed-form prediction of the frame-sampled decode from the id
    alone — the oracle never touches bytes."""
    w = f"(4 + {id_col} % 8)"
    h = f"(2 + {id_col} % 5)"
    nf = f"(3 + {id_col} % 6)"
    s = f"(({nf} + 1) // 2)"
    base = f"(({id_col} * 13) % {_Y4M_BASE_MOD})"
    y_sum = (
        f"({s} * {w} * {h} * {base} + 5 * {w} * {h} * {s} * ({s} - 1)"
        f" + {s} * {h} * ({w} * ({w} - 1) // 2))"
    )
    return f"""
SELECT {id_col} AS media_id,
       CAST({w} AS INT) AS width, CAST({h} AS INT) AS height,
       CAST({nf} AS INT) AS n_frames, CAST({s} AS INT) AS n_sampled,
       CAST({y_sum} AS BIGINT) AS y_sum,
       CAST(({id_col} * 7) % 200 AS BIGINT) AS u_val,
       CAST(({id_col} * 17) % 200 AS BIGINT) AS v_val
FROM {table}
"""


# --- REAL decode path: JPEG (baseline DCT, Huffman entropy coding) -----------
#
# Baseline sequential JPEG needs no external codec library either: the
# entropy layer is canonical Huffman coding (ITU T.81 Annex C/F), the
# transform is an 8x8 type-III DCT, and both are plain integer/NumPy
# arithmetic.  The synthesizer emits REAL spec-conformant JFIF files —
# SOI, APP0, DQT, two DHT segments (tables are *read from the file* by
# the decoder, not assumed), SOF0, SOS, entropy-coded data with 0xFF00
# byte stuffing, EOI — and the decoder implements the full baseline
# grayscale path: marker walk, DQT/DHT/SOF0/SOS parsing, bit-level
# Huffman decode with DC prediction and AC run-length/EOB/ZRL symbols,
# dequantization, zigzag-to-natural reorder, float IDCT, level shift,
# clip.  (Progressive JPEG and multi-component chroma upsampling remain
# out of scope — see the module docstring.)
#
# Oracle trick (same scheme as PPM/PNG/WAV/Y4M): gate payloads carry
# DC-only blocks.  The IDCT of a DC-only block is exactly flat —
# F(0,0) = 8*s decodes to s + 128 on every pixel with no float error
# (8*s * (1/(2*sqrt(2)))^2 == s in IEEE double) — so per-block pixel
# values, and hence the whole-image pixel sum, follow a closed-form law
# in the id that DuckDB predicts without parsing bytes.  The AC decode
# path (run-length, ZRL, EXTEND of negative coefficients) is exercised
# by pytest via synth_jpeg(..., ac_test=True) fixtures.
#
# Synthetic image law (distinct moduli from the other formats):
#   width  w = 8 * (1 + id % 3)         (1..3 blocks per row)
#   height h = 8 * (1 + id % 2)         (1..2 block rows)
#   block b (raster order): every pixel = (id*7 + b*17) % 190
#   px_sum = 64 * sum_b ((id*7 + b*17) % 190),  b < (w/8)*(h/8) <= 6

_JPG_BASE_MOD = 190

# DC luminance table from ITU T.81 Annex K.3 (public spec constants).
_JPG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPG_DC_VALS = tuple(range(12))
# Tiny custom AC table (the decoder must parse DHT to use it): EOB,
# (run 0, size 1), (run 1, size 1), ZRL.  Three 2-bit codes + one
# 3-bit code — the all-ones short code stays unused per T.81 C.2.
_JPG_AC_BITS = (0, 3, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_JPG_AC_VALS = (0x00, 0x01, 0x11, 0xF0)


def _huff_codes(bits, vals):
    """Canonical Huffman assignment (T.81 C.2): symbol -> (code, length)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _zigzag():
    """Natural (row, col) index for each of the 64 zigzag positions."""
    idx = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (
            rc[0] + rc[1],
            rc[0] if (rc[0] + rc[1]) % 2 else -rc[0],
        ),
    )
    return [r * 8 + c for r, c in idx]


_JPG_ZZ = _zigzag()

# Quantization table (natural order): Q[0,0] = 8 makes the DC-only law
# integer-exact; the AC entries are arbitrary but nontrivial so an AC
# dequantize bug shows up in the pytest fixtures.
_JPG_QTAB = np.full(64, 16, dtype=np.int64)
_JPG_QTAB[0] = 8
_JPG_QTAB[1] = 11
_JPG_QTAB[8] = 12


class _BitWriter:
    """MSB-first bit writer with JPEG 0xFF byte stuffing."""

    def __init__(self):
        self.bytes = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.bytes.append(self.acc)
                if self.acc == 0xFF:
                    self.bytes.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:  # pad with 1-bits per T.81 F.1.2.3
            self.put(1, 1)
        return bytes(self.bytes)


def _jpg_segments(w: int, h: int) -> bytes:
    """All header segments up to and including SOS (grayscale baseline)."""

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt_zz = bytes(int(_JPG_QTAB[_JPG_ZZ[k]]) for k in range(64))
    dqt = seg(0xDB, b"\x00" + dqt_zz)
    dht_dc = seg(0xC4, b"\x00" + bytes(_JPG_DC_BITS) + bytes(_JPG_DC_VALS))
    dht_ac = seg(0xC4, b"\x10" + bytes(_JPG_AC_BITS) + bytes(_JPG_AC_VALS))
    sof0 = seg(
        0xC0,
        b"\x08"
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + b"\x01"
        + b"\x01\x11\x00",
    )
    sos = seg(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x3f\x00")
    return b"\xff\xd8" + app0 + dqt + dht_dc + dht_ac + sof0 + sos


def _put_coeff(bw, codes, sym, diff):
    code, length = codes[sym]
    bw.put(code, length)
    t = sym & 0x0F
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)


def synth_jpeg(ids: np.ndarray, *, ac_test: bool = False) -> list[bytes]:
    """Deterministic baseline JFIF payloads following the module law.

    With ``ac_test=True`` each block additionally carries two AC
    coefficients — zigzag position 1 with value +1 and (after a ZRL
    run of 16 plus one more zero) zigzag position 19 with value -1 —
    exercising run-length, ZRL, and negative EXTEND on decode (used by
    pytest; gate payloads stay DC-only so the oracle is closed-form)."""
    dc_codes = _huff_codes(_JPG_DC_BITS, _JPG_DC_VALS)
    ac_codes = _huff_codes(_JPG_AC_BITS, _JPG_AC_VALS)
    out = []
    for i in ids:
        i = int(i)
        w, h = 8 * (1 + i % 3), 8 * (1 + i % 2)
        nb = (w // 8) * (h // 8)
        bw = _BitWriter()
        pred = 0
        for b in range(nb):
            s = (i * 7 + b * 17) % _JPG_BASE_MOD - 128
            diff = s - pred
            pred = s
            t = abs(diff).bit_length()
            _put_coeff(bw, dc_codes, t, diff)
            if ac_test:
                _put_coeff(bw, ac_codes, 0x01, 1)  # zz 1: +1
                _put_coeff(bw, ac_codes, 0xF0, 0)  # ZRL: 16 zeros
                _put_coeff(bw, ac_codes, 0x11, -1)  # 1 more zero, zz 19: -1
            _put_coeff(bw, ac_codes, 0x00, 0)  # EOB
        out.append(_jpg_segments(w, h) + bw.flush() + b"\xff\xd9")
    return out


def _idct_mat() -> np.ndarray:
    u = np.arange(8.0)[:, None]
    x = np.arange(8.0)[None, :]
    m = np.cos((2 * x + 1) * u * np.pi / 16) / 2
    m[0, :] /= np.sqrt(2)
    return m


_JPG_IDCT_M = _idct_mat()


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table: dict) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | self.bits(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes, *, return_coeffs: bool = False):
    """Baseline grayscale JPEG decoder (marker walk, DQT/DHT/SOF0/SOS,
    Huffman + DC-pred + AC run-length entropy decode, dequantize,
    zigzag reorder, IDCT, level shift, clip).  Returns (w, h,
    pixels[h, w] uint8); with return_coeffs=True also the dequantized
    natural-order coefficient array [nblocks, 64] (pre-IDCT, for
    entropy-layer tests).  Raises on progressive or multi-component
    scans — this engine's honest scope is baseline grayscale."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qtabs: dict[int, np.ndarray] = {}
    decs: dict[tuple, dict] = {}
    w = h = None
    comp_tq = dc_tbl = ac_tbl = None
    i = 2
    entropy = None
    while i < len(payload):
        if payload[i] != 0xFF:
            raise ValueError("marker sync lost")
        m = payload[i + 1]
        i += 2
        if m == 0xD9:
            break
        seg_len = int.from_bytes(payload[i : i + 2], "big")
        seg = payload[i + 2 : i + seg_len]
        if m == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                tab = np.zeros(64, dtype=np.int64)
                for k in range(64):
                    tab[_JPG_ZZ[k]] = seg[p + 1 + k]
                qtabs[tq] = tab
                p += 65
        elif m == 0xC4:
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                dec = {}
                code, k = 0, 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        dec[(length, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                decs[(tc, th)] = dec
                p += 17 + nv
        elif m == 0xC0:
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            if ncomp != 1:
                raise ValueError(
                    "multi-component (color) JPEG unsupported — baseline "
                    "grayscale decoder"
                )
            comp_tq = seg[8]
        elif m in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline (SOF0) JPEG is supported")
        elif m == 0xDA:
            if seg[0] != 1:
                raise ValueError("multi-component scan unsupported")
            dc_tbl = decs[(0, seg[2] >> 4)]  # seg layout: ncomp, Cs1, Td/Ta
            ac_tbl = decs[(1, seg[2] & 0x0F)]
            # unstuff entropy bytes until EOI
            raw = bytearray()
            p = i + seg_len
            while p < len(payload):
                b = payload[p]
                if b == 0xFF:
                    nxt = payload[p + 1]
                    if nxt == 0x00:
                        raw.append(0xFF)
                        p += 2
                        continue
                    if nxt == 0xD9:
                        break
                    raise ValueError("restart markers unsupported")
                raw.append(b)
                p += 1
            entropy = bytes(raw)
            break
        i += seg_len
    if w is None or entropy is None:
        raise ValueError("truncated JPEG (no SOF0/SOS)")
    q = qtabs[comp_tq]
    bw_blocks, bh_blocks = (w + 7) // 8, (h + 7) // 8
    nb = bw_blocks * bh_blocks
    rd = _BitReader(entropy)
    coeffs = np.zeros((nb, 64), dtype=np.int64)
    pred = 0
    for b in range(nb):
        t = rd.huff(dc_tbl)
        diff = _extend(rd.bits(t), t) if t else 0
        pred += diff
        coeffs[b, 0] = pred
        k = 0
        while k < 63:
            sym = rd.huff(ac_tbl)
            if sym == 0x00:
                break
            if sym == 0xF0:
                k += 16
                continue
            run, size = sym >> 4, sym & 0x0F
            k += run + 1
            if k > 63:
                raise ValueError("AC run overflows block")
            coeffs[b, _JPG_ZZ[k]] = _extend(rd.bits(size), size)
    deq = coeffs * q[None, :]
    m2 = _JPG_IDCT_M
    pix = np.empty((nb, 8, 8))
    for b in range(nb):
        pix[b] = m2.T @ deq[b].reshape(8, 8).astype(np.float64) @ m2
    pix = np.clip(np.round(pix) + 128, 0, 255).astype(np.uint8)
    img = np.zeros((bh_blocks * 8, bw_blocks * 8), dtype=np.uint8)
    for b in range(nb):
        by, bx = divmod(b, bw_blocks)
        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = pix[b]
    img = img[:h, :w]
    if return_coeffs:
        return w, h, img, deq
    return w, h, img


JPEG_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_blocks", IntegerType()),
        StructField("px_sum", LongType()),
    ]
)


def decode_jpeg_media(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """REAL decode: parse every baseline JFIF payload (markers, Huffman
    tables from DHT, entropy decode, dequantize, IDCT), emit integer
    pixel-sum stats.  mapInPandas over Arrow batches."""

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            rows = []
            for i, payload in zip(ids, pdf[bin_col]):
                w, h, img = decode_jpeg(bytes(payload))
                rows.append(
                    (
                        int(i),
                        w,
                        h,
                        (w // 8) * (h // 8),
                        int(img.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "n_blocks", "px_sum"]
            )

    return rebalance_scan(df.select(id_col, bin_col), id_col).mapInPandas(run, schema=JPEG_DECODE_SCHEMA)


def with_synth_jpeg(df: DataFrame, id_col: str, out_col: str = "jpg") -> DataFrame:
    """Attach the deterministic baseline JFIF payload for each id."""
    from pyspark.sql.types import BinaryType

    schema = StructType(
        [StructField("media_id", LongType()), StructField(out_col, BinaryType())]
    )

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame({"media_id": ids, out_col: synth_jpeg(ids)})

    return rebalance_scan(df.select(id_col), id_col).mapInPandas(run, schema=schema)


def jpeg_decode_oracle_sql(table: str, id_col: str) -> str:
    """Closed-form prediction of the baseline-JPEG decode straight from
    the id: DC-only blocks decode to exactly flat pixels, so the image
    pixel sum is 64 * sum over blocks of the per-block DC law.  The
    oracle never parses bytes — a Huffman/DHT/zigzag/IDCT bug in the
    decoder cannot cancel out."""
    w = f"(8 * (1 + {id_col} % 3))"
    h = f"(8 * (1 + {id_col} % 2))"
    nb = f"((1 + {id_col} % 3) * (1 + {id_col} % 2))"
    terms = " + ".join(
        f"(CASE WHEN {b} < {nb} THEN ({id_col} * 7 + {b * 17}) % {_JPG_BASE_MOD}"
        f" ELSE 0 END)"
        for b in range(6)
    )
    return f"""
SELECT {id_col} AS media_id,
       CAST({w} AS INT) AS width, CAST({h} AS INT) AS height,
       CAST({nb} AS INT) AS n_blocks,
       CAST(64 * ({terms}) AS BIGINT) AS px_sum
FROM {table}
"""
