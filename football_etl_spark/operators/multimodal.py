"""Multimodal column plumbing — image/audio/video as opaque binary.

The Spark-side contract is real and tested: binary payload columns,
Arrow-batched ``mapInPandas`` operators
with explicit output schemas, and partitioning that keeps large blobs
from skewing tasks.

Decoding is REAL for three formats: NetPBM grayscale (PGM "P5", text
header), 8-bit grayscale Windows BMP (little-endian binary header +
palette), and 8-bit PCM RIFF/WAVE audio (chunked container, walked
chunk-by-chunk — ``decode_audio``) — the decoders parse headers and
sample/pixel planes with nothing but the stdlib, and
``render_pgm_payload`` / ``render_bmp_payload`` /
``render_wav_payload`` produce genuine media entirely JVM-side, so
the whole encode→decode loop is exercised on real bytes in three
independent container layouts without any media library. Payloads in
formats that DO need an external codec (JPEG/MP3/MP4 …) fall back to
a clearly documented deterministic digest stub — production swaps
the closure-local decoder for PIL/torchaudio/pyav; the Arrow plumbing
is identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


# One full 0..255 byte cycle as hex, repeated so any rotation of any
# supported pixel/sample-plane length is a plain substring — the
# largest consumer is the P6 color plane (255 + 3·31·31 = 3138 bytes
# worst case → 13 cycles = 3328 bytes). A constant literal: the
# per-row cost is one substring regardless of the repeat count.
_RAMP_HEX = "".join(f"{b:02X}" for b in range(256)) * 13

# render_pgm_payload's substring trick silently truncates (and every
# decode then raises "unsupported PGM variant") if the ramp is ever
# shorter than the worst case: seed offset (≤255) + the 31·31 max
# pixel plane the 8 + n%24 sizing can produce. Prove coverage here so
# widening the dimension formula without growing the ramp cannot ship.
# The Y4M renderer's worst case (seed ≤255, frame phase ≤ _Y4M_MAX_F-1,
# 22·23 max luma plane) is strictly smaller; assert it anyway so the
# formulas can't drift past the ramp independently.
_MAX_SEED, _MAX_W, _MAX_H = 255, 31, 31
_Y4M_MAX_F, _Y4M_MAX_W, _Y4M_MAX_H = 5, 22, 23
assert len(_RAMP_HEX) >= (_MAX_SEED + _MAX_W * _MAX_H) * 2, (
    "_RAMP_HEX no longer covers seed_max + w_max*h_max pixels"
)
assert len(_RAMP_HEX) >= (
    _MAX_SEED + (_Y4M_MAX_F - 1) + _Y4M_MAX_W * _Y4M_MAX_H
) * 2, "_RAMP_HEX no longer covers the Y4M worst-case frame plane"


def render_pgm_payload(df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    """Render a REAL binary NetPBM grayscale image (PGM "P5") per row,
    entirely JVM-side — no UDF, no media library:

    - dimensions derive from the source text: w = 8 + len%24,
      h = 8 + (len*3)%24 (so 8..31 × 8..31 — every image ≥64 px);
    - the pixel plane is the deterministic ramp
      px[i] = (seed + i) mod 256 with seed = id mod 256 — a ROTATION
      of the fixed 0..255 cycle, so the whole plane is one substring
      of a repeated constant hex string + one unhex: O(1) expression
      work per row instead of a per-pixel array transform (measured
      ~2× on the decode query end-to-end at sf0.1);
    - header "P5\\n{w} {h}\\n255\\n" + raw pixel bytes is the standard
      binary PGM layout any image tool reads.

    The deterministic construction means an external oracle can verify
    DECODED values (width/height/pixel sums) with plain arithmetic
    while the engine round-trips genuine image bytes."""
    n = F.length(F.col(source_col))
    w = (F.lit(8) + n % 24).cast("int")
    h = (F.lit(8) + (n * 3) % 24).cast("int")
    seed = (F.col(id_col).cast("long") % 256).cast("int")
    npx = w * h
    header = F.encode(
        F.concat(
            F.lit("P5\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n")
        ),
        "UTF-8",
    )
    px_hex = F.substring(F.lit(_RAMP_HEX), seed * 2 + 1, npx * 2)
    payload = F.concat(header, F.unhex(px_hex))
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image/x-portable-graymap").alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


# 8-bit grayscale BMP palette: 256 BGRA entries (i, i, i, 0) — a
# constant, like the ramp.
_BMP_PALETTE_HEX = "".join(f"{i:02X}{i:02X}{i:02X}00" for i in range(256))
_BMP_PIXEL_OFFSET = 14 + 40 + 256 * 4  # file header + DIB + palette


def _le_hex(v, n_bytes: int):
    """Little-endian hex rendering of an int column, ``n_bytes`` wide —
    how BMP headers store every integer field."""
    parts = [
        F.format_string("%02X", F.shiftright(v.cast("int"), 8 * i).bitwiseAND(F.lit(255)))
        for i in range(n_bytes)
    ]
    return F.concat(*parts)


def render_bmp_payload(df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    """Render a REAL 8-bit grayscale Windows BMP per row, JVM-side —
    the second genuine decoder format (PGM is text-headered; BMP is a
    little-endian binary-headered container with a palette), proving
    the multimodal contract generalizes beyond one format.

    Layout: 14-byte file header ('BM', file size LE32, pixel-data
    offset), 40-byte BITMAPINFOHEADER (w, h, 1 plane, 8 bpp,
    BI_RGB), the constant 256-entry grayscale BGRA palette, then the
    pixel plane. Width is forced to a multiple of 4 (w = 8 + 4*(len%6))
    so the BMP row stride equals w — no per-row padding — and the
    whole plane is ONE ramp substring + unhex like the PGM path
    (px[i] = (seed + i) mod 256, seed = id mod 256, stored order).
    Height reuses the PGM formula (8 + 3*len % 24)."""
    n = F.length(F.col(source_col))
    w = (F.lit(8) + (n % 6) * 4).cast("int")
    h = (F.lit(8) + (n * 3) % 24).cast("int")
    seed = (F.col(id_col).cast("long") % 256).cast("int")
    npx = w * h
    file_size = F.lit(_BMP_PIXEL_OFFSET) + npx
    header_hex = F.concat(
        F.lit("424D"),                      # 'BM'
        _le_hex(file_size, 4),
        F.lit("00000000"),                  # reserved
        _le_hex(F.lit(_BMP_PIXEL_OFFSET), 4),
        _le_hex(F.lit(40), 4),              # DIB header size
        _le_hex(w, 4),
        _le_hex(h, 4),
        _le_hex(F.lit(1), 2),               # color planes
        _le_hex(F.lit(8), 2),               # bits per pixel
        F.lit("00000000"),                  # BI_RGB
        _le_hex(npx, 4),                    # image size
        F.lit("00000000" * 2),              # x/y pixels-per-meter
        _le_hex(F.lit(256), 4),             # palette colors
        F.lit("00000000"),                  # important colors
        F.lit(_BMP_PALETTE_HEX),
    )
    px_hex = F.substring(F.lit(_RAMP_HEX), seed * 2 + 1, npx * 2)
    payload = F.unhex(F.concat(header_hex, px_hex))
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image/bmp").alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


def decode_media(df: DataFrame) -> DataFrame:
    """Decode / feature-extract via Arrow-batched mapInPandas.

    Scale notes: blobs stay inside executor batches (never on the
    driver); `spark.sql.execution.arrow.maxRecordsPerBatch` bounds
    batch memory for large payloads. Corrupt rows surface as nulls,
    not task failures.

    Binary PGM ("P5") and 8-bit grayscale BMP ("BM") payloads are
    decoded for REAL — stdlib header parse + pixel plane: width/height
    from the header, n_frames = 1 + px[0] mod 8 (the ramp phase as a
    frame-count surrogate), features = first 8 pixels / 255. Other
    formats fall back to a deterministic digest stub (no media codecs
    here). The worker closure is fully self-contained — no reference
    to this package — so it runs on executors that don't have the
    package on their PYTHONPATH (the driver-contract case: plain
    SparkSession, arbitrary cwd)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl
        import re as _re

        import pandas as _pd

        def decode(payload):
            if payload is None:
                raise NotImplementedError("corrupt/absent payload — real decoder required")
            b = bytes(payload)
            if b[:2] == b"BM":
                import struct as _st

                if len(b) < 54:
                    raise NotImplementedError("truncated BMP header")
                off = _st.unpack_from("<I", b, 10)[0]
                w = _st.unpack_from("<i", b, 18)[0]
                h = _st.unpack_from("<i", b, 22)[0]
                bpp = _st.unpack_from("<H", b, 28)[0]
                px = b[off:]
                if bpp != 8 or w <= 0 or w % 4 or len(px) != w * h:
                    raise NotImplementedError("unsupported BMP variant")
                return w, h, 1 + px[0] % 8, [x / 255.0 for x in px[:8]]
            if b[:2] == b"P5":
                m = _re.match(
                    rb"^P5[ \t\r\n]+(\d+)[ \t\r\n]+(\d+)[ \t\r\n]+(\d+)[ \t\r\n]", b
                )
                if not m:
                    raise NotImplementedError("malformed PGM header")
                w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
                px = b[m.end():]
                if maxval != 255 or len(px) != w * h:
                    raise NotImplementedError("unsupported PGM variant")
                return w, h, 1 + px[0] % 8, [x / 255.0 for x in px[:8]]
            digest = _hl.md5(b).digest()
            return (
                16 + digest[0] % 240,
                16 + digest[1] % 240,
                1 + digest[2] % 8,
                [x / 255.0 for x in digest[:8]],
            )

        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [], "n_frames": [], "features": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                try:
                    w, h, nf, feats = decode(payload)
                except NotImplementedError:
                    w = h = nf = None
                    feats = None
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["features"].append(feats)
            yield _pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(op, DECODED_SCHEMA)


def sampled_frame_indices(every_n: int = 2) -> Column:
    """Sampled frame indices as an ARRAY column over n_frames
    (0, every_n, 2·every_n, …). A column, not an exploded relation, so
    a consumer that only needs per-row facts (count of sampled frames,
    membership tests) composes it into ONE decode pass — re-referencing
    a mapInPandas relation in a self-join re-RUNS the Python decode
    stage per reference."""
    return F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))


def resized_features(out_dim: int = 4) -> Column:
    """'Resize' stand-in as a column: truncate/renormalize the feature
    vector with array expressions (slice + transform) — the real
    resize happens in the decoder; this demonstrates post-decode
    vector surgery JVM-side."""
    return F.transform(
        F.slice(F.col("features"), 1, out_dim), lambda x: x.cast("float")
    )


# Video decode output contract (decode_video): one row PER FRAME with
# integer-exact per-frame facts, so frame sampling downstream is a
# plain JVM filter over frame_idx and oracles mirror every field with
# arithmetic — no float rounding pact, no array columns.
VIDEO_SCHEMA = (
    "media_id long, width int, height int, n_frames int, "
    "frame_idx int, y8_sum long"
)


def render_y4m_payload(df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    """Render a REAL multi-frame YUV4MPEG2 ("Y4M") stream per row,
    JVM-side — the fourth genuine media format and the first with a
    TIME axis, extending the multimodal contract to VIDEO with zero
    media libraries. Y4M is the uncompressed interchange format the
    video toolchain (ffmpeg/mjpegtools/x264) reads and writes: a
    plain-text stream header, then per frame a "FRAME\\n" marker
    followed by the raw plane bytes.

    Layout here: header ``YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\\n``
    (Cmono = luma-only planes, so each frame is exactly w·h bytes),
    then ``n_frames`` frames whose luma is the shared deterministic
    ramp with a PER-FRAME phase shift: frame f, pixel i =
    (seed + f + i) mod 256, seed = id mod 256 — each frame is one
    substring of _RAMP_HEX, and the whole stream is a single
    concat+unhex expression. Dimensions from the source text
    (w = 8 + 2·(len mod 8), h = 8 + (3·len mod 16)); frame count from
    the id (n_frames = 2 + id mod 4, so 2..5 — every stream is a real
    multi-frame video). The stream is built as a fixed 5-way
    conditional concat (hex level) because expression trees are
    static while n_frames is data-dependent."""
    n = F.length(F.col(source_col))
    w = (F.lit(8) + (n % 8) * 2).cast("int")
    h = (F.lit(8) + (n * 3) % 16).cast("int")
    n_frames = (F.lit(2) + F.col(id_col).cast("long") % 4).cast("int")
    seed = (F.col(id_col).cast("long") % 256).cast("int")
    npx = w * h
    header_hex = F.hex(
        F.encode(
            F.concat(
                F.lit("YUV4MPEG2 W"), w.cast("string"),
                F.lit(" H"), h.cast("string"),
                F.lit(" F25:1 Ip A1:1 Cmono\n"),
            ),
            "UTF-8",
        )
    )
    frame_marker = "4652414D450A"  # hex of b"FRAME\n"
    frames = [
        F.when(
            F.lit(f) < n_frames,
            F.concat(
                F.lit(frame_marker),
                F.substring(F.lit(_RAMP_HEX), (seed + f) * 2 + 1, npx * 2),
            ),
        ).otherwise(F.lit(""))
        for f in range(_Y4M_MAX_F)
    ]
    payload = F.unhex(F.concat(header_hex, *frames))
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("video/x-yuv4mpeg").alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


def decode_video(df: DataFrame) -> DataFrame:
    """REAL Y4M decode via Arrow-batched mapInPandas: parse the
    stream header (token walk — a correct parser survives extra
    parameters and any token order), then walk the FRAME markers,
    emitting ONE ROW PER FRAME with integer-exact facts: y8_sum =
    sum of the frame's first 8 luma samples (the per-frame twin of
    the image px8_sum — it differs per frame because each frame has
    its own ramp phase). Frame sampling composes downstream as a
    plain ``frame_idx % k`` filter — no second decode pass, no blob
    duplication. Same scale contract as decode_media: blobs never
    touch the driver, closure fully self-contained. Corrupt rows
    surface as a single all-null-fact row, not task failures."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def decode(b):
            # returns (width, height, n_frames, [(frame_idx, y8_sum)])
            if b is None:
                raise NotImplementedError("corrupt/absent payload")
            b = bytes(b)
            nl = b.find(b"\n")
            if nl < 0 or not b.startswith(b"YUV4MPEG2"):
                raise NotImplementedError("not a YUV4MPEG2 stream")
            w = h = None
            cs = "420"  # Y4M default colourspace when no C token
            for tok in b[:nl].split(b" ")[1:]:
                if tok[:1] == b"W":
                    w = int(tok[1:])
                elif tok[:1] == b"H":
                    h = int(tok[1:])
                elif tok[:1] == b"C":
                    cs = tok[1:].decode("ascii", "replace")
            if w is None or h is None or w <= 0 or h <= 0:
                raise NotImplementedError("missing W/H in stream header")
            if cs != "mono":
                raise NotImplementedError("only Cmono planes supported")
            npx = w * h
            pos, frames = nl + 1, []
            while pos < len(b):
                if b[pos : pos + 5] != b"FRAME":
                    raise NotImplementedError("malformed FRAME marker")
                fnl = b.find(b"\n", pos)
                if fnl < 0 or fnl + 1 + npx > len(b):
                    raise NotImplementedError("truncated frame")
                plane = b[fnl + 1 : fnl + 1 + npx]
                frames.append((len(frames), sum(plane[:8])))
                pos = fnl + 1 + npx
            if not frames:
                raise NotImplementedError("zero-frame stream")
            return w, h, len(frames), frames

        cols = ("media_id", "width", "height", "n_frames", "frame_idx", "y8_sum")
        for pdf in batches:
            out = {k: [] for k in cols}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, nf, frames = decode(payload)
                except NotImplementedError:
                    w = h = nf = None
                    frames = [(None, None)]
                for fi, y8 in frames:
                    out["media_id"].append(mid)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_frames"].append(nf)
                    out["frame_idx"].append(fi)
                    out["y8_sum"].append(y8)
            yield _pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(op, VIDEO_SCHEMA)


# Color image decode contract (decode_color_image): per-CHANNEL
# integer-exact sums so oracles mirror each plane with arithmetic.
COLOR_SCHEMA = (
    "media_id long, width int, height int, "
    "r8_sum long, g8_sum long, b8_sum long"
)


def render_ppm_payload(df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    """Render a REAL binary color NetPBM image (PPM "P6") per row,
    JVM-side — the fifth genuine media format and the first with
    CHANNELS: P6 stores interleaved RGB triplets after the same text
    header as PGM, so decoding must de-interleave three planes.

    Dimensions reuse the PGM formulas (w = 8 + len mod 24,
    h = 8 + 3·len mod 24); the interleaved pixel plane is 3·w·h bytes
    of the shared ramp starting at seed = id mod 256 — each channel c
    of pixel i is (seed + 3i + c) mod 256, so per-channel facts have
    closed arithmetic forms. Needs ramp coverage for 255 + 3·31·31
    bytes — asserted against _RAMP_HEX below."""
    n = F.length(F.col(source_col))
    w = (F.lit(8) + n % 24).cast("int")
    h = (F.lit(8) + (n * 3) % 24).cast("int")
    seed = (F.col(id_col).cast("long") % 256).cast("int")
    nbytes = w * h * 3
    header = F.encode(
        F.concat(
            F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n")
        ),
        "UTF-8",
    )
    px_hex = F.substring(F.lit(_RAMP_HEX), seed * 2 + 1, nbytes * 2)
    payload = F.concat(header, F.unhex(px_hex))
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


assert len(_RAMP_HEX) >= (_MAX_SEED + 3 * _MAX_W * _MAX_H) * 2, (
    "_RAMP_HEX no longer covers the P6 interleaved worst case"
)


def decode_color_image(df: DataFrame) -> DataFrame:
    """REAL P6/PPM decode via Arrow-batched mapInPandas: parse the
    NetPBM header, DE-INTERLEAVE the RGB triplets, and emit
    integer-exact per-channel facts (sum of each channel's first 8
    samples) — proof the decoder separates planes rather than
    hashing bytes. Corrupt/foreign payloads yield null-fact rows.
    Same contract as decode_media: self-contained closure, blobs
    never on the driver."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re as _re

        import pandas as _pd

        def decode(b):
            if b is None:
                raise NotImplementedError("corrupt/absent payload")
            b = bytes(b)
            m = _re.match(rb"^P6[ \t\r\n]+(\d+)[ \t\r\n]+(\d+)[ \t\r\n]+(\d+)[ \t\r\n]", b)
            if not m:
                raise NotImplementedError("not a binary PPM payload")
            w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
            px = b[m.end():]
            if maxval != 255 or len(px) != 3 * w * h:
                raise NotImplementedError("unsupported PPM variant")
            r, g, bl = px[0::3], px[1::3], px[2::3]
            return w, h, sum(r[:8]), sum(g[:8]), sum(bl[:8])

        cols = ("media_id", "width", "height", "r8_sum", "g8_sum", "b8_sum")
        for pdf in batches:
            out = {k: [] for k in cols}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, r8, g8, b8 = decode(payload)
                except NotImplementedError:
                    w = h = r8 = g8 = b8 = None
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["r8_sum"].append(r8)
                out["g8_sum"].append(g8)
                out["b8_sum"].append(b8)
            yield _pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(op, COLOR_SCHEMA)


# Audio decode output contract (decode_audio): integer-exact fields so
# oracles mirror them with plain arithmetic — no float rounding pact.
AUDIO_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, n_samples long, "
    "s8_sum long, energy_sum long"
)


def render_wav_payload(
    df: DataFrame, id_col: str, source_col: str, sample_rate: int = 8000
) -> DataFrame:
    """Render a REAL RIFF/WAVE file per row, JVM-side — the third
    genuine media format (PGM: text header; BMP: little-endian binary
    header + palette; WAV: chunked RIFF container), extending the
    multimodal contract to AUDIO with zero media libraries.

    Layout: 'RIFF' + LE32 riff-size + 'WAVE', a 16-byte PCM 'fmt '
    chunk (format 1, mono, ``sample_rate``, 8-bit), then the 'data'
    chunk whose unsigned-8-bit samples are the same deterministic
    ramp as the image planes (sample[i] = (seed + i) mod 256,
    seed = id mod 256) — one substring of the shared _RAMP_HEX.
    n_samples = 8 + (len(source)*5) mod 32 (even, so no pad byte)."""
    n = F.length(F.col(source_col))
    n_samples = (F.lit(8) + (n * 5) % 32).cast("int")
    seed = (F.col(id_col).cast("long") % 256).cast("int")
    byte_rate = F.lit(int(sample_rate)).cast("int")
    fmt_hex = F.concat(
        F.lit("666D7420"),                  # 'fmt '
        _le_hex(F.lit(16), 4),              # PCM fmt chunk size
        _le_hex(F.lit(1), 2),               # audio format = PCM
        _le_hex(F.lit(1), 2),               # channels = 1
        _le_hex(F.lit(int(sample_rate)), 4),
        _le_hex(byte_rate, 4),              # byte rate = rate·1·1
        _le_hex(F.lit(1), 2),               # block align
        _le_hex(F.lit(8), 2),               # bits per sample
    )
    data_hdr = F.concat(F.lit("64617461"), _le_hex(n_samples, 4))  # 'data'
    riff_size = F.lit(4 + 24 + 8) + n_samples  # 'WAVE' + fmt + data hdr + samples
    header_hex = F.concat(
        F.lit("52494646"),                  # 'RIFF'
        _le_hex(riff_size, 4),
        F.lit("57415645"),                  # 'WAVE'
        fmt_hex,
        data_hdr,
    )
    sample_hex = F.substring(F.lit(_RAMP_HEX), seed * 2 + 1, n_samples * 2)
    payload = F.unhex(F.concat(header_hex, sample_hex))
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


def decode_audio(df: DataFrame) -> DataFrame:
    """REAL WAV decode via Arrow-batched mapInPandas: walk the RIFF
    chunk list (not fixed offsets — a correct parser survives extra
    chunks), read the PCM format fields, then compute integer-exact
    audio features from the sample plane: s8_sum (sum of the first 8
    unsigned samples — the audio twin of the image px8_sum) and
    energy_sum (sum of squared samples over the whole clip, the
    un-normalized energy). Same scale contract as decode_media: blobs
    never touch the driver, closure fully self-contained."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _st

        import pandas as _pd

        def decode(b):
            b = bytes(b)
            if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                raise NotImplementedError("not a RIFF/WAVE payload")
            pos, fmt, data = 12, None, None
            while pos + 8 <= len(b):
                cid = b[pos : pos + 4]
                sz = _st.unpack_from("<I", b, pos + 4)[0]
                body = b[pos + 8 : pos + 8 + sz]
                if cid == b"fmt ":
                    fmt = body
                elif cid == b"data":
                    data = body
                pos += 8 + sz + (sz & 1)  # RIFF chunks pad to even
            if fmt is None or data is None or len(fmt) < 16:
                raise NotImplementedError("missing fmt/data chunk")
            audio_fmt, n_ch = _st.unpack_from("<HH", fmt, 0)
            rate = _st.unpack_from("<I", fmt, 4)[0]
            bits = _st.unpack_from("<H", fmt, 14)[0]
            if audio_fmt != 1 or bits != 8:
                raise NotImplementedError("only 8-bit PCM supported")
            s8 = sum(data[:8])
            energy = sum(x * x for x in data)
            return rate, n_ch, len(data), s8, energy

        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "sample_rate", "n_channels", "n_samples",
                "s8_sum", "energy_sum",
            )}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, n_ch, n, s8, en = decode(payload)
                except NotImplementedError:
                    rate = n_ch = n = s8 = en = None
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_channels"].append(n_ch)
                out["n_samples"].append(n)
                out["s8_sum"].append(s8)
                out["energy_sum"].append(en)
            yield _pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(op, AUDIO_SCHEMA)
