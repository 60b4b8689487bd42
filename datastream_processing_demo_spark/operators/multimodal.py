"""Multimodal column plumbing (SURVEY.md §2.2 LLM-ext multimodal row):
opaque binary payload columns with typed metadata, a decode/feature
pandas-UDF stage, and frame sampling over chunked payloads.

The container ships no third-party image codecs (no PIL/ffmpeg/
libvips), so three lanes coexist: a deterministic FAKE decode (features
derived from the bytes themselves) keeping the plumbing testable, and
two REAL codecs built on stdlib+numpy alone — `decode_ppm_real` parses
genuine binary netpbm (uncompressed container) and `decode_png_real`
parses genuine PNG (a COMPRESSED container: CRC-verified chunk walk,
zlib inflate, full five-filter scanline reconstruction). The AUDIO lane
likewise runs a REAL container codec: `decode_wav_real` parses genuine
RIFF/WAVE files (stdlib `wave` + numpy PCM decode, 8/16-bit,
multichannel downmix) and plugs into the same windowed-feature stage as
the fake PCM path (`audio_window_features(codec="wav")`). The LOSSY DCT
family is covered too: `operators/jpeg.py` implements a genuine
baseline grayscale JPEG codec (FDCT/IDCT, quantization, Annex K
Huffman, byte stuffing), gated by a bounded-reconstruction-error
contract since lossy codecs admit no exact pixel-sum oracle. Only
formats needing third-party libraries (color/progressive JPEG, video
containers) still raise.

Scale notes: binary payloads ride in parquet as BYTE_ARRAY — scans
prune them unless projected; mapInPandas streams Arrow batches so a
partition of 100 MB images never materializes as one Python object;
frame arrays stay bounded (sampling happens inside the expression, not
after explode).
"""

from __future__ import annotations

import math as _math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FRAME_BYTES = 16  # synthetic "frame" chunk size for the frame-sampling op


def encode_ppm_rgb(payload: bytes, width: int = 32) -> bytes:
    """Wrap raw bytes as a genuine binary PPM (netpbm P6) image: bytes
    become the RGB raster row-major, zero-padded to a whole
    width x height x 3 grid (height = ceil(n / (width*3)), min 1). The
    header includes a comment line, so a decoder must do real
    whitespace/comment-tolerant netpbm parsing, not fixed offsets."""
    n = len(payload)
    height = max(1, -(-n // (width * 3)))
    data = payload + b"\x00" * (width * height * 3 - n)
    header = b"P6\n# synthetic corpus image\n%d %d\n255\n" % (width, height)
    return header + data


def decode_ppm_real(payload: bytes) -> dict:
    """REAL image container codec: parse a binary netpbm file (P6 RGB /
    P5 grayscale) with numpy alone — magic, whitespace- and
    '#'-comment-tolerant header tokens (width, height, maxval), then the
    raster as 8-bit or 16-bit big-endian samples per the netpbm spec.
    Raises on a non-netpbm payload or a truncated raster."""
    import numpy as np

    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"not a binary netpbm payload (magic {magic!r})")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        vals.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster
    width, height, maxval = vals
    channels = 3 if magic == b"P6" else 1
    dtype, bpp = (">u2", 2) if maxval > 255 else (np.uint8, 1)
    need = width * height * channels * bpp
    raster = payload[pos:pos + need]
    if len(raster) != need:
        raise ValueError(f"truncated raster: {len(raster)} of {need} bytes")
    pixels = (np.frombuffer(raster, dtype=dtype).astype(np.int64)
              .reshape(height, width, channels))
    return {"width": width, "height": height, "channels": channels,
            "maxval": maxval, "pixels": pixels}


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png_rgb(payload: bytes, width: int = 32) -> bytes:
    """Wrap raw bytes as a genuine COMPRESSED PNG image: bytes become
    the 8-bit RGB raster row-major, zero-padded to width x height x 3
    (height = ceil(n / (width*3)), min 1), scanlines are run through
    the spec's filter transforms (cycling None/Sub/Up/Average/Paeth by
    row, so a decoder must implement real unfiltering, not just
    inflate), deflate-compressed into IDAT, and framed as signature +
    CRC-verified IHDR/IDAT/IEND chunks."""
    import struct
    import zlib

    import numpy as np

    n = len(payload)
    height = max(1, -(-n // (width * 3)))
    stride = width * 3
    data = payload + b"\x00" * (stride * height - n)
    rows = np.frombuffer(data, dtype=np.uint8).reshape(height, stride)

    filtered = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        row = rows[y].astype(np.int64)
        ftype = y % 5
        left = np.concatenate([np.zeros(3, dtype=np.int64), row[:-3]])
        upleft = np.concatenate([np.zeros(3, dtype=np.int64), prev[:-3]])
        if ftype == 0:
            out = row
        elif ftype == 1:    # Sub
            out = row - left
        elif ftype == 2:    # Up
            out = row - prev
        elif ftype == 3:    # Average
            out = row - (left + prev) // 2
        else:               # Paeth
            p = left + prev - upleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - upleft))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            out = row - pred
        filtered.append(ftype)
        filtered.extend((out % 256).astype(np.uint8).tobytes())
        prev = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(filtered)))
            + chunk(b"IEND", b""))


def decode_png_real(payload: bytes) -> dict:
    """REAL compressed image codec: parse a PNG with stdlib zlib +
    numpy alone — signature, CRC-verified chunk walk, IHDR geometry,
    multi-IDAT concatenation, inflate, and full five-filter scanline
    reconstruction (None/Sub/Up/Average/Paeth) per the PNG spec.
    Supports 8-bit color types 2 (RGB) and 0 (grayscale),
    non-interlaced; raises loudly on anything else, a bad CRC, or a
    truncated raster."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        if pos + 12 + length > len(payload):
            raise ValueError(
                f"truncated {ctype!r} chunk: declares {length} bytes but "
                f"only {max(0, len(payload) - pos - 12)} remain")
        body = payload[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(ctype + body) != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    width, height, depth, ctype_id, comp, filt, interlace = ihdr
    if width == 0 or height == 0:
        raise ValueError(f"invalid PNG dimensions {width}x{height} "
                         "(spec requires nonzero)")
    if depth != 8 or ctype_id not in (0, 2) or comp or filt or interlace:
        raise NotImplementedError(
            f"unsupported PNG variant (depth={depth} color={ctype_id} "
            f"interlace={interlace}); only 8-bit gray/RGB non-interlaced")
    if not idat:
        raise ValueError("missing IDAT")
    channels = 3 if ctype_id == 2 else 1
    stride = width * channels
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        # keep the documented ValueError contract: a CRC-valid chunk
        # holding a non-deflate stream is still a corrupt payload
        raise ValueError(f"corrupt IDAT deflate stream: {exc}") from exc
    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"inflated raster is {len(raw)} bytes, IHDR implies "
            f"{(stride + 1) * height}")

    out = np.zeros((height, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        line = raw[y * (stride + 1):(y + 1) * (stride + 1)]
        ftype, row = line[0], np.frombuffer(
            line[1:], dtype=np.uint8).astype(np.int64)
        if ftype == 0:
            cur = row
        elif ftype == 2:    # Up
            cur = (row + prev) % 256
        elif ftype == 1:    # Sub: cur[x] = row[x] + cur[x-ch]
            # per-channel PREFIX SUM — the left-pixel recurrence with no
            # other term is exactly cumsum mod 256, fully vectorized
            # (the r5 filter-type-partitioned rewrite; the generic
            # left-pixel loop only survives for Average/Paeth below)
            cur = np.cumsum(row.reshape(-1, channels), axis=0) \
                .reshape(stride) % 256
        elif ftype in (3, 4):
            # Average/Paeth read the already-reconstructed left pixel —
            # sequential per pixel position, but independent ACROSS
            # channels: one tight zip-loop per channel (no per-element
            # index arithmetic or boundary tests; plain Python lists —
            # per-element numpy indexing is ~10x slower here)
            cl = [0] * stride
            for ch in range(channels):
                rl = row[ch::channels].tolist()
                pl = prev[ch::channels].tolist()
                a = 0       # left reconstructed byte, 0 before column 0
                c = 0       # upper-left reconstructed byte
                if ftype == 3:
                    o = []
                    for r, b in zip(rl, pl):
                        a = (r + ((a + b) >> 1)) & 255
                        o.append(a)
                else:
                    o = []
                    for r, b in zip(rl, pl):
                        p = a + b - c
                        pa = abs(p - a)
                        pb = abs(p - b)
                        pc = abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else \
                            (b if pb <= pc else c)
                        a = (r + pred) & 255
                        o.append(a)
                        c = b
                cl[ch::channels] = o
            cur = np.array(cl, dtype=np.int64)
        else:
            raise ValueError(f"bad filter type {ftype} on row {y}")
        out[y] = cur
        prev = cur
    pixels = out.reshape(height, width, channels)
    return {"width": width, "height": height, "channels": channels,
            "maxval": 255, "pixels": pixels}


def decode_image_real(payload: bytes) -> dict:
    """Real image decode hook. Binary netpbm (P5/P6) parses via
    `decode_ppm_real`; PNG — a genuinely COMPRESSED container — via
    `decode_png_real` (stdlib zlib inflate + five-filter scanline
    reconstruction); baseline JPEG, grayscale or 4:4:4 color — a
    genuinely LOSSY DCT codec — via `operators.jpeg.decode_jpeg` (full
    marker walk, in-file Huffman tables, dequant + IDCT). No third-party
    codec anywhere. Anything else (progressive JPEG, video) raises."""
    if payload[:2] in (b"P6", b"P5"):
        return decode_ppm_real(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png_real(payload)
    if payload[:2] == b"\xFF\xD8":
        from .jpeg import decode_jpeg
        return decode_jpeg(payload)
    raise NotImplementedError(
        f"no decoder for payload with magic {payload[:8]!r}: netpbm, "
        "PNG and baseline JPEG decode here; other formats "
        "need a cluster image with PIL/ffmpeg "
        "(note: a valid PNG starts with the full 8-byte signature — a "
        "shorter/corrupted prefix lands here, check for truncation)")


def fake_decode_features(payload: bytes) -> dict:
    """Deterministic fake decode: 'image' metadata derived from bytes.
    Keeps the full pipeline testable without codecs."""
    n = len(payload)
    return {
        "width": n % 640,
        "height": (n * 7) % 480,
        "channels": 3,
        "first_byte": payload[0] if n else -1,
    }


def to_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary payload column + typed metadata — the
    multimodal table shape (payload BINARY, meta STRUCT)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "meta",
        F.struct(
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("content_md5"),
            F.lower(F.hex(payload)).substr(1, 8).alias("magic_hex"),
        ),
    )


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode/feature stage: binary in, typed features out.
    Arrow-batched; the decode function is pluggable (fake here)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(fake_decode_features)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "width": feats.map(lambda d: d["width"]),
                "height": feats.map(lambda d: d["height"]),
                "channels": feats.map(lambda d: d["channels"]),
                "first_byte": feats.map(lambda d: d["first_byte"]),
            })

    return df.select(id_col, "payload").mapInPandas(
        run, schema=f"{id_col} long, width long, height long, "
                    "channels long, first_byte long")


AUDIO_WINDOW = 256  # samples per analysis window for the audio stage


def encode_wav_u8(payload: bytes, sample_rate: int = 8000) -> bytes:
    """Wrap raw bytes as a genuine mono 8-bit-PCM RIFF/WAVE file
    (stdlib `wave` writer — canonical 44-byte header + data chunk).
    8-bit WAV is unsigned PCM, so the data chunk is the payload verbatim:
    a decode must recover exactly these samples. Deterministic."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sample_rate)
        w.writeframes(payload)
    return buf.getvalue()


def decode_wav_real(payload: bytes) -> dict:
    """REAL audio container codec: parse a RIFF/WAVE file and decode its
    PCM frames to float64 samples in [-1, 1). Stdlib `wave` does the
    container parsing (chunk layout, fmt header, frame extraction);
    numpy does the PCM conversion. Supports 8-bit unsigned and 16-bit
    signed little-endian PCM — the two classic WAV encodings — and
    downmixes multichannel to mono by averaging.

    This is the `decode_image_real`-shaped hook the audio lane actually
    fills: no fake, no third-party dependency, raises `wave.Error` on a
    non-WAV payload."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        n_channels = w.getnchannels()
        width = w.getsampwidth()
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    if width == 1:          # 8-bit WAV is unsigned
        s = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    elif width == 2:        # 16-bit WAV is signed little-endian
        s = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    else:
        raise ValueError(f"unsupported WAV sample width: {width}")
    if n_channels > 1:
        s = s.reshape(-1, n_channels).mean(axis=1)
    return {"sample_rate": rate, "n_channels": n_channels, "samples": s}


def _pcm_u8_samples(b: bytes):
    """Fake codec: interpret raw bytes as unsigned 8-bit PCM."""
    import numpy as np
    return (np.frombuffer(b, dtype=np.uint8).astype(np.float64)
            - 128.0) / 128.0


_E6 = 10.0 ** 6


def _round_half_away(x: float) -> float:
    """Round half AWAY from zero (1e-6 grid) for non-negative x — the
    ROUND the SQL oracles use. Python's builtin round() is half-to-even,
    which diverges from DuckDB on exact grid ties (peak = k/128 is an
    exact dyadic whose 7th decimal is 5 for every odd k):
    round(0.7578125, 6) is 0.757812 in Python but 0.757813 in DuckDB.
    The tie value x*1e6 is exactly representable for these dyadics, so
    floor(x*1e6 + 0.5) reproduces DuckDB bit-for-bit. Called per row in
    Arrow stages — keep it two arithmetic ops (math imported at module
    scope, scale precomputed)."""
    return _math.floor(x * _E6 + 0.5) / _E6


def audio_window_features(df: DataFrame, id_col: str = "doc_id",
                          window: int = AUDIO_WINDOW,
                          codec: str = "pcm_u8") -> DataFrame:
    """mapInPandas audio feature stage: binary payload in, per-doc
    loudness features out. The decode is pluggable and both settings
    share every other moving part (Arrow batches, numpy vectorization,
    windowing, output schema):

    - ``codec="pcm_u8"`` — deterministic fake: raw bytes as unsigned
      8-bit PCM samples;
    - ``codec="wav"``    — REAL codec: payloads are RIFF/WAVE files,
      parsed by `decode_wav_real` (stdlib wave + numpy).

    Output: n_samples, n_windows (ceil), rms_w1 = RMS of the first
    window, peak = max |sample| — both rounded to 1e-6 so an oracle that
    recomputes them from the same bytes matches exactly.
    """
    if codec not in ("pcm_u8", "wav"):
        raise ValueError(f"unknown codec {codec!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def to_samples(b: bytes):
            if codec == "wav":
                return decode_wav_real(b)["samples"]
            return _pcm_u8_samples(b)

        def feats(b: bytes):
            s = to_samples(b)
            n = len(s)
            w1 = s[:window]
            rms = float(np.sqrt((w1 * w1).mean())) if n else 0.0
            peak = float(np.abs(s).max()) if n else 0.0
            return (n, -(-n // window),
                    _round_half_away(rms), _round_half_away(peak))

        for pdf in batches:
            rows = pdf["payload"].map(feats)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_samples": rows.map(lambda r: r[0]),
                "n_windows": rows.map(lambda r: r[1]),
                "rms_w1": rows.map(lambda r: r[2]),
                "peak": rows.map(lambda r: r[3]),
            })

    return df.select(id_col, "payload").mapInPandas(
        run, schema=(f"{id_col} long, n_samples long, n_windows long, "
                     "rms_w1 double, peak double"))


def wrap_payloads_as_wav(df: DataFrame, id_col: str = "doc_id",
                         sample_rate: int = 8000) -> DataFrame:
    """mapInPandas encode stage: raw binary payloads -> genuine WAV
    containers (mono u8 PCM). Paired with
    ``audio_window_features(codec="wav")`` it exercises the real codec
    end-to-end: real RIFF bytes on the wire between two Arrow stages,
    real container parsing on the far side."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "payload": pdf["payload"].map(
                    lambda b: encode_wav_u8(b, sample_rate)),
            })

    return df.select(id_col, "payload").mapInPandas(
        run, schema=f"{id_col} long, payload binary")


def wrap_payloads_as_ppm(df: DataFrame, id_col: str = "doc_id",
                         width: int = 32) -> DataFrame:
    """mapInPandas encode stage: raw binary payloads -> genuine P6 PPM
    images (bytes as zero-padded RGB raster)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "payload": pdf["payload"].map(
                    lambda b: encode_ppm_rgb(b, width)),
            })

    return df.select(id_col, "payload").mapInPandas(
        run, schema=f"{id_col} long, payload binary")


def wrap_payloads_as_png(df: DataFrame, id_col: str = "doc_id",
                         width: int = 32) -> DataFrame:
    """mapInPandas encode stage: raw binary payloads -> genuine
    COMPRESSED PNGs (deflate IDAT, filtered scanlines, CRC'd chunks)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "payload": pdf["payload"].map(
                    lambda b: encode_png_rgb(b, width)),
            })

    return df.select(id_col, "payload").mapInPandas(
        run, schema=f"{id_col} long, payload binary")


def image_features_real(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas REAL-decode stage: netpbm or PNG containers in,
    typed image features out — dims and channel count from the parsed
    header, exact integer pixel sum from the raster (padding zeros are
    sum-neutral, so an oracle can recompute it from the pre-wrap
    bytes). Same Arrow plumbing as the fake lane; the decode is
    `decode_image_real`, which dispatches on magic."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def feats(b: bytes):
            d = decode_image_real(b)
            return (d["width"], d["height"], d["channels"],
                    d["width"] * d["height"] * d["channels"],
                    int(d["pixels"].sum()))

        for pdf in batches:
            rows = pdf["payload"].map(feats)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "width": rows.map(lambda r: r[0]),
                "height": rows.map(lambda r: r[1]),
                "channels": rows.map(lambda r: r[2]),
                "n_pixel_bytes": rows.map(lambda r: r[3]),
                "sum_pixels": rows.map(lambda r: r[4]),
            })

    return df.select(id_col, "payload").mapInPandas(
        run, schema=(f"{id_col} long, width long, height long, channels long, "
                     "n_pixel_bytes long, sum_pixels long"))


def combined_codec_features(df: DataFrame, id_col: str = "doc_id",
                            window: int = AUDIO_WINDOW,
                            img_width: int = 32) -> DataFrame:
    """ONE Arrow stage running BOTH real codecs per payload: wrap the
    bytes as a genuine WAV and a genuine PPM, container-parse each, and
    emit the audio loudness features next to the image features. A
    two-lane design (separate wav/ppm stages + join on id) would scan
    the binary column twice and shuffle once to re-join what was never
    apart — at 100 TB the single fused map stage is the right shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def feats(b: bytes):
            a = decode_wav_real(encode_wav_u8(b))["samples"]
            im = decode_image_real(encode_ppm_rgb(b, img_width))
            n = len(a)
            w1 = a[:window]
            rms = _round_half_away(float(np.sqrt((w1 * w1).mean()))) if n else 0.0
            peak = _round_half_away(float(np.abs(a).max())) if n else 0.0
            return (n, -(-n // window), rms, peak,
                    im["height"], int(im["pixels"].sum()))

        for pdf in batches:
            rows = pdf["payload"].map(feats)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_samples": rows.map(lambda r: r[0]),
                "n_windows": rows.map(lambda r: r[1]),
                "rms_w1": rows.map(lambda r: r[2]),
                "peak": rows.map(lambda r: r[3]),
                "img_height": rows.map(lambda r: r[4]),
                "sum_pixels": rows.map(lambda r: r[5]),
            })

    return df.select(id_col, "payload").mapInPandas(
        run, schema=(f"{id_col} long, n_samples long, n_windows long, "
                     "rms_w1 double, peak double, img_height long, "
                     "sum_pixels long"))


def frames_col(text_col: str = "text", frame_bytes: int = FRAME_BYTES) -> Column:
    """Chunk a payload into fixed-size 'frames' (array<binary>).

    Empty payloads yield an empty array — without the guard,
    sequence(0, -1) is Spark's DESCENDING [0, -1] (the r5 corpus-fuzzer
    bug class, see operators/dedup.shingles_col) and would emit two
    bogus frames."""
    n_frames = F.ceil(F.length(text_col) / frame_bytes).cast("int")
    return F.when(
        n_frames < 1, F.array().cast("array<binary>")
    ).otherwise(F.transform(
        F.sequence(F.lit(0), n_frames - 1),
        lambda i: F.encode(
            F.substring(F.col(text_col), i * frame_bytes + 1, frame_bytes), "UTF-8"),
    ))


def sample_frames(frames: Column, every: int = 3) -> Column:
    """Keep every k-th frame (0-based index) — the frame-sampling op."""
    return F.filter(frames, lambda x, i: i % every == 0)


def resize_payloads(df: DataFrame, id_col: str = "doc_id",
                    out_w: int = 32, out_h: int = 24) -> DataFrame:
    """mapInPandas resize stage: binary in, resized binary + dims out.

    The resize itself is a deterministic fake (crop to out_w*out_h
    bytes — a real implementation would decode via PIL/libvips, which
    this container lacks; swap `_fake_resize` for the real kernel).
    The Spark-side plumbing is real: Arrow-batched binary columns in
    and out, stable schema, no shuffle (map-only stage).
    """
    target = out_w * out_h

    def _fake_resize(b: bytes) -> bytes:
        return bytes(b[:target])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pdf["payload"].map(_fake_resize)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "out_w": out_w,
                "out_h": out_h,
                "n_out_bytes": resized.map(len),
                "resized": resized,
            })

    return df.select(id_col, "payload").mapInPandas(
        run, schema=(f"{id_col} long, out_w int, out_h int, "
                     "n_out_bytes long, resized binary"))


def wrap_payloads_as_jpeg(df: DataFrame, id_col: str = "doc_id",
                          width: int = 32,
                          color: bool = False) -> DataFrame:
    """mapInPandas encode stage: raw binary payloads -> genuine
    baseline JPEGs — grayscale by default, 4:4:4 YCbCr color with
    `color=True` (FDCT + per-component quant tables + Annex K Huffman
    + interleaved MCUs + byte stuffing). The ORIGINAL payload rides
    alongside the JPEG bytes: JPEG is lossy, so the downstream
    contract stage needs it to measure reconstruction error."""
    from .jpeg import encode_jpeg_gray, encode_jpeg_rgb

    enc = encode_jpeg_rgb if color else encode_jpeg_gray

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "payload": pdf["payload"],
                "jpeg": pdf["payload"].map(
                    lambda b: enc(bytes(b), width)),
            })

    return df.select(id_col, "payload").mapInPandas(
        run, schema=f"{id_col} long, payload binary, jpeg binary")


def image_error_contract(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas REAL-decode stage for the LOSSY lane: parse each
    JPEG for real (marker walk, in-file Huffman tables, dequant, IDCT)
    and emit exact geometry plus a reconstruction-error-within-bound
    flag vs the original payload — the agg_approx_bounds-style
    contract an exact pixel-sum oracle can't express for a lossy
    codec. A broken DCT/zigzag/Huffman/stuffing step flips the flag
    and hash-fails the driver compare."""
    import numpy as np

    from .jpeg import MAX_ABS_ERR, MAX_ABS_ERR_COLOR, decode_jpeg

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def feats(orig, jpg):
            d = decode_jpeg(bytes(jpg))
            w, h, ch = d["width"], d["height"], d["channels"]
            o = np.frombuffer(
                bytes(orig) + b"\x00" * (w * h * ch - len(orig)),
                dtype=np.uint8).reshape(d["pixels"].shape)
            err = int(np.max(np.abs(d["pixels"].astype(np.int64)
                                    - o.astype(np.int64))))
            bound = MAX_ABS_ERR if ch == 1 else MAX_ABS_ERR_COLOR
            return (w, h, ch, err <= bound)

        for pdf in batches:
            rows = [feats(o, j)
                    for o, j in zip(pdf["payload"], pdf["jpeg"])]
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "width": [r[0] for r in rows],
                "height": [r[1] for r in rows],
                "channels": [r[2] for r in rows],
                "err_within_bound": [r[3] for r in rows],
            })

    return df.mapInPandas(
        run, schema=(f"{id_col} long, width long, height long, "
                     "channels long, err_within_bound boolean"))
