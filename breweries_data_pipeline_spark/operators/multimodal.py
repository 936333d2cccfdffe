"""Multimodal (image/audio-style) binary columns (BASELINE.json:
multimodal surface; no reference analog — the reference is
text/tabular only).

Media are opaque ``binary`` columns plus typed metadata, processed
with Arrow-batched ``mapInPandas`` / ``pandas_udf`` — the correct
Spark shape for per-blob Python work: whole Arrow record batches cross
the JVM<->Python boundary once, not row-at-a-time pickling.

Two codecs behind one dispatcher (``decode_image``): a deterministic
fake (``FAKEIMG1`` header + seeded payload) that needs no libraries,
and a real path (``decode_real_image``) for PNG/JPEG/WebP/... bytes —
PIL when pillow is present, with dependency-free fallbacks for PNG
(stdlib zlib, below) and baseline JPEG (operators.jpeg_codec), so
both real-codec branches execute and are oracle-tested
(q_png_decode / q_jpeg_decode) even in this PIL-less container.
Only formats neither fallback covers still need pillow.

Scale notes: all operators here are narrow (no shuffle); throughput is
bounded by Arrow serialization + Python. Size partitions so a batch of
blobs fits executor-python memory (spark.sql.execution.arrow.
maxRecordsPerBatch for very large blobs); never collect blobs to the
driver.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from breweries_data_pipeline_spark.operators.dedup import _ensure_parallelism

if TYPE_CHECKING:  # pandas imported lazily — executors only
    import pandas as pd

FAKE_MAGIC = b"FAKEIMG1"
_HEADER = struct.Struct(">8sIIB")  # magic, width, height, channels


def pack_header(width: int, height: int, channels: int) -> bytes:
    """Module-level (closure-pickle-safe) header packer."""
    return struct.pack(">8sIIB", FAKE_MAGIC, width, height, channels)


def _lcg_payload(seed: int, n: int) -> bytes:
    """Vectorized payload generator: ((seed + i*40503) >> 3) & 0xFF for
    i in 0..n-1 as one numpy expression. The per-byte Python generator
    this replaces was the encode bottleneck at scale (~350M Python-level
    ops for 50k audio blobs); numpy does it in a handful of C loops."""
    import numpy as np

    i = np.arange(n, dtype=np.int64)
    return (((seed + i * 40503) >> 3) & 0xFF).astype(np.uint8).tobytes()


def encode_fake_image(media_id: int) -> bytes:
    """Deterministic fake image blob: header + seeded payload.
    Dimensions derive from the id so metadata is independently
    computable (and oracle-checkable) without decoding."""
    width = 16 + media_id % 17
    height = 16 + media_id % 13
    channels = 1 + media_id % 3
    n = width * height * channels
    seed = (media_id * 2654435761) & 0xFFFFFFFF
    payload = _lcg_payload(seed, n)
    return pack_header(width, height, channels) + payload


def decode_fake_image(blob: bytes) -> tuple[int, int, int, bytes]:
    """Parse a fake blob -> (width, height, channels, pixels)."""
    magic, width, height, channels = _HEADER.unpack_from(blob)
    if magic != FAKE_MAGIC:
        raise ValueError("not a FAKEIMG1 blob")
    return width, height, channels, blob[_HEADER.size:]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color_type -> channel count


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> bytes:
    """Reverse PNG scanline filtering (spec §6: None/Sub/Up/Average/
    Paeth). Rows are sequential by construction (Up/Average/Paeth read
    the prior row); None/Up/Sub vectorize per row, Average/Paeth fall
    back to a per-byte loop — correctness fallback, not a hot path."""
    import numpy as np

    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    for y in range(height):
        ft = raw[pos]
        line = np.frombuffer(raw[pos + 1:pos + 1 + stride], dtype=np.uint8).astype(np.int32)
        pos += 1 + stride
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 1:  # Sub: per-byte-lane cumulative sum mod 256
            lanes = line.reshape(-1, bpp) if stride % bpp == 0 else None
            if lanes is not None:
                cur = (np.cumsum(lanes, axis=0) & 0xFF).reshape(-1)
            else:  # ragged stride can't happen for 8-bit but stay safe
                cur = line.copy()
                for x in range(bpp, stride):
                    cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ft in (3, 4):  # Average / Paeth
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if ft == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)
    return out.tobytes()


def decode_png(blob: bytes) -> tuple[int, int, int, bytes]:
    """Dependency-free PNG decoder (stdlib zlib + numpy unfilter):
    8-bit-depth, non-interlaced gray/gray+alpha/RGB/RGBA — the shapes
    a data pipeline's thumbnails and fixtures actually use. Exists so
    the real-codec path executes (and is testable) in containers
    without PIL; PIL, when present, handles every other format."""
    import struct as _struct
    import zlib

    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG byte stream")
    pos, idat, hdr = 8, [], None
    while pos + 8 <= len(blob):
        (length,) = _struct.unpack(">I", blob[pos:pos + 4])
        ctype = blob[pos + 4:pos + 8]
        data = blob[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            hdr = _struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if hdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color, _comp, _filt, interlace = hdr
    if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"stdlib PNG fallback handles 8-bit non-interlaced "
            f"gray/RGB/alpha only (depth={depth}, color={color}, "
            f"interlace={interlace}); install pillow for the rest"
        )
    channels = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG IDAT length mismatch")
    return width, height, channels, _png_unfilter(raw, height, stride, channels)


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Dependency-free PNG writer (filter 0 rows, one zlib stream) —
    the counterpart of :func:`decode_png` for writing thumbnails /
    fixtures from containers without PIL."""
    import struct as _struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(t: bytes, d: bytes) -> bytes:
        return (_struct.pack(">I", len(d)) + t + d
                + _struct.pack(">I", zlib.crc32(t + d)))

    ihdr = _struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride:(y + 1) * stride] for y in range(height)
    )
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def decode_real_image(blob: bytes) -> tuple[int, int, int, bytes]:
    """Real-codec path: decode PNG/JPEG/WebP/... bytes into the same
    (width, height, channels, pixels) shape as the fake codec, so the
    downstream operators are codec-agnostic. PIL when available; PNG
    and baseline JPEG additionally decode through the dependency-free
    fallbacks (:func:`decode_png`; operators.jpeg_codec.decode_jpeg),
    so both real-codec branches execute (and are tested,
    tests/test_multimodal.py) even in containers without pillow.
    Raises NotImplementedError only for formats neither fallback
    covers (WebP/TIFF/...; arithmetic-coded JPEG) in a
    PIL-less runtime."""
    try:
        import PIL.Image
    except ImportError as exc:
        if blob[:8] == _PNG_SIG:
            return decode_png(blob)
        if blob[:2] == b"\xff\xd8":
            from breweries_data_pipeline_spark.operators.jpeg_codec import (
                decode_jpeg,
            )

            return decode_jpeg(blob)
        raise NotImplementedError(
            "decoding non-PNG/JPEG image bytes needs PIL (pillow), not "
            "present in this container; PNG and baseline JPEG decode via "
            "the stdlib fallbacks"
        ) from exc
    import io

    with PIL.Image.open(io.BytesIO(blob)) as img:
        img.load()
        return img.width, img.height, len(img.getbands()), img.tobytes()


def decode_image(blob: bytes) -> tuple[int, int, int, bytes]:
    """Codec dispatch: FAKEIMG1 blobs take the no-deps path, anything
    else the PIL path — one entry point for both synthetic fixtures
    and real image bytes."""
    if blob[: len(FAKE_MAGIC)] == FAKE_MAGIC:
        return decode_fake_image(blob)
    return decode_real_image(blob)


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.LongType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("channels", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def media_from_ids(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Materialize a media table (media_id, kind, blob) from an id
    column via mapInPandas — the binary column is born executor-side,
    never on the driver."""

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "image",
                    "blob": [encode_fake_image(int(i)) for i in ids],
                }
            )

    return _ensure_parallelism(ids_df.select(id_col)).mapInPandas(gen, MEDIA_SCHEMA)


def decode_dimensions(media: DataFrame) -> DataFrame:
    """Decode blob headers -> typed metadata (media_id, width, height,
    channels, n_bytes). Narrow mapInPandas; blobs stay executor-side."""

    def dec(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                w, h, c, _ = decode_image(bytes(blob))
                rows.append((int(mid), w, h, c, len(blob)))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "channels", "n_bytes"]
            )

    return media.select("media_id", "blob").mapInPandas(dec, DECODED_SCHEMA)


def png_media_from_ids(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Materialize a table of REAL PNG blobs (media_id, kind, blob)
    from an id column — same executor-side-birth shape as
    :func:`media_from_ids` but through the real codec
    (:func:`encode_png`): dimensions derive from the id, pixels are a
    constant id-derived byte, so metadata AND pixel sums stay
    closed-form oracle-checkable while the bytes crossing the Arrow
    boundary are genuine zlib-compressed PNG streams."""

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def png_for(i: int) -> bytes:
            w, h, c = 8 + i % 9, 8 + i % 7, 1 + i % 3
            return encode_png(w, h, c, bytes([i % 251]) * (w * h * c))

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "png",
                    "blob": [png_for(int(i)) for i in ids],
                }
            )

    return _ensure_parallelism(ids_df.select(id_col)).mapInPandas(gen, MEDIA_SCHEMA)


def jpeg_media_from_ids(
    ids_df: DataFrame,
    id_col: str = "doc_id",
    progressive: bool = False,
    restart_interval: int = 0,
) -> DataFrame:
    """Materialize a table of REAL baseline-JPEG blobs (media_id,
    kind, blob) from an id column — the JPEG twin of
    :func:`png_media_from_ids`, through operators.jpeg_codec. The
    bit-exact lane: flat GRAYSCALE images under the all-ones
    quantization table round-trip exactly (DC-only blocks, integer
    DC, zero ACs — see the codec docstring), so dimensions AND pixel
    sums stay closed-form oracle-checkable while the bytes crossing
    the Arrow boundary are genuine entropy-coded JFIF streams.
    ``progressive=True`` emits SOF2 multi-scan streams instead —
    the flat lane is lossless through that path too (progressive and
    baseline code identical quantized coefficients).
    ``restart_interval>0`` adds a DRI segment and real RSTm markers
    every that-many MCUs (DC predictors / EOB runs reset per segment);
    a restart stream codes the same coefficients as its restart-free
    twin, so the closed form survives unchanged."""

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from breweries_data_pipeline_spark.operators.jpeg_codec import (
            Q_FLAT,
            encode_jpeg,
        )

        def jpeg_for(i: int) -> bytes:
            w, h = 8 + i % 9, 8 + i % 7
            return encode_jpeg(
                w, h, 1, bytes([i % 251]) * (w * h), qtable=Q_FLAT,
                progressive=progressive,
                restart_interval=restart_interval,
            )

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "jpeg",
                    "blob": [jpeg_for(int(i)) for i in ids],
                }
            )

    return _ensure_parallelism(ids_df.select(id_col)).mapInPandas(gen, MEDIA_SCHEMA)


PNG_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.LongType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("channels", T.LongType(), False),
        T.StructField("pixel_sum", T.LongType(), False),
    ]
)


def decode_png_pixels(media: DataFrame) -> DataFrame:
    """Full real-codec decode (:func:`decode_real_image` — PIL when
    present, stdlib PNG fallback otherwise) -> typed metadata plus the
    exact pixel-byte sum. Narrow mapInPandas; blobs and pixels stay
    executor-side — only 5 longs per image cross any exchange."""

    def dec(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                w, h, c, pixels = decode_real_image(bytes(blob))
                s = int(np.frombuffer(pixels, dtype=np.uint8).sum())
                rows.append((int(mid), w, h, c, s))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "channels", "pixel_sum"],
            )

    return media.select("media_id", "blob").mapInPandas(dec, PNG_DECODED_SCHEMA)


# codec-agnostic name: the kernel dispatches on the blob's own magic
# (decode_real_image), so the same operator decodes the JPEG fixtures
decode_media_pixels = decode_png_pixels


def image_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Per-blob feature vector (byte-histogram moments over ``dim``
    payload stripes) -> array<float>. Stands in for an embedding model
    forward pass; identical Spark shape (binary in, vector out)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("features", T.ArrayType(T.FloatType()), False),
        ]
    )

    def feats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, vecs = [], []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                _, _, _, pixels = decode_image(bytes(blob))
                arr = np.frombuffer(pixels, dtype=np.uint8)
                stripes = np.array_split(arr, dim)
                vecs.append(
                    np.array(
                        [s.mean() / 255.0 if len(s) else 0.0 for s in stripes],
                        dtype=np.float32,
                    )
                )
                ids.append(int(mid))
            yield pd.DataFrame({"media_id": ids, "features": vecs})

    return media.select("media_id", "blob").mapInPandas(feats, out_schema)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Re-encode every blob at (width, height): nearest-neighbor
    sampling over the fake payload — the plumbing (binary in, binary
    out, metadata updated) is what a real resize shares."""

    def rs(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, kinds, blobs = [], [], []
            for mid, kind, blob in zip(pdf["media_id"], pdf["kind"], pdf["blob"]):
                w, h, c, pixels = decode_image(bytes(blob))
                out = bytearray(pack_header(width, height, c))
                for y in range(height):
                    sy = min(h - 1, y * h // height)
                    for x in range(width):
                        sx = min(w - 1, x * w // width)
                        base = (sy * w + sx) * c
                        out += pixels[base: base + c]
                ids.append(int(mid))
                kinds.append(kind)
                blobs.append(bytes(out))
            yield pd.DataFrame({"media_id": ids, "kind": kinds, "blob": blobs})

    return media.select("media_id", "kind", "blob").mapInPandas(rs, MEDIA_SCHEMA)


def frame_sample_offsets(
    duration_ms_col: str = "duration_ms", every_ms: int = 1000
) -> Column:
    """Video-style frame sampling as a pure column expression:
    sequence of sample timestamps (ms) for a clip of the given
    duration — JVM-side, no UDF."""
    return F.sequence(
        F.lit(0), F.col(duration_ms_col).cast("long"), F.lit(every_ms).cast("long")
    )


def image_ahash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) per blob -> (media_id, ahash_hi,
    ahash_lo): 64 evenly-strided payload samples, each sample's bit set
    iff it exceeds the 64-sample mean, packed big-endian into two
    32-bit halves (two longs, so no signed-64 edge cases cross
    engines). This is the image analog of the text md5 fingerprint:
    byte-identical *and* lightly re-encoded copies collide, so grouping
    by the hash is the candidate generator for image dedup — a narrow
    Arrow-batched pass, zero shuffle, ~16 bytes of hash state per blob
    at any corpus size. The mean comparison is exact integer arithmetic
    (sample*64 > total), never a float mean, so the DuckDB oracle can
    replay every bit from the FAKEIMG1 id-arithmetic."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("ahash_hi", T.LongType(), False),
            T.StructField("ahash_lo", T.LongType(), False),
        ]
    )

    def ah(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, his, los = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                _, _, _, pixels = decode_image(bytes(blob))
                arr = np.frombuffer(pixels, dtype=np.uint8).astype(np.int64)
                n = len(arr)
                idx = (np.arange(64, dtype=np.int64) * n) // 64
                samples = arr[idx]
                total = int(samples.sum())
                bits = (samples * 64 > total).astype(np.int64)
                weights = 1 << (31 - np.arange(32, dtype=np.int64))
                his.append(int((bits[:32] * weights).sum()))
                los.append(int((bits[32:] * weights).sum()))
                ids.append(int(mid))
            yield pd.DataFrame(
                {"media_id": ids, "ahash_hi": his, "ahash_lo": los}
            )

    return media.select("media_id", "blob").mapInPandas(ah, out_schema)


FAKE_AUDIO_MAGIC = b"FAKEAUD1"
_AUDIO_HEADER = struct.Struct(">8sII")  # magic, sample_rate, n_samples


def encode_fake_audio(media_id: int, sample_rate: int = 16000) -> bytes:
    """Deterministic fake mono waveform (8-bit unsigned PCM):
    header + id-seeded payload, same LCG byte generator as the image
    codec so oracles replay it with pure integer arithmetic. Length
    varies with the id (0.25-0.6 s at 16 kHz)."""
    n = 4000 + (media_id % 37) * 160
    seed = (media_id * 2654435761) & 0xFFFFFFFF
    payload = _lcg_payload(seed, n)
    return struct.pack(">8sII", FAKE_AUDIO_MAGIC, sample_rate, n) + payload


def decode_fake_audio(blob: bytes) -> tuple[int, int, bytes]:
    """Parse a fake audio blob -> (sample_rate, n_samples, pcm)."""
    magic, rate, n = _AUDIO_HEADER.unpack_from(blob)
    if magic != FAKE_AUDIO_MAGIC:
        raise ValueError("not a FAKEAUD1 blob")
    return rate, n, blob[_AUDIO_HEADER.size:]


def audio_from_ids(
    ids_df: DataFrame, id_col: str = "doc_id", seed_col: str | None = None
) -> DataFrame:
    """Materialize an audio media table (media_id, kind, blob) from an
    id column — blobs born executor-side via mapInPandas, as with
    images. ``seed_col`` (defaults to the id) decouples waveform
    CONTENT from row identity, so a dedup test corpus can carry many
    media ids sharing one waveform — the mirror-upload regime."""

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            seeds = pdf[seed_col or id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "audio",
                    "blob": [encode_fake_audio(int(s)) for s in seeds],
                }
            )

    cols = [id_col] if seed_col is None else [id_col, seed_col]
    return _ensure_parallelism(ids_df.select(*cols)).mapInPandas(gen, MEDIA_SCHEMA)


FRAME_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("energy", T.LongType(), False),
    ]
)


def frame_energy(media: DataFrame, frame_samples: int = 400) -> DataFrame:
    """Per-frame signal energy over non-overlapping windows (25 ms at
    16 kHz with the default) — the VAD / silence-trim primitive of an
    audio ingest pipeline, and the audio analog of image stripe
    features: blob in, typed per-window scalars out, one narrow
    Arrow-batched pass. Energy is the EXACT integer sum of squared
    zero-centered samples (v - 128)^2 — no float accumulates, so the
    output is bit-stable and oracle-replayable. The final partial
    frame is included with its true sample count so downstream
    normalization (energy / n_samples) stays honest."""

    def fe(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            mid_parts, frame_parts, count_parts, energy_parts = [], [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                _, n, pcm = decode_fake_audio(bytes(blob))
                arr = np.frombuffer(pcm, dtype=np.uint8).astype(np.int64) - 128
                sq = arr * arr
                # vectorized per-frame reduction: one reduceat per blob
                # instead of a Python loop per frame (the loop was the
                # bottleneck at 10x scale: 47s -> sub-10s for the same
                # 250M samples)
                starts = np.arange(0, len(sq), frame_samples, dtype=np.int64)
                energies = np.add.reduceat(sq, starts)
                counts = np.minimum(starts + frame_samples, len(sq)) - starts
                mid_parts.append(np.full(len(starts), int(mid), dtype=np.int64))
                frame_parts.append(starts // frame_samples)
                count_parts.append(counts)
                energy_parts.append(energies)
            yield pd.DataFrame(
                {
                    "media_id": np.concatenate(mid_parts),
                    "frame": np.concatenate(frame_parts),
                    "n_samples": np.concatenate(count_parts),
                    "energy": np.concatenate(energy_parts),
                }
            )

    return media.select("media_id", "blob").mapInPandas(fe, FRAME_ENERGY_SCHEMA)
