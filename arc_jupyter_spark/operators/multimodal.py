"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with Arrow-batched decode/feature plumbing.

Metadata decode is REAL for PNG/GIF/BMP/JPEG and RIFF/WAV payloads —
pure-stdlib header parsers in ``media_codecs.py``, no PIL required —
and ``resize_images`` has a real pure-Python path for 8-bit PNG.
Payloads in formats beyond those (webp, mp3, …) use PIL when
installed; otherwise the deterministic digest FAKES take over, which
keeps the synthetic-corpus oracles exact and the Arrow plumbing
(schemas, mapInPandas batch shape, partition sizing) fully exercised.
Video demux (ffmpeg/pyav) remains honestly stubbed behind
``DecoderUnavailable``.

Scale notes: binary payloads ride in parquet/binaryFile splits; decode
is a ``mapInPandas`` map-only stage (no shuffle), so it scales linearly
with executors. Keep ``spark.sql.files.maxPartitionBytes`` modest when
payloads are large so a task's Arrow batches fit in memory; use
``maxRecordsPerBatch`` to bound per-batch footprint.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("format", T.StringType(), True),
    ]
)

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("channels", T.IntegerType(), True),
    ]
)


class DecoderUnavailable(NotImplementedError):
    """Raised when a real media decoder is required but not installed."""


def _try_import_pil():
    try:
        from PIL import Image  # noqa: F401

        return Image
    except ImportError:
        return None


def _decode_image_stub(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic fake decode: metadata derived from a content digest.

    Real path: ``PIL.Image.open(io.BytesIO(payload))``. The fake keeps
    tests deterministic and exercises the full Arrow round-trip.
    """
    # hashlib in the Python worker; m01's oracle mirrors it as md5(text)
    digest = hashlib.md5(payload).digest()
    width = 64 + struct.unpack("<H", digest[0:2])[0] % 1024
    height = 64 + struct.unpack("<H", digest[2:4])[0] % 1024
    return width, height, 3, "fake"


_AUDIO_RATES = (8000, 16000, 22050, 44100)


def _decode_audio_stub(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake audio decode (sample_rate, n_samples, channels).

    Real path: ``soundfile.read`` / ffprobe. Digest-derived like
    ``_decode_image_stub`` so the DuckDB oracle can reproduce it with
    hex-digit arithmetic (m04).
    """
    # hashlib in the Python worker; m04's oracle mirrors it as md5(text)
    digest = hashlib.md5(payload).digest()
    sample_rate = _AUDIO_RATES[digest[0] % 4]
    n_samples = 1000 + struct.unpack("<I", digest[4:8])[0] % 160000
    channels = 1 + digest[8] % 2
    return sample_rate, n_samples, channels


def extract_audio_metadata(
    df: DataFrame, binary_col: str = "value", out_col: str = "audio_meta"
) -> DataFrame:
    """Append decoded audio metadata struct via Arrow-batched decode.

    Map-only ``mapInPandas`` — no shuffle; scales linearly with
    executors exactly like ``extract_image_metadata``.
    """
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, AUDIO_META_SCHEMA)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from arc_jupyter_spark.operators.media_codecs import decode_wav_header

        for pdf in batches:
            metas = []
            for payload in pdf[binary_col]:
                data = bytes(payload or b"")
                # REAL decode first (stdlib RIFF/WAVE parse); the
                # digest stub remains the path for non-audio payloads
                # (and the oracle channel for the synthetic corpus)
                real = decode_wav_header(data)
                rate, n, ch = real if real is not None else _decode_audio_stub(data)
                metas.append(
                    {"sample_rate": rate, "n_samples": n, "channels": ch}
                )
            yield pdf.assign(**{out_col: metas})

    return df.mapInPandas(run, schema=schema)


def extract_image_metadata(
    df: DataFrame, binary_col: str = "value", out_col: str = "image_meta"
) -> DataFrame:
    """Append decoded image metadata struct via Arrow-batched decode."""
    pil = _try_import_pil()
    # fresh StructType — StructType.add mutates a possibly-cached df.schema
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, IMAGE_META_SCHEMA)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from arc_jupyter_spark.operators.media_codecs import (
            decode_image_header,
        )

        for pdf in batches:
            metas = []
            for payload in pdf[binary_col]:
                data = bytes(payload) if payload is not None else b""
                # REAL decode first: pure-stdlib PNG/GIF/BMP/JPEG
                # header parse (no PIL needed); PIL — when installed —
                # covers the remaining formats; the digest stub stays
                # the path for unrecognized payloads (and the oracle
                # channel for the synthetic text-as-binary corpus)
                real = decode_image_header(data)
                if real is not None:
                    w, h, c, fmt = real
                    metas.append(
                        {"width": w, "height": h, "channels": c, "format": fmt}
                    )
                    continue
                if pil is not None:
                    try:
                        with pil.open(io.BytesIO(data)) as img:
                            metas.append(
                                {
                                    "width": img.width,
                                    "height": img.height,
                                    "channels": len(img.getbands()),
                                    "format": (img.format or "unknown").lower(),
                                }
                            )
                            continue
                    except Exception:
                        pass
                w, h, c, fmt = _decode_image_stub(data)
                metas.append({"width": w, "height": h, "channels": c, "format": fmt})
            yield pdf.assign(**{out_col: metas})

    return df.mapInPandas(run, schema=schema)


def image_features_stub(
    df: DataFrame, binary_col: str = "value", out_col: str = "features", dim: int = 8
) -> DataFrame:
    """Deterministic fake feature vector (md5-seeded) per payload.

    Stands in for a real embedding model; proves the
    binary → array<float> plumbing end to end.
    """
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[binary_col]:
                # hashlib in the Python worker; m02's oracle mirrors it as md5(text)
                digest = hashlib.md5(bytes(payload or b"")).digest()
                feats.append(
                    [struct.unpack("<H", digest[2 * i:2 * i + 2])[0] / 65535.0 for i in range(dim)]
                )
            yield pdf.assign(**{out_col: feats})

    return df.mapInPandas(run, schema=schema)


def sample_frames_stub(
    df: DataFrame,
    binary_col: str = "value",
    every_n: int = 10,
    out_col: str = "frames",
) -> DataFrame:
    """Video frame sampling plumbing (one row in → N frame rows out).

    Real path: ffmpeg/pyav demux. Stub emits deterministic fake frame
    digests; shows the explode-shaped mapInPandas (1→N) pattern.
    """
    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("frame_index", T.IntegerType(), False),
            T.StructField("frame_digest", T.StringType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row[binary_col] or b"")
                n_frames = max(1, len(payload) // max(every_n, 1) % 8)
                for i in range(n_frames):
                    out = dict(row)
                    out["frame_index"] = i
                    # hashlib in the Python worker; oracles mirror md5(text || i)
                    out["frame_digest"] = hashlib.md5(payload + str(i).encode()).hexdigest()
                    rows.append(out)
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return df.mapInPandas(run, schema=schema)


def synthesize_png(
    df: DataFrame, id_col: str, binary_col: str = "value"
) -> DataFrame:
    """Append a deterministic REAL RGB PNG per row (fixture
    synthesizer for pixel-exact pipeline tests): width = 4 + id % 5,
    height = 3 + id % 4, pixel byte k = (id*7 + 13*k) % 256. The
    payloads are standards-compliant files (zlib IDAT, CRCs), so any
    decoder — this repo's pure-stdlib one or PIL — round-trips them;
    an oracle can reproduce the pixel arithmetic algebraically
    without decoding anything. Arrow-batched, map-only."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(binary_col, T.BinaryType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from arc_jupyter_spark.operators.media_codecs import encode_png

        for pdf in batches:
            payloads = []
            for rid in pdf[id_col]:
                i = int(rid)
                w, h = 4 + i % 5, 3 + i % 4
                rgb = bytes((i * 7 + 13 * k) % 256 for k in range(w * h * 3))
                payloads.append(encode_png(w, h, rgb))
            yield pdf.assign(**{binary_col: payloads})

    return df.mapInPandas(run, schema=schema)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
    ]
)


def image_pixel_stats(
    df: DataFrame, binary_col: str = "value", out_col: str = "pixel_stats"
) -> DataFrame:
    """Append REAL decoded pixel statistics (width, height, channels,
    exact byte sum) via the pure-stdlib PNG pixel decoder — all five
    RFC 2083 filter types unfiltered, zlib inflated. Payloads the
    decoder does not recognize yield a null struct (callers that
    require decodability should filter on it). Arrow-batched,
    map-only — the 100 TB shape for media feature extraction."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, PIXEL_STATS_SCHEMA)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from arc_jupyter_spark.operators.media_codecs import (
            decode_png_pixels,
        )

        for pdf in batches:
            stats = []
            for payload in pdf[binary_col]:
                data = bytes(payload) if payload is not None else b""
                out = decode_png_pixels(data)
                if out is None:
                    stats.append(None)
                    continue
                w, h, c, px = out
                import numpy as np

                stats.append(
                    {
                        "width": w,
                        "height": h,
                        "channels": c,
                        # exact byte sum, vectorized (int64 accumulator)
                        "pixel_sum": int(
                            np.frombuffer(px, dtype=np.uint8)
                            .sum(dtype=np.int64)
                        ),
                    }
                )
            yield pdf.assign(**{out_col: stats})

    return df.mapInPandas(run, schema=schema)


def resize_images(df: DataFrame, width: int, height: int, binary_col: str = "value") -> DataFrame:
    """Real image resize. PIL when installed (all formats, fast);
    otherwise the pure-stdlib PNG pixel path (``media_codecs.resize_png``,
    8-bit non-paletted PNG only). Payloads neither path can decode
    raise ``DecoderUnavailable`` AT EXECUTION — the operator itself
    always constructs, since PNG is always supported."""
    pil = _try_import_pil()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from arc_jupyter_spark.operators.media_codecs import resize_png

        for pdf in batches:
            out = []
            for payload in pdf[binary_col]:
                data = bytes(payload)
                if pil is not None:
                    try:
                        with pil.open(io.BytesIO(data)) as img:
                            buf = io.BytesIO()
                            img.resize((width, height)).save(
                                buf, format=img.format or "PNG"
                            )
                            out.append(buf.getvalue())
                            continue
                    except Exception:  # noqa: BLE001 - fall to stdlib path
                        pass
                resized = resize_png(data, width, height)
                if resized is None:
                    raise DecoderUnavailable(
                        "payload is not an 8-bit PNG and Pillow is not "
                        "installed; install Pillow for other formats"
                    )
                out.append(resized)
            yield pdf.assign(**{binary_col: out})

    return df.mapInPandas(run, schema=df.schema)


def phash_near_dup(
    df: DataFrame,
    id_col: str,
    phash_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Hamming-distance near-duplicate pairs over a 64-bit perceptual
    hash → ``[id_a, id_b, hamming]`` (id_a < id_b).

    Multi-index hashing (Norouzi/Punjani/Fleet, public): split the
    64-bit hash into *bands* equal slices; two hashes within Hamming
    distance ``bands - 1`` MUST agree exactly on at least one band
    (pigeonhole), so banding with ``bands = max_hamming + 1`` is a
    lossless candidate filter. Candidates are verified with
    ``bit_count(a XOR b) <= max_hamming``.

    Scale shape — the image analogue of MinHash LSH (`dedup.py`):
    band values are the shuffle key (8 bytes + id, never the image
    payload); within-bucket pairing is the only quadratic step and
    ``max_bucket_size`` caps degenerate buckets (e.g. the all-black
    thumbnail); the verify step is one integer XOR/POPCNT per
    candidate inside codegen. No Python anywhere.
    """
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee recall at Hamming "
            f"{max_hamming}; need bands >= max_hamming + 1"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    sliced = df.select(
        F.col(id_col).alias("_id"),
        F.col(phash_col).cast("bigint").alias("_ph"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"shiftright(CAST({phash_col} AS BIGINT), {i * width})"
                            f" & {mask}"
                        ).alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("_id", "_ph", "b.band", "b.val")
    # pin the capped band table: both sides of the pair self-join read
    # it, and without the checkpoint the slice+window-count subtree is
    # evaluated once per side (the plan showed 14 scans for m08)
    from arc_jupyter_spark.checkpoint import materialize_lazy

    counted = sliced.withColumn(
        "_bn",
        F.count(F.lit(1)).over(Window.partitionBy("band", "val")),
    ).where(F.col("_bn") <= max_bucket_size).transform(materialize_lazy)
    a = counted.select(
        F.col("band"), F.col("val"), F.col("_id").alias("id_a"), F.col("_ph").alias("ph_a")
    )
    b = counted.select(
        F.col("band"), F.col("val"), F.col("_id").alias("id_b"), F.col("_ph").alias("ph_b")
    )
    pairs = (
        a.join(b, ["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ph_a", "ph_b")
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.expr("ph_a ^ ph_b")).cast("int").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def synthesize_wav(
    df: DataFrame, id_col: str, binary_col: str = "value"
) -> DataFrame:
    """Append a deterministic REAL 16-bit PCM WAV per row (fixture
    synthesizer for sample-exact audio pipeline tests): mono, 8 kHz,
    ``n = 192 + (id % 4) * 64`` samples, sample
    ``s_k = ((id * 31 + 7 * k * k) % 4096) - 2048``. Standards-
    compliant RIFF files (stdlib ``wave``), so any decoder round-trips
    them, and an oracle reproduces the sample arithmetic algebraically
    without decoding. Arrow-batched, map-only."""
    import array

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(binary_col, T.BinaryType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        from arc_jupyter_spark.operators.media_codecs import encode_wav

        for pdf in batches:
            payloads = []
            for rid in pdf[id_col]:
                i = int(rid)
                n = 192 + (i % 4) * 64
                pcm = array.array(
                    "h", (((i * 31 + 7 * k * k) % 4096) - 2048
                          for k in range(n))
                )
                if sys.byteorder == "big":
                    pcm.byteswap()
                payloads.append(encode_wav(8000, 1, pcm.tobytes()))
            yield pdf.assign(**{binary_col: payloads})

    return df.mapInPandas(run, schema=schema)


AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_voiced", T.LongType()),
        T.StructField("energy_sum", T.LongType()),
    ]
)


def audio_energy_stats(
    df: DataFrame,
    binary_col: str = "value",
    out_col: str = "audio_stats",
    frame: int = 64,
    threshold: int = 64 * (1 << 20),
) -> DataFrame:
    """Append REAL decoded audio energy statistics — the classic
    frame-energy voice-activity detector over actual PCM bytes: the
    WAV payload is fully decoded (stdlib, 16-bit PCM), split into
    ``frame``-sample frames (tail partials dropped), and a frame is
    "voiced" when its exact integer energy ``Σ s²`` reaches
    ``threshold``. ``energy_sum`` is the exact Σ s² over full frames
    — integer, so oracles can recompute it algebraically. Payloads
    that don't decode yield a null struct. Arrow-batched, map-only —
    the same 100 TB shape as image feature extraction: no shuffle,
    scales with input bytes."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, AUDIO_ENERGY_SCHEMA)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized per guide §4.2: frame energies as one reshaped
        # int64 square-sum instead of a per-sample Python loop
        # (numbers identical — int16² ≤ 2³⁰, ×64/frame ≤ 2³⁶ per
        # frame, summed in int64 exactly like the old Python ints for
        # any audio shorter than ~2⁵⁷ total squared magnitude, the
        # same bound the BIGINT oracle column carries)
        import numpy as np

        from arc_jupyter_spark.operators.media_codecs import (
            decode_wav_pcm_np,
        )

        for pdf in batches:
            out = []
            for payload in pdf[binary_col]:
                dec = decode_wav_pcm_np(bytes(payload)) \
                    if payload is not None else None
                if dec is None:
                    out.append(None)
                    continue
                rate, channels, samples = dec
                n_frames = len(samples) // frame
                if n_frames:
                    fr = (
                        samples[: n_frames * frame]
                        .astype(np.int64)
                        .reshape(n_frames, frame)
                    )
                    e = (fr * fr).sum(axis=1)
                    energy_sum = int(e.sum())
                    n_voiced = int((e >= threshold).sum())
                else:
                    energy_sum = 0
                    n_voiced = 0
                out.append({
                    "sample_rate": rate,
                    "n_samples": len(samples),
                    "n_frames": n_frames,
                    "n_voiced": n_voiced,
                    "energy_sum": energy_sum,
                })
            yield pdf.assign(**{out_col: out})

    return df.mapInPandas(run, schema=schema)


def png_resize_roundtrip_stats(
    df: DataFrame,
    binary_col: str = "value",
    width: int = 3,
    height: int = 2,
    out_col: str = "resized_stats",
) -> DataFrame:
    """Resize each PNG with the PURE-STDLIB nearest-neighbor path
    (``media_codecs.resize_png``) and fully re-decode the RESIZED
    payload, returning its exact pixel byte sum — one Arrow pass for
    decode → resize → re-encode → re-decode.

    Deliberately pinned to the stdlib resampler (unlike
    :func:`resize_images`, which prefers PIL when installed): PIL's
    default resampling is bicubic and even its NEAREST grid differs
    at edges, so an oracle-checked round trip must name one exact
    kernel. ``sy = min(h-1, y*h // new_h)`` / ``sx = min(w-1,
    x*w // new_w)`` is that kernel — reproducible algebraically
    without decoding anything. Payloads that don't decode yield a
    null struct. Map-only."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, PIXEL_STATS_SCHEMA)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from arc_jupyter_spark.operators.media_codecs import (
            decode_png_pixels,
            resize_png,
        )

        for pdf in batches:
            out = []
            for payload in pdf[binary_col]:
                resized = resize_png(bytes(payload), width, height) \
                    if payload is not None else None
                dec = decode_png_pixels(resized) if resized else None
                if dec is None:
                    out.append(None)
                    continue
                w, h, ch, pix = dec
                import numpy as np

                out.append({
                    "width": w, "height": h, "channels": ch,
                    "pixel_sum": int(
                        np.frombuffer(pix, dtype=np.uint8)
                        .sum(dtype=np.int64)
                    ),
                })
            yield pdf.assign(**{out_col: out})

    return df.mapInPandas(run, schema=schema)


AUDIO_RESAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("rate_out", T.IntegerType()),
        T.StructField("n_out", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("energy_out", T.LongType()),
    ]
)


def audio_resample_stats(
    df: DataFrame,
    binary_col: str = "value",
    out_col: str = "resample_stats",
    factor: int = 2,
) -> DataFrame:
    """Append REAL audio downsample round-trip statistics: the WAV
    payload is decoded (stdlib 16-bit PCM), decimated ``factor``:1 by
    exact integer block means (``r_j = floor(mean(s[j*f .. j*f+f-1]))``
    — Python floor division, tail partial blocks dropped), RE-ENCODED
    as a standards-compliant WAV at ``rate/factor``, and re-decoded;
    the reported stats come from the RE-DECODED bytes, so a flipped
    bit anywhere in decode → resample → encode → decode breaks them.

    ``checksum = Σ (j+1)·r_j`` is position-weighted (a sample-order
    bug cannot cancel), ``energy_out = Σ r_j²`` — both exact BIGINTs
    an oracle can replay algebraically from the synth formula without
    touching WAV bytes. Arrow-batched ``mapInPandas``, map-only: the
    100 TB shape is pure per-payload compute that scales with input
    bytes, no shuffle. Payloads that don't decode yield a null struct.
    """
    if factor < 1:
        raise ValueError("audio_resample_stats needs factor >= 1")

    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, AUDIO_RESAMPLE_SCHEMA)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized per guide §4.2: block means, checksum and energy
        # as numpy int64 reductions instead of per-sample Python
        # loops. Identical values: numpy's // floors exactly like
        # Python's on int64; a block mean of int16 samples always
        # fits int16, so the "<i2" cast cannot wrap; the int64
        # checksum/energy sums carry the same BIGINT bound the oracle
        # columns do.
        import numpy as np

        from arc_jupyter_spark.operators.media_codecs import (
            decode_wav_pcm_np,
            encode_wav,
        )

        for pdf in batches:
            out = []
            for payload in pdf[binary_col]:
                dec = decode_wav_pcm_np(bytes(payload)) \
                    if payload is not None else None
                if dec is None:
                    out.append(None)
                    continue
                rate, _channels, samples = dec
                n_out = len(samples) // factor
                res = (
                    samples[: n_out * factor]
                    .astype(np.int64)
                    .reshape(n_out, factor)
                    .sum(axis=1)
                    // factor
                )
                redec = decode_wav_pcm_np(
                    encode_wav(
                        rate // factor, 1,
                        res.astype("<i2").tobytes(),
                    )
                )
                if redec is None:
                    out.append(None)
                    continue
                r_rate, _rc, r_samples = redec
                r = r_samples.astype(np.int64)
                out.append({
                    "rate_out": r_rate,
                    "n_out": len(r_samples),
                    "checksum": int(
                        np.arange(1, len(r) + 1, dtype=np.int64) @ r
                    ),
                    "energy_out": int(r @ r),
                })
            yield pdf.assign(**{out_col: out})

    return df.mapInPandas(run, schema=schema)


TILE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("q00_sum", T.LongType()),
        T.StructField("q01_sum", T.LongType()),
        T.StructField("q10_sum", T.LongType()),
        T.StructField("q11_sum", T.LongType()),
    ]
)


def image_tile_stats(
    df: DataFrame, binary_col: str = "value", out_col: str = "tile_stats"
) -> DataFrame:
    """Append REAL per-tile decoded statistics: the image is decoded
    with the pure-stdlib PNG pixel decoder and split into a 2×2
    quadrant grid (left/right at ``x < w // 2``, top/bottom at
    ``y < h // 2`` — the odd row/column joins the bottom/right tile);
    each quadrant reports its exact byte sum over all channels. The
    patch-feature primitive of vision preprocessing (ViT patchify,
    saliency crops) with the same exactness contract as
    :func:`image_pixel_stats`: an oracle can recompute every quadrant
    algebraically from the synthesizer's pixel formula, so one wrong
    stride or swapped coordinate anywhere in the
    encode → Arrow → inflate → unfilter → tile-index path breaks the
    match. Arrow-batched, map-only."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, TILE_STATS_SCHEMA)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from arc_jupyter_spark.operators.media_codecs import (
            decode_png_pixels,
        )

        for pdf in batches:
            stats = []
            for payload in pdf[binary_col]:
                data = bytes(payload) if payload is not None else b""
                out = decode_png_pixels(data)
                if out is None:
                    stats.append(None)
                    continue
                w, h, c, px = out
                # vectorized per guide §4.2: four quadrant slice-sums
                # over the (h, w, c) view replace the per-byte Python
                # div/mod loop — identical integer sums (uint8 values
                # accumulated in int64)
                import numpy as np

                arr = (
                    np.frombuffer(px, dtype=np.uint8)
                    .reshape(h, w, c)
                    .astype(np.int64)
                )
                half_w, half_h = w // 2, h // 2
                sums = [
                    int(arr[:half_h, :half_w].sum()),
                    int(arr[:half_h, half_w:].sum()),
                    int(arr[half_h:, :half_w].sum()),
                    int(arr[half_h:, half_w:].sum()),
                ]
                stats.append(
                    {
                        "width": w,
                        "height": h,
                        "q00_sum": sums[0],
                        "q01_sum": sums[1],
                        "q10_sum": sums[2],
                        "q11_sum": sums[3],
                    }
                )
            yield pdf.assign(**{out_col: stats})

    return df.mapInPandas(run, schema=schema)
