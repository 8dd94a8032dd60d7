"""Multimodal column plumbing (SURVEY §2.K).

Images/audio/video are opaque ``binary`` payload columns with a typed
metadata struct riding alongside. The Spark-side machinery — schema,
partition-preserving mapInPandas, Arrow batch shapes — is real and tested.
Media decode (``decode_media``) is REAL for the uncompressed Netpbm
family (P6/P5 parsed byte-for-byte in pure numpy, fed by a deterministic
P6 renderer and oracle-checked end-to-end via ext_multimodal_decode);
compressed formats (JPEG/PNG/audio/video) would need PIL/torchaudio/pyav
— absent in this container — and raise NotImplementedError, with a
deterministic fake feature extractor keeping those pipelines exercisable
and oracle-checkable (payloads are UTF-8 text bytes there, so byte
arithmetic is reproducible in SQL).

At scale: mapInPandas streams Arrow batches — constant memory per task,
no driver collection; binary payloads stay columnar in parquet and are
never shuffled unless a downstream op requires it.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("fake_embedding", T.ArrayType(T.DoubleType()), False),
    ]
)

_EMB_DIM = 8
_MOD = 997


def attach_binary_payload(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Model documents as media blobs: opaque binary payload + metadata
    struct (the pattern a real image/audio table would use)."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(F.col(text_col)).alias("declared_bytes"),
        ).alias("meta"),
    )


def decode_media(payload: bytes, mime: str):
    """Decode a media payload to a numpy pixel array.

    REAL for the Netpbm family — ``image/x-portable-pixmap`` (P6, RGB)
    and ``image/x-portable-graymap`` (P5) are parsed byte-for-byte in
    pure numpy (header tokenizing incl. comments, maxval check, raw
    raster reshape), so the decode path is genuinely exercised and
    oracle-checked (queries/extensions.py:ext_multimodal_decode renders
    P6 bytes and validates the decoded channel means against a closed-
    form oracle). Compressed formats (JPEG/PNG/audio/video) would need
    PIL/torchaudio/pyav — not in this container — and still raise."""
    import numpy as np

    if mime in ("image/x-portable-pixmap", "image/x-portable-graymap"):
        # Netpbm header: magic, width, height, maxval as whitespace-
        # separated tokens; '#' starts a comment to end-of-line; the
        # raster begins after the single whitespace byte following maxval.
        tokens: list[bytes] = []
        i = 0
        while len(tokens) < 4:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if i < len(payload) and payload[i : i + 1] == b"#":
                while i < len(payload) and payload[i : i + 1] != b"\n":
                    i += 1
                continue
            start = i
            while i < len(payload) and not payload[i : i + 1].isspace():
                i += 1
            if start == i:
                raise ValueError("truncated Netpbm header")
            tokens.append(payload[start:i])
        i += 1  # exactly one whitespace byte separates maxval from raster
        magic, w, h, maxval = tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3])
        if maxval != 255:
            raise ValueError(f"unsupported Netpbm maxval {maxval}")
        channels = {b"P6": 3, b"P5": 1}.get(magic)
        if channels is None:
            raise ValueError(f"unsupported Netpbm magic {magic!r}")
        raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * channels, offset=i)
        return raster.reshape(h, w, channels)
    raise NotImplementedError(
        f"decoding {mime!r} requires media libraries (PIL/torchaudio/pyav) "
        "not present in this environment; Netpbm (P5/P6) decodes natively"
    )


def extract_fake_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches.

    Deterministic fake 'decode': byte count, additive checksum, and an
    8-dim pseudo-embedding derived from the checksum — stands in for a
    real encoder while exercising identical batch shapes and schema.
    """

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len)
            checksum = payloads.map(lambda b: sum(b) % 2_147_483_647)
            emb = checksum.map(
                lambda c: [((c * 31 + j) % _MOD) / float(_MOD) for j in range(_EMB_DIM)]
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": n_bytes.astype("int32"),
                    "checksum": checksum.astype("int64"),
                    "fake_embedding": emb,
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("orig_bytes", T.IntegerType(), False),
        T.StructField("resized_bytes", T.IntegerType(), False),
    ]
)


def resize_media(media: DataFrame, *, target_bytes: int = 64) -> DataFrame:
    """'Resize' stage over mapInPandas. A real deployment decodes and
    rescales pixels (PIL/opencv — not in this container, see
    decode_media); the deterministic fake keeps the Spark contract real:
    binary in -> smaller binary out, schema typed, Arrow-batched,
    partition-preserving (no shuffle)."""

    def batches(it):
        import pandas as pd

        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads.map(lambda b: bytes(b[:target_bytes])),
                    "orig_bytes": payloads.map(len).astype("int32"),
                    "resized_bytes": payloads.map(
                        lambda b: min(len(b), target_bytes)
                    ).astype("int32"),
                }
            )

    return media.mapInPandas(batches, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def sample_frames(media: DataFrame, *, n_frames: int = 4) -> DataFrame:
    """Frame-sampling stage: one input blob -> n output rows (video ->
    evenly-spaced frames). Row-expanding mapInPandas — the batch contract
    a real pyav-based sampler would use; the fake slices the payload into
    evenly-spaced chunks."""

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids, frames, nos = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                step = max(1, len(b) // n_frames)
                for j in range(n_frames):
                    ids.append(mid)
                    nos.append(j)
                    frames.append(b[j * step : j * step + step])
            yield pd.DataFrame({"media_id": ids, "frame_no": nos, "frame": frames})

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Real decode path: deterministic P6 rendering + numpy decode + stats
# ---------------------------------------------------------------------------

_IMG_W = _IMG_H = 8
# pixel value formula shared (textually) with the SQL oracle: channel c of
# pixel (x, y) in image `id` is (id*7 + x*3 + y*5 + c*11) % 256
_PIXEL = "({id} * 7 + {x} * 3 + {y} * 5 + {c} * 11) % 256"


def render_ppm_media(ids: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Render a deterministic 8x8 P6 (binary RGB) image per id — REAL
    PPM bytes (magic + dims + maxval header, raw raster), so downstream
    decode exercises an actual byte-level parser, while the pixel values
    stay closed-form reproducible for the SQL oracle."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        header = f"P6\n{_IMG_W} {_IMG_H}\n255\n".encode()
        y, x, c = np.mgrid[0:_IMG_H, 0:_IMG_W, 0:3]
        for pdf in it:
            payloads = [
                header + ((int(i) * 7 + x * 3 + y * 5 + c * 11) % 256).astype(np.uint8).tobytes()
                for i in pdf[id_col]
            ]
            yield pd.DataFrame(
                {"media_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )
    rendered = ids.select(F.col(id_col)).mapInPandas(batches, schema=out_schema)
    return rendered.withColumn(
        "meta",
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.length("payload").alias("declared_bytes"),
        ),
    )


CHANNEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("mean_r", T.DoubleType(), False),
        T.StructField("mean_g", T.DoubleType(), False),
        T.StructField("mean_b", T.DoubleType(), False),
    ]
)


def image_channel_stats(media: DataFrame) -> DataFrame:
    """mapInPandas over Arrow batches: decode each payload with the REAL
    Netpbm parser (decode_media) and emit per-channel means. Integer
    pixel sums stay exact in float64 at any summation order, so the
    mean is bit-identical to the oracle's closed-form AVG."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = {k: [] for k in ("media_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                px = decode_media(bytes(payload), meta["mime"])
                h, w, c = px.shape
                # c follows the decoder (3 for P6, 1 for P5); a graymap's
                # single mean broadcasts to all three output channels.
                means = px.reshape(-1, c).mean(axis=0)
                rows["media_id"].append(mid)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["mean_r"].append(float(means[0]))
                rows["mean_g"].append(float(means[1 % c]))
                rows["mean_b"].append(float(means[2 % c]))
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, schema=CHANNEL_STATS_SCHEMA)


def thumbnail_stats(media: DataFrame, *, stride: int = 2) -> DataFrame:
    """REAL thumbnailing: decode each Netpbm payload, nearest-neighbor
    subsample (every ``stride``-th pixel — output (x,y) = input
    (stride*x, stride*y)), and emit the thumbnail's channel means. The
    whole op is decode -> numpy strided view -> stats inside one
    partition-preserving mapInPandas."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = {k: [] for k in ("media_id", "thumb_w", "thumb_h", "mean_r", "mean_g", "mean_b")}
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                px = decode_media(bytes(payload), meta["mime"])
                thumb = px[::stride, ::stride, :]
                h, w, c = thumb.shape
                # channel count follows the decoder (3=P6, 1=P5); a
                # graymap's single mean broadcasts to all three outputs.
                means = thumb.reshape(-1, c).mean(axis=0)
                rows["media_id"].append(mid)
                rows["thumb_w"].append(w)
                rows["thumb_h"].append(h)
                rows["mean_r"].append(float(means[0]))
                rows["mean_g"].append(float(means[1 % c]))
                rows["mean_b"].append(float(means[2 % c]))
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("thumb_w", T.IntegerType(), False),
            T.StructField("thumb_h", T.IntegerType(), False),
            T.StructField("mean_r", T.DoubleType(), False),
            T.StructField("mean_g", T.DoubleType(), False),
            T.StructField("mean_b", T.DoubleType(), False),
        ]
    )
    return media.mapInPandas(batches, schema=schema)


# --- Real audio path: deterministic PCM WAV rendering + RIFF decode -------

_WAV_N = 64  # samples per rendered clip
# sample formula shared with the SQL oracle: s[n] = ((id*13 + n*7) % 2001) - 1000
_WAV_RATE = 8000


def _wav_container(samples) -> bytes:
    """Pack little-endian int16 samples into a REAL RIFF/WAVE container
    (RIFF header, fmt chunk, data chunk) — the ONE encoder both WAV
    renders share, so a container fix cannot diverge them."""
    import struct

    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _render_wav(ids: DataFrame, id_col: str, wav_bytes) -> DataFrame:
    """Shared mapInPandas scaffolding for the WAV renders: one payload
    per id via ``wav_bytes(i)``, typed (mime, declared_bytes) meta."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": [wav_bytes(int(i)) for i in pdf[id_col]],
                }
            )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )
    rendered = ids.select(F.col(id_col)).mapInPandas(batches, schema=out_schema)
    return rendered.withColumn(
        "meta",
        F.struct(F.lit("audio/wav").alias("mime"), F.length("payload").alias("declared_bytes")),
    )


def saw_wav_bytes(i: int) -> bytes:
    """One pseudo-random sawtooth payload: s[n] = ((i*13 + n*7) % 2001)
    - 1000 — the closed-form the amplitude-stats oracle restates."""
    import numpy as np

    n = np.arange(_WAV_N, dtype=np.int64)
    return _wav_container(((i * 13 + n * 7) % 2001) - 1000)


def render_wav_media(ids: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Render a deterministic 16-bit mono PCM WAV per id — a REAL RIFF
    container (RIFF/WAVE header, fmt chunk, data chunk, little-endian
    int16 samples), closed-form sample values for the SQL oracle."""
    return _render_wav(ids, id_col, saw_wav_bytes)


def decode_wav(payload: bytes):
    """REAL PCM WAV decode in pure numpy/struct: validate the RIFF/WAVE
    magic, WALK the chunk list (fmt/data can be preceded by LIST/fact
    chunks in real files), require uncompressed 16-bit PCM, and return
    (samples ndarray, sample_rate, channels)."""
    import struct

    import numpy as np

    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, fmt, data = 12, None, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = payload[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only uncompressed 16-bit PCM decodes natively (format={audio_format}, "
            f"bits={bits}); compressed audio needs torchaudio/ffmpeg"
        )
    samples = np.frombuffer(data, dtype="<i2")
    return samples.reshape(-1, channels), rate, channels


def audio_stats(media: DataFrame) -> DataFrame:
    """Per-clip stats off the REAL WAV decode: sample count, mean
    amplitude, and peak |amplitude| — integer sums, exact in float64."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = {k: [] for k in ("media_id", "n_samples", "sample_rate", "mean_amp", "peak_amp")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, rate, _ = decode_wav(bytes(payload))
                rows["media_id"].append(mid)
                rows["n_samples"].append(samples.shape[0])
                rows["sample_rate"].append(rate)
                rows["mean_amp"].append(float(samples.astype("int64").mean()))
                rows["peak_amp"].append(int(abs(samples.astype("int64")).max()))
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_samples", T.IntegerType(), False),
            T.StructField("sample_rate", T.IntegerType(), False),
            T.StructField("mean_amp", T.DoubleType(), False),
            T.StructField("peak_amp", T.IntegerType(), False),
        ]
    )
    return media.mapInPandas(batches, schema=schema)


_TONE_AMP = 12000  # well under int16 max; quantization noise ~86 dB below peak


def tone_bin(media_id: int) -> int:
    """The FFT bin a rendered tone occupies: 1 + id % 31 — always a
    NON-DC bin below Nyquist for the 64-sample clips, and always an
    INTEGER number of cycles per clip, so the DFT puts the tone's
    entire energy in exactly this bin (no spectral leakage) and the
    SQL oracle can state the spectral argmax closed-form."""
    return 1 + media_id % 31


def tone_wav_bytes(i: int) -> bytes:
    """One pure-tone RIFF/WAVE payload: a quantized int16 sine with
    exactly tone_bin(i) cycles over the _WAV_N-sample clip."""
    import numpy as np

    n = np.arange(_WAV_N, dtype=np.float64)
    k = tone_bin(i)
    return _wav_container(np.round(_TONE_AMP * np.sin(2.0 * np.pi * k * n / _WAV_N)))


def render_tone_media(ids: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Render a deterministic pure-tone 16-bit mono PCM WAV per id
    (same REAL RIFF container as render_wav_media): samples are a
    quantized sine at exactly tone_bin(id) cycles per clip. Because
    the frequency sits ON an FFT bin, the rendered clip's spectrum is
    analytically known — the feature-extraction oracle needs no FFT."""
    return _render_wav(ids, id_col, tone_wav_bytes)


def spectral_peak(media: DataFrame) -> DataFrame:
    """Audio feature extraction off the REAL WAV decode: per-clip rFFT
    (numpy, vectorized across the Arrow batch) and the dominant non-DC
    spectral bin + its frequency in Hz. This is the audio twin of the
    image feature path — decode, transform, emit a typed feature row —
    and the shape a real fingerprinting/spectrogram stage would take:
    constant-memory mapInPandas, one feature row per clip, no shuffle.

    dominant_hz is (bin * rate) / n_samples with an exact integer
    numerator and (here) a power-of-two denominator, so the double is
    bit-identical to the oracle's expression. Clips of differing length
    inside one batch are handled per-row; multi-channel clips use
    channel 0 (the renders are mono)."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = {
                k: []
                for k in ("media_id", "n_samples", "dominant_bin", "dominant_hz")
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, rate, _ = decode_wav(bytes(payload))
                mono = samples[:, 0].astype(np.float64)
                mag = np.abs(np.fft.rfft(mono))
                if mag.shape[0] > 1:  # a 0/1-sample clip has only DC
                    k = int(np.argmax(mag[1:])) + 1  # exclude DC
                    hz = float(k * rate) / mono.shape[0]
                else:
                    k, hz = 0, 0.0
                rows["media_id"].append(mid)
                rows["n_samples"].append(mono.shape[0])
                rows["dominant_bin"].append(k)
                rows["dominant_hz"].append(hz)
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_samples", T.IntegerType(), False),
            T.StructField("dominant_bin", T.IntegerType(), False),
            T.StructField("dominant_hz", T.DoubleType(), False),
        ]
    )
    return media.mapInPandas(batches, schema=schema)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), False),
    ]
)


def dhash_media(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) per image: decode the payload
    with the REAL Netpbm parser, collapse channels to an integer
    luminance proxy (exact channel SUM — no division, so the value is
    integer-exact and SQL-reproducible), then emit one bit per
    horizontally-adjacent pixel pair (gray[y,x] > gray[y,x+1]) packed
    as bit (y*(W-1)+x) of a BIGINT. For the 8x8 renders that is 56
    bits — the classic image-dedup fingerprint, robust to uniform
    brightness shifts because only pixel ORDER matters.

    Arrow-batched mapInPandas, partition-preserving: the hash is a
    map-side scalar per image; any downstream dedup is a group-by on a
    64-bit key. Works for P6 (RGB) and P5 (graymap) alike."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, hashes = [], []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                px = decode_media(bytes(payload), meta["mime"])
                gray = px.astype(np.int64).sum(axis=2)
                bits = gray[:, :-1] > gray[:, 1:]
                h, wm1 = bits.shape
                weights = np.int64(1) << (
                    np.arange(h, dtype=np.int64)[:, None] * wm1
                    + np.arange(wm1, dtype=np.int64)[None, :]
                )
                ids.append(mid)
                hashes.append(int((bits * weights).sum()))
            yield pd.DataFrame({"media_id": ids, "dhash": hashes})

    return media.mapInPandas(batches, schema=DHASH_SCHEMA)


def render_ppm_textured(
    ids: DataFrame, *, id_col: str = "doc_id", corrupt_odd: bool = False
) -> DataFrame:
    """Textured variant of render_ppm_media: the extra x*y*13 term makes
    luminance non-monotone in x, so dHash bits carry signal — under the
    smooth formula every row's gray increases by +9 per column except at
    mod-256 wraps, so most of the corpus hashes to literally 0 (all 56
    comparison bits false) and a few hashes hold nearly every id.

    With corrupt_odd, each ODD id renders its even twin's image with ONE
    pixel strongly bumped (+128 on every channel at a base-keyed
    position) — a deterministic 'corrupted re-encode' whose dHash lands
    within Hamming<=2 of the original, giving the Hamming-tolerant near-dup tier a real
    recovery target with a closed-form oracle."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        header = f"P6\n{_IMG_W} {_IMG_H}\n255\n".encode()
        y, x, c = np.mgrid[0:_IMG_H, 0:_IMG_W, 0:3]
        for pdf in it:
            payloads = []
            for raw in pdf[id_col]:
                i = int(raw)
                base = (i // 2) * 2 if corrupt_odd else i
                px = (base * 7 + x * 3 + y * 5 + c * 11 + x * y * 13) % 256
                if corrupt_odd and i % 2 == 1:
                    yy = (base * 11) % _IMG_H
                    xx = 1 + (base * 5) % (_IMG_W - 2)
                    px[yy, xx, :] = (px[yy, xx, :] + 128) % 256
                payloads.append(header + px.astype(np.uint8).tobytes())
            yield pd.DataFrame(
                {"media_id": pdf[id_col].astype("int64"), "payload": payloads}
            )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )
    rendered = ids.select(F.col(id_col)).mapInPandas(batches, schema=out_schema)
    return rendered.withColumn(
        "meta",
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.length("payload").alias("declared_bytes"),
        ),
    )
