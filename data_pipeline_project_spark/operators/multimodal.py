"""Multimodal column handling: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

Pattern (the part that matters at 100 TB): media lives as a
``BinaryType`` column with a typed metadata struct beside it; decode /
feature-extract / resize / frame-sample run as pandas iterators over
Arrow batches so the Python boundary is crossed once per batch, not
per row, and the operator composes with repartitioning upstream
(e.g. salt by byte-size so huge videos don't skew a partition).

Codec availability is a CAPABILITY FLAG, probed on the worker at
kernel start (:func:`_pil_image`): where Pillow is installed the image
operators decode/resize real bytes; where it is not (this container),
they fall back to the deterministic fake so every Spark-side contract
(schema, batching, signatures, partitioning) stays testable. Audio is
REAL via stdlib ``wave`` + numpy (:func:`extract_audio_features` —
RIFF/WAVE parse, PCM decode, full-scale RMS) behind the same gate;
video keyframe sampling remains the deterministic stub (pyav/ffmpeg
are not in this container).
"""

from __future__ import annotations

import io

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _pil_image():
    """Worker-side capability probe: the PIL Image module, or None.

    Called INSIDE the pandas kernels (not at plan-build time on the
    driver) so a heterogeneous cluster decides per-executor — the
    driver lacking Pillow must not disable a codec the executors have,
    and vice versa. import is memoized by sys.modules, so the per-batch
    cost is a dict hit."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _is_codec_image(media_type) -> bool:
    """Real-image MIME types take the codec path; the synthetic
    ``*/fake`` types always use the deterministic stub."""
    return (
        isinstance(media_type, str)
        and media_type.startswith("image/")
        and not media_type.endswith("/fake")
    )

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque media payload
    (the testdata ships no true image/audio table; the binary column
    plumbing is identical)."""
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "image/fake").otherwise("audio/fake").alias(
            "media_type"
        ),
        F.encode("text", "UTF-8").alias("payload"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """Fallback "decode" where no codec is installed. Deterministic:
    'width'/'height' are the first two payload bytes. Raises on empty
    payload like a real decoder would."""
    if not payload:
        raise NotImplementedError("empty payload: nothing to decode")
    return int(payload[0]), int(payload[1]) if len(payload) > 1 else 0


def _decode_with(image_mod, media_type, payload) -> tuple[int, int]:
    """Decode one payload's (width, height): the codec path when
    ``image_mod`` (a PIL.Image-shaped module) is given and the MIME is
    a real image, else the deterministic fake. Module-level so the
    codec branch is unit-testable without a Spark worker."""
    p = bytes(payload)
    if image_mod is not None and _is_codec_image(media_type):
        img = image_mod.open(io.BytesIO(p))
        return int(img.width), int(img.height)
    return _fake_decode(p)


def _resize_with(image_mod, media_type, payload, width: int, height: int) -> bytes:
    """Resize one payload: PIL decode -> resize -> PNG re-encode on the
    codec path, truncate/pad to width*height bytes on the fallback."""
    p = bytes(payload)
    if image_mod is not None and _is_codec_image(media_type):
        img = image_mod.open(io.BytesIO(p)).resize((width, height))
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()
    return p[: width * height].ljust(width * height, b"\0")


def extract_media_features(media: DataFrame, use_codec: bool | None = None) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``use_codec``: None (default) probes Pillow on each worker and
    decodes real ``image/*`` payloads with it when present, falling
    back to the deterministic fake otherwise; True requires the codec
    (raises on workers without it — for clusters that must not
    silently emit fake dims); False forces the fake everywhere
    (hermetic tests)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        image_mod = _pil_image() if use_codec in (None, True) else None
        if use_codec is True and image_mod is None:
            raise ImportError(
                "use_codec=True but Pillow is not installed on this worker"
            )

        for pdf in batches:
            dims = [
                _decode_with(image_mod, mt, p)
                for mt, p in zip(pdf["media_type"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_bytes": pdf["payload"].map(len),
                }
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_prefix", T.StringType()),
    ]
)

FRAME_SIZE = 16
MAX_FRAMES = 4


def resize_media(
    media: DataFrame,
    width: int = 64,
    height: int = 64,
    use_codec: bool | None = None,
) -> DataFrame:
    """Thumbnailer: where Pillow is present (worker-probed, see
    :func:`extract_media_features` for the ``use_codec`` contract) real
    ``image/*`` payloads are decoded, resized to (width, height), and
    re-encoded as PNG; otherwise the deterministic fake truncates/pads
    the payload to width*height bytes. Output partitioning follows
    input; at scale repartition by byte-size first so a few huge
    payloads don't skew one partition."""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        image_mod = _pil_image() if use_codec in (None, True) else None
        if use_codec is True and image_mod is None:
            raise ImportError(
                "use_codec=True but Pillow is not installed on this worker"
            )

        for pdf in batches:
            resized = [
                _resize_with(image_mod, mt, p, width, height)
                for mt, p in zip(pdf["media_type"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": resized,
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(do_resize, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, use_codec: bool | None = None) -> DataFrame:
    """Frame sampling — the ROW-EXPANDING mapInPandas shape (one input
    row -> up to MAX_FRAMES output rows). Real ``video/*`` payloads
    take the CONTAINER path: :func:`_mp4_samples` walks the MP4 sample
    tables and the keyframes' actual byte ranges are sliced out of the
    payload (frame_no = the sample's index in the track, so downstream
    can seek back) — genuine access-unit extraction with no decoder in
    the loop; DECODING those units is what stays behind the
    ffmpeg/pyav gate. ``*/fake`` payloads keep the deterministic
    chunker (consecutive FRAME_SIZE-byte chunks), same schema."""

    def do_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, sizes, prefixes = [], [], [], []

            def emit(doc_id, no, chunk):
                ids.append(doc_id)
                nos.append(no)
                sizes.append(len(chunk))
                prefixes.append(chunk[:4].decode("utf-8", errors="replace"))

            for doc_id, mt, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                p = bytes(payload)
                if use_codec is not False and _is_codec_video(mt):
                    keyframes = [
                        (i, off, size)
                        for i, (off, size, is_sync) in enumerate(_mp4_samples(p))
                        if is_sync
                    ][:MAX_FRAMES]
                    for i, off, size in keyframes:
                        emit(doc_id, i, p[off : off + size])
                    continue
                for i in range(
                    min(MAX_FRAMES, (len(p) + FRAME_SIZE - 1) // FRAME_SIZE)
                ):
                    emit(doc_id, i, p[i * FRAME_SIZE : (i + 1) * FRAME_SIZE])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_no": nos,
                    "frame_bytes": sizes,
                    "frame_prefix": prefixes,
                }
            )

    return media.mapInPandas(do_sample, schema=FRAME_SCHEMA)


# ---- audio (real stdlib-wave decode + deterministic fake) -------------------

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def _wave_module():
    """Worker-side capability probe for the audio codec — the same
    shape as :func:`_pil_image` so a future swap to soundfile/librosa
    changes one function. ``wave`` is stdlib, so on CPython this never
    returns None; the probe still runs worker-side (not at plan build)
    for uniformity with the image gate."""
    try:
        import wave  # noqa: PLC0415

        return wave
    except ImportError:  # pragma: no cover - stdlib
        return None


def _is_codec_audio(media_type) -> bool:
    """Real-audio MIME types take the codec path; synthetic
    ``audio/fake`` stays on the deterministic stub."""
    return (
        isinstance(media_type, str)
        and media_type.startswith("audio/")
        and not media_type.endswith("/fake")
    )


def _pcm_float_samples(wave_mod, media_type, payload):
    """(sample_rate, n_channels, n_frames, x): the decoded signal as
    full-scale-normalized float64 (interleaved channels, |x| <= 1.0).
    Codec path (``audio/wav``-ish MIME + wave module): parse the
    RIFF/WAVE container with stdlib ``wave`` and decode PCM with numpy.
    8-bit PCM is unsigned-with-128-offset per the WAV spec; 16/32-bit
    are signed little-endian; 24-bit is widened to int32 by
    zero-padding the low byte. Fake path (``audio/fake`` or no codec):
    the payload BYTES become an 8 kHz mono pseudo-signal — same shape,
    deterministic, and local byte edits perturb only local samples, so
    downstream near-dup semantics stay real even on the stub."""
    import numpy as np

    p = bytes(payload)
    if wave_mod is not None and _is_codec_audio(media_type):
        with wave_mod.open(io.BytesIO(p)) as w:
            rate = w.getframerate()
            chans = w.getnchannels()
            nframes = w.getnframes()
            width = w.getsampwidth()
            raw = w.readframes(nframes)
        if width == 1:
            x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
            full = 128.0
        elif width == 2:
            x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
            full = 32768.0
        elif width == 3:
            b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
            widened = np.zeros((b.shape[0], 4), dtype=np.uint8)
            widened[:, 1:] = b  # low-byte zero pad keeps the sign bit
            x = widened.view("<i4").ravel().astype(np.float64)
            full = float(2**31)
        elif width == 4:
            x = np.frombuffer(raw, dtype="<i4").astype(np.float64)
            full = float(2**31)
        else:
            raise ValueError(f"unsupported PCM sample width: {width}")
        return rate, chans, nframes, x / full
    if not p:
        raise NotImplementedError("empty payload: nothing to decode")
    b = (np.frombuffer(p, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    return 8000, 1, len(p), b


def _decode_audio_with(wave_mod, media_type, payload):
    """One payload's (sample_rate, n_channels, n_frames, duration_s,
    rms); RMS is normalized to full scale (1.0 == a rail-to-rail
    square wave; a full-scale sine is 1/sqrt(2)). Decode via
    :func:`_pcm_float_samples` (codec or deterministic fake)."""
    import numpy as np

    rate, chans, nframes, x = _pcm_float_samples(wave_mod, media_type, payload)
    rms = float(np.sqrt(np.mean(x**2))) if x.size else 0.0
    duration = nframes / rate if rate else 0.0
    return rate, chans, nframes, duration, rms


def extract_audio_features(
    media: DataFrame, use_codec: bool | None = None
) -> DataFrame:
    """Arrow-batched audio feature extraction (sample rate, channels,
    frames, duration, full-scale RMS) over binary payloads — the audio
    twin of :func:`extract_media_features`, same ``use_codec``
    contract: None probes the codec worker-side and real ``audio/*``
    payloads decode for real, True demands it, False forces the fake.
    At 100 TB these five numbers are what the corpus STORES; filtering
    (silence, clipping, duration outliers) then never re-reads bytes."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wave_mod = _wave_module() if use_codec in (None, True) else None
        if use_codec is True and wave_mod is None:  # pragma: no cover
            raise ImportError(
                "use_codec=True but the wave module is unavailable"
            )
        for pdf in batches:
            feats = [
                _decode_audio_with(wave_mod, mt, p)
                for mt, p in zip(pdf["media_type"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "sample_rate": [f[0] for f in feats],
                    "n_channels": [f[1] for f in feats],
                    "n_frames": [f[2] for f in feats],
                    "duration_s": [f[3] for f in feats],
                    "rms": [f[4] for f in feats],
                }
            )

    return media.mapInPandas(extract, schema=AUDIO_FEATURE_SCHEMA)


# ---- video container metadata (real ISO BMFF / MP4 parse) -------------------

VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ]
)


def _is_codec_video(media_type) -> bool:
    return (
        isinstance(media_type, str)
        and media_type.startswith("video/")
        and not media_type.endswith("/fake")
    )


def _iter_boxes(buf: bytes, start: int, end: int):
    """Walk ISO BMFF boxes in buf[start:end): yields (fourcc,
    body_start, body_end). Handles 64-bit largesize (size == 1) and
    to-end-of-file (size == 0) boxes; stops rather than loops on a
    corrupt size."""
    import struct

    off = start
    while off + 8 <= end:
        size, fourcc = struct.unpack(">I4s", buf[off : off + 8])
        body = off + 8
        if size == 1:
            if body + 8 > end:
                return
            (size,) = struct.unpack(">Q", buf[body : body + 8])
            body += 8
            box_end = off + size
        elif size == 0:
            box_end = end
        else:
            box_end = off + size
        if box_end <= off or box_end > end:
            return  # corrupt size: refuse to guess
        yield fourcc.decode("latin-1"), body, box_end
        off = box_end


def _find_box(buf: bytes, path: list[str], start: int, end: int):
    """Descend a container path like ['moov','trak','mdia']; returns
    (body_start, body_end) of the FIRST match, or None."""
    for fourcc, b, e in _iter_boxes(buf, start, end):
        if fourcc == path[0]:
            if len(path) == 1:
                return b, e
            return _find_box(buf, path[1:], b, e)
    return None


def _parse_mp4_meta(payload: bytes):
    """(duration_s, n_tracks, width, height, codec) straight from the
    MP4 container structure — a REAL parse of the bytes (mvhd
    timescale/duration, tkhd 16.16 fixed-point dimensions, the first
    stsd sample-entry fourcc), no decoder involved. This is the
    metadata tier a 100 TB video corpus filters on (duration outliers,
    resolution buckets, codec mix) before any frame is ever decoded;
    frame decode itself stays behind the ffmpeg/pyav gate
    (sample_frames' chunker stub). Version-0 and version-1 (64-bit)
    mvhd/tkhd headers both handled. Raises ValueError on payloads
    that are not ISO BMFF."""
    import struct

    buf = bytes(payload)
    moov = _find_box(buf, ["moov"], 0, len(buf))
    if moov is None:
        raise ValueError("not an ISO BMFF payload: no moov box")
    duration_s = 0.0
    mvhd = _find_box(buf, ["mvhd"], *moov)
    if mvhd is not None:
        b, _ = mvhd
        version = buf[b]
        if version == 1:
            timescale, duration = struct.unpack(">IQ", buf[b + 20 : b + 32])
        else:
            timescale, duration = struct.unpack(">II", buf[b + 12 : b + 20])
        if timescale:
            duration_s = duration / timescale
    n_tracks, width, height, codec = 0, 0, 0, ""
    for fourcc, b, e in _iter_boxes(buf, *moov):
        if fourcc != "trak":
            continue
        n_tracks += 1
        tkhd = _find_box(buf, ["tkhd"], b, e)
        if tkhd is not None:
            tb, te = tkhd
            # width/height are the LAST two 16.16 fixed-point fields
            w, h = struct.unpack(">II", buf[te - 8 : te])
            w, h = w >> 16, h >> 16
            if w and h and not width:
                width, height = w, h
        stsd = _find_box(buf, ["mdia", "minf", "stbl", "stsd"], b, e)
        if stsd is not None and not codec:
            sb, se = stsd
            # full box header (4) + entry_count (4), then first entry
            entry = sb + 8
            if entry + 8 <= se:
                codec = buf[entry + 4 : entry + 8].decode("latin-1")
    return duration_s, n_tracks, width, height, codec


def _mp4_samples(payload: bytes):
    """Per-sample (offset, size, is_sync) from the first trak's sample
    tables — the REAL keyframe-extraction substrate: stsz gives sizes,
    stsc maps samples to chunks, stco anchors chunk byte offsets, stss
    marks sync samples (absent table == every sample a keyframe, per
    spec). This is how a 100 TB video corpus slices frame PAYLOADS out
    of containers without a decoder in the loop; decoding the returned
    access units stays behind the ffmpeg/pyav gate. Single-track; both
    32-bit (stco) and 64-bit (co64 — any >4 GB container) chunk
    offsets. Raises ValueError when the sample tables are
    missing/corrupt rather than guessing."""
    import struct

    buf = bytes(payload)
    moov = _find_box(buf, ["moov"], 0, len(buf))
    if moov is None:
        raise ValueError("not an ISO BMFF payload: no moov box")
    trak = _find_box(buf, ["trak"], *moov)
    if trak is None:
        raise ValueError("no trak box")
    stbl = _find_box(buf, ["mdia", "minf", "stbl"], *trak)
    if stbl is None:
        raise ValueError("no sample table (stbl)")

    def full_box(name):
        r = _find_box(buf, [name], *stbl)
        return None if r is None else (r[0] + 4, r[1])  # skip version/flags

    stsz = full_box("stsz")
    stco = full_box("stco")
    co64 = full_box("co64")
    stsc = full_box("stsc")
    if stsz is None or (stco is None and co64 is None) or stsc is None:
        raise ValueError("incomplete sample tables (need stsz/stco/stsc)")

    b, _ = stsz
    fixed_size, n_samples = struct.unpack(">II", buf[b : b + 8])
    if fixed_size:
        sizes = [fixed_size] * n_samples
    else:
        sizes = list(
            struct.unpack(f">{n_samples}I", buf[b + 8 : b + 8 + 4 * n_samples])
        )

    # co64 is stco with 64-bit offsets — what any >4 GB container uses,
    # so the real corpus case; prefer it when both are present.
    b, _ = co64 if co64 is not None else stco
    width = "Q" if co64 is not None else "I"
    (n_chunks,) = struct.unpack(">I", buf[b : b + 4])
    step = 8 if co64 is not None else 4
    chunk_offsets = list(
        struct.unpack(
            f">{n_chunks}{width}", buf[b + 4 : b + 4 + step * n_chunks]
        )
    )

    b, _ = stsc
    (n_stsc,) = struct.unpack(">I", buf[b : b + 4])
    stsc_rows = [
        struct.unpack(">III", buf[b + 4 + 12 * i : b + 16 + 12 * i])
        for i in range(n_stsc)
    ]  # (first_chunk 1-based, samples_per_chunk, sample_desc_index)

    sync = None
    stss = full_box("stss")
    if stss is not None:
        b, _ = stss
        (n_sync,) = struct.unpack(">I", buf[b : b + 4])
        sync = set(struct.unpack(f">{n_sync}I", buf[b + 4 : b + 4 + 4 * n_sync]))

    # walk chunks: stsc row governs from its first_chunk until the next
    # row's; within a chunk samples are contiguous from its stco offset
    samples = []
    si = 0
    for ci in range(n_chunks):
        per_chunk = next(
            spc
            for fc, spc, _ in reversed(stsc_rows)
            if fc <= ci + 1
        )
        off = chunk_offsets[ci]
        for _ in range(per_chunk):
            if si >= n_samples:
                break
            size = sizes[si]
            is_sync = sync is None or (si + 1) in sync
            samples.append((off, size, is_sync))
            off += size
            si += 1
    if si != n_samples:
        raise ValueError(
            f"sample walk covered {si} of {n_samples} samples: "
            "inconsistent stsc/stco tables"
        )
    return samples


def extract_video_metadata(
    media: DataFrame,
    use_codec: bool | None = None,
    strict: bool = True,
) -> DataFrame:
    """Arrow-batched video container metadata over binary payloads —
    the same gating contract as the image/audio extractors, with the
    ISO BMFF parse as the "codec" (it is stdlib struct, so like wave
    it is always available; the gate still lets use_codec=False force
    the deterministic fake for hermetic runs). ``video/fake`` payloads
    produce byte-derived stub values so the Spark plumbing stays
    testable without real containers.

    ``strict=False`` is the CORPUS-SCALE mode: a corrupt container
    yields a row of NULL features instead of killing the job at hour
    six on one truncated upload — callers then quarantine
    ``duration_s IS NULL`` rows, the same triage contract as the
    validation tier's row_error_reasons. strict=True (default) raises,
    which is what a unit test or a must-be-clean ingest wants."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mt, p in zip(pdf["media_type"], pdf["payload"]):
                b = bytes(p)
                try:
                    if use_codec is not False and _is_codec_video(mt):
                        rows.append(_parse_mp4_meta(b))
                    else:
                        if not b:
                            raise NotImplementedError(
                                "empty payload: nothing to decode"
                            )
                        # deterministic fake: stub values from the bytes
                        rows.append(
                            (len(b) / 1000.0, 1, int(b[0]), int(b[-1]), "fake")
                        )
                except Exception:
                    if strict:
                        raise
                    rows.append((None, None, None, None, None))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "duration_s": [r[0] for r in rows],
                    "n_tracks": pd.array(
                        [r[1] for r in rows], dtype="Int32"
                    ),
                    "width": pd.array([r[2] for r in rows], dtype="Int32"),
                    "height": pd.array([r[3] for r in rows], dtype="Int32"),
                    "codec": [r[4] for r in rows],
                }
            )

    return media.mapInPandas(extract, schema=VIDEO_META_SCHEMA)


# MJPEG-family sample-entry fourccs: each MP4 SAMPLE is a complete,
# standalone JPEG image — the one video codec family the image gate
# can decode with zero new dependencies. ('jpeg' is the QuickTime/MP4
# motion-JPEG entry; mjpa/mjpb are the fielded variants.)
MJPEG_FOURCCS = {"jpeg", "mjpa", "mjpb", "mjpg"}

FRAME_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _decode_frames_with(image_mod, media_type, payload, max_frames=None):
    """Decode a video payload's KEYFRAMES to images: [(frame_no, width,
    height)]. Factored like `_decode_with` so the codec branch is
    unit-testable without a Spark worker.

    MJPEG tracks (stsd fourcc in MJPEG_FOURCCS) route each keyframe
    sample — a complete JPEG — through the IMAGE codec gate: the MP4
    sample walk already yields real access-unit bytes, so motion-JPEG
    frame decode needs no new dependency. Every other codec's access
    units need an actual video decoder and raise NotImplementedError
    (the declared ffmpeg/pyav gate — this function is the seam a real
    decoder plugs into). ``*/fake`` payloads keep the deterministic
    chunker-dims stub so the Spark plumbing tests hermetically."""
    import io

    b = bytes(payload)
    cap = max_frames if max_frames is not None else MAX_FRAMES
    if _is_codec_video(media_type):
        codec = _parse_mp4_meta(b)[4]
        if codec.strip().lower() not in MJPEG_FOURCCS:
            raise NotImplementedError(
                f"frame decode for codec {codec!r} needs a video decoder "
                f"(ffmpeg/pyav), which is out of scope here — only "
                f"MJPEG-family tracks decode through the image codec"
            )
        if image_mod is None:
            raise NotImplementedError(
                "MJPEG decode needs the image codec (Pillow) on this worker"
            )
        out = []
        for i, (off, size, is_sync) in enumerate(_mp4_samples(b)):
            if not is_sync:
                continue
            img = image_mod.open(io.BytesIO(b[off : off + size]))
            out.append((i, int(img.width), int(img.height)))
            if len(out) >= cap:
                break
        return out
    if not b:
        raise NotImplementedError("empty payload: nothing to decode")
    # deterministic fake: chunker frame count, byte-derived dims
    n = min(cap, (len(b) + FRAME_SIZE - 1) // FRAME_SIZE)
    return [
        (i, *(_fake_decode(b[i * FRAME_SIZE : (i + 1) * FRAME_SIZE] or b)))
        for i in range(n)
    ]


def decode_frames(media: DataFrame, use_codec: bool | None = None) -> DataFrame:
    """Keyframes decoded to images, as a row-expanding mapInPandas over
    binary payloads — the decode completion of :func:`sample_frames`
    (which extracts the access-unit BYTES). Same worker-side capability
    gate as the image operators: MJPEG tracks decode for real wherever
    Pillow is installed; other codecs raise the declared
    NotImplementedError; fake payloads stay deterministic. Schema:
    (doc_id, frame_no, width, height)."""

    def do_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        image_mod = _pil_image() if use_codec in (None, True) else None
        if use_codec is True and image_mod is None:
            raise RuntimeError(
                "use_codec=True but Pillow is not installed on this worker"
            )
        for pdf in batches:
            ids, nos, ws, hs = [], [], [], []
            for doc_id, mt, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                for no, w, h in _decode_frames_with(image_mod, mt, payload):
                    ids.append(doc_id)
                    nos.append(no)
                    ws.append(w)
                    hs.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_no": pd.array(nos, dtype="Int32"),
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                }
            )

    return media.mapInPandas(do_decode, schema=FRAME_PIXEL_SCHEMA)


# ---- audio fingerprint (audio near-dup) -------------------------------------

AUDIO_FP_BITS = 60  # 15 time frames x 4 log-spaced bands, rides the
                    # same int64 banding as simhash / phash


def _audio_fp60(x) -> int:
    """60-bit spectral-shape fingerprint of a mono signal: 15 equal
    time frames x 4 log-spaced frequency bands; bit(frame, band) = 1
    iff that band's power exceeds the FRAME's mean band power. The
    within-frame comparison makes the bit pattern the frame's spectral
    SHAPE: invariant to global and per-frame amplitude scaling (all
    four energies scale together; a band must beat the mean by a
    relative 1e-9, so one that ties it in exact arithmetic reads 0
    whichever way float rounding lands), robust to added low-level noise
    under a dominant tone, and local in time — an edit to one section
    flips at most that section's 4 bits, which is what lets
    banded-Hamming near-dup search work on it (the same design rule as
    the stub pixel tiling in :func:`_pixels_from_payload`). A silent
    frame contributes four 0 bits (0 > 0 is false). This is the
    chromaprint IDEA (banded spectral deltas -> bits) reduced to numpy
    — not the chromaprint algorithm, and not claiming its robustness
    to transcoding."""
    import numpy as np

    n_frames, n_bands = 15, 4
    min_len = n_frames * 16
    if x.size == 0:
        raise NotImplementedError("empty signal: nothing to fingerprint")
    if x.size < min_len:  # tile short payloads up to a workable length
        x = np.tile(x, -(-min_len // x.size))[:min_len]
    seg = x.size // n_frames
    h = 0
    for f in range(n_frames):
        frame = x[f * seg : (f + 1) * seg]
        spec = np.abs(np.fft.rfft(frame)) ** 2
        # log-spaced band edges over the non-DC bins
        edges = np.unique(
            np.geomspace(1, spec.size, n_bands + 1).round().astype(int)
        )
        while edges.size < n_bands + 1:  # tiny frames: pad linearly
            edges = np.append(edges, edges[-1] + 1)
        e = np.array(
            [spec[edges[b] : edges[b + 1]].sum() for b in range(n_bands)]
        )
        bar = e.mean() * (1 + 1e-9)  # tie margin: see the docstring
        for b in range(n_bands):
            if e[b] > bar:
                h |= 1 << (f * n_bands + b)
    return h


AUDIO_FP_RATE = 8_000  # internal rate every signal resamples to


def audio_fingerprint(
    media: DataFrame, use_codec: bool | None = None
) -> DataFrame:
    """(doc_id, media_type, afp) — Arrow-batched spectral fingerprints
    over binary audio payloads, same worker-probed codec gating as
    :func:`extract_audio_features`; stereo mixes down to mono, then
    everything RESAMPLES to AUDIO_FP_RATE (linear interpolation)
    before the FFT, so the same recording at 8/16/44.1 kHz lands on
    the same bits — without this, band positions are relative to each
    file's own Nyquist and a re-encoded copy would never pair. Linear
    interp has no anti-alias filter: content above AUDIO_FP_RATE/2
    aliases, which perturbs bits for hiss-heavy material (chromaprint
    filters first; that is the upgrade path, not a different design).
    Like the image phash: at 100 TB the corpus stores the 60-bit
    column once and near-dup search never touches samples again."""
    import numpy as np

    schema = "doc_id long, media_type string, afp long"

    def batches(it):
        wave_mod = _wave_module() if use_codec in (None, True) else None
        if use_codec is True and wave_mod is None:  # pragma: no cover
            raise ImportError("use_codec=True but wave is unavailable")
        for pdf in it:
            fps = []
            for mt, pl in zip(pdf["media_type"], pdf["payload"]):
                rate, chans, nframes, x = _pcm_float_samples(wave_mod, mt, pl)
                if chans > 1:
                    x = x[: (x.size // chans) * chans].reshape(-1, chans).mean(
                        axis=1
                    )
                if rate != AUDIO_FP_RATE and x.size > 1:
                    n_out = max(1, int(round(x.size * AUDIO_FP_RATE / rate)))
                    x = np.interp(
                        np.linspace(0.0, x.size - 1, n_out),
                        np.arange(x.size),
                        x,
                    )
                fps.append(_audio_fp60(x))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "afp": pd.Series(fps, dtype="int64"),
                }
            )

    return media.mapInPandas(batches, schema)


def audio_near_pairs(
    media: DataFrame, max_hamming: int = 3, use_codec: bool | None = None
) -> DataFrame:
    """Audio near-duplicate pairs: spectral fingerprint + the dedup
    tier's generic banded Hamming join (pigeonhole-complete for
    distance <= max_hamming at 4x15-bit banding). The FFT work happens
    exactly once per asset; the pair search is hash-only — the same
    two-tier shape as media_near_pairs for images."""
    from data_pipeline_project_spark.operators.dedup import banded_hamming_pairs

    fp = audio_fingerprint(media, use_codec=use_codec).select("doc_id", "afp")
    return banded_hamming_pairs(
        fp, id_col="doc_id", fp_col="afp", max_hamming=max_hamming,
        bits=AUDIO_FP_BITS,
    )


# ---- perceptual hashing (image near-dup) ------------------------------------

PHASH_BITS = 60  # matches the dedup tier's banding (4x15-bit chunks)


def _pixels_from_payload(image_mod, media_type, payload, size: int = 32):
    """32x32 grayscale pixel grid for hashing. Codec path (real image
    MIME + PIL present): decode -> grayscale -> resize. Stub path
    (``*/fake`` or no codec): the payload bytes tile the grid directly
    — deterministic, and LOCAL byte edits perturb only local pixels,
    so near-dup semantics are real even on the stub."""
    import numpy as np

    if image_mod is not None and _is_codec_image(media_type):
        import io

        img = image_mod.open(io.BytesIO(bytes(payload))).convert("L")
        img = img.resize((size, size))
        return np.asarray(img, dtype=np.float64)
    if not payload:
        raise NotImplementedError("empty payload: nothing to decode")
    b = np.frombuffer(bytes(payload), dtype=np.uint8)
    reps = -(-(size * size) // len(b))  # ceil
    return np.tile(b, reps)[: size * size].reshape(size, size).astype(np.float64)


def _dct_matrix(n: int):
    import numpy as np

    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    d = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    d[0] /= np.sqrt(2.0)
    return d


def _phash60(pixels) -> int:
    """DCT perceptual hash: 2-D DCT-II of the 32x32 grid, keep the
    top-left 8x8 low-frequency block, drop the DC term, threshold the
    next 60 coefficients against their median. Robust to resizing,
    small edits, and brightness shifts (DC carries brightness and is
    excluded); 60 bits so the fingerprint rides the same int64 banding
    as simhash."""
    import numpy as np

    d = _dct_matrix(pixels.shape[0])
    coef = d @ pixels @ d.T
    block = coef[:8, :8].flatten()[1:61]  # drop DC, keep 60
    med = np.median(block)
    h = 0
    for i, v in enumerate(block):
        if v > med:
            h |= 1 << i
    return h


def perceptual_hash(
    media: DataFrame, use_codec: bool | None = None
) -> DataFrame:
    """(doc_id, media_type, phash) — Arrow-batched mapInPandas over the
    binary payloads, same worker-probed codec gating as
    extract_media_features. The hash column is what a 100 TB image
    corpus stores; dedup then never touches pixels again."""
    import pandas as pd

    schema = "doc_id long, media_type string, phash long"

    def batches(it):
        image_mod = _pil_image() if use_codec in (None, True) else None
        if use_codec is True and image_mod is None:
            raise RuntimeError("use_codec=True but PIL is not importable")
        for pdf in it:
            hashes = [
                _phash60(
                    _pixels_from_payload(image_mod, mt, pl)
                )
                for mt, pl in zip(pdf["media_type"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return media.mapInPandas(batches, schema)


def media_near_pairs(
    media: DataFrame, max_hamming: int = 3, use_codec: bool | None = None
) -> DataFrame:
    """Image/media near-duplicate pairs: perceptual hash + the dedup
    tier's generic banded Hamming join (pigeonhole-complete for
    distance <= 3). The pixel work happens exactly once per asset; the
    pair search is hash-only."""
    from data_pipeline_project_spark.operators.dedup import banded_hamming_pairs

    fp = perceptual_hash(media, use_codec=use_codec).select("doc_id", "phash")
    return banded_hamming_pairs(
        fp, id_col="doc_id", fp_col="phash", max_hamming=max_hamming,
        bits=PHASH_BITS,
    )
