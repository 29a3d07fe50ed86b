"""Multimodal column plumbing: opaque ``binary`` payloads with typed
metadata, decoded / feature-extracted via Arrow-batched ``mapInPandas``
(BASELINE.json north star; SURVEY.md §2.4).

The container has no image/audio libraries, so ``real_decode=True``
covers exactly the containers decodable with stdlib + numpy via
``operators.codecs`` — netpbm (P5/P6), 24-bit BI_RGB BMP, 8/16-bit
PNG (incl. Adam7), baseline sequential JPEG, GIF (incl. animated
frames), baseline TIFF, PCM WAV, and FLAC; what remains
(progressive JPEG, MP3/AAC, video containers) raises
``NotImplementedError`` at the Pillow/ffmpeg integration point
(guessing at those bitstreams would be silently wrong). The default
path remains a
deterministic fake so oracle comparisons over arbitrary payloads stay
stable. The schema contract, Arrow batch shape, and
partition-parallel ``mapInPandas`` plumbing are identical on both
paths, so swapping in Pillow/ffmpeg later is a one-function change.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata contract for a decoded asset.
ASSET_META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def decode_image_meta(payload: bytes, real_decode: bool = False) -> dict:
    """Decode one image payload to metadata.

    ``real_decode=True`` REALLY decodes supported containers
    (P5/P6 netpbm, 24-bit BMP, 8/16-bit PNG incl. Adam7, baseline
    sequential JPEG, GIF, baseline TIFF — stdlib + numpy, see
    ``operators.codecs``) and
    raises ``NotImplementedError`` for the rest (progressive JPEG,
    video — the Pillow/opencv integration point).
    """
    if real_decode:
        from dataflow_python_etl_spark.operators import codecs

        fmt, pixels = codecs.decode_image(bytes(payload))
        h, w = pixels.shape[:2]
        return {
            "n_bytes": len(payload),
            "format": fmt,
            "width": w,
            "height": h,
            "checksum": int(pixels.astype("int64").sum()) % 1_000_000_007,
        }
    # Deterministic fake: metadata derived from payload bytes so tests
    # and oracle comparisons are stable.
    n = len(payload)
    checksum = 0
    for i, b in enumerate(payload[:64]):
        checksum = (checksum * 131 + b + i) % 1_000_000_007
    return {
        "n_bytes": n,
        "format": "fake/raw",
        "width": (n % 640) + 1,
        "height": (n % 480) + 1,
        "checksum": checksum,
    }


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: a ``binary`` payload column (here
    UTF-8 bytes of the text; in production, image/audio bytes)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def extract_asset_meta(
    df: DataFrame, id_col: str = "doc_id", real_decode: bool = False
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow moves the binary column in columnar batches; the Python
    kernel sees a pandas DataFrame per batch — the shape a real
    decode/resize/frame-sample kernel would use. Partition-parallel:
    no shuffle, no driver collect.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_image_meta(p, real_decode) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "asset_id": pdf[id_col].astype("int64"),
                    "n_bytes": [m["n_bytes"] for m in metas],
                    "format": [m["format"] for m in metas],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "checksum": [m["checksum"] for m in metas],
                }
            )
            yield out

    return df.select(id_col, "payload").mapInPandas(kernel, ASSET_META_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_payload(payload: bytes, width: int, height: int, real_decode: bool = False) -> bytes:
    """Resize one image payload. ``real_decode=True`` decodes P5/P6
    netpbm, 24-bit BMP, non-interlaced 8-bit PNG, and baseline JPEG
    (stdlib+numpy), nearest-neighbor resamples, and re-encodes —
    netpbm for gray/RGB, PNG for alpha-bearing pixels (netpbm cannot
    carry alpha); formats outside public-spec reach raise
    ``NotImplementedError`` (the Pillow integration point). The default is a deterministic fake
    that samples the payload bytes down/up to ``width*height`` — byte
    count and content are reproducible, so tests can pin the batch
    contract."""
    if real_decode:
        from dataflow_python_etl_spark.operators import codecs

        _fmt, pixels = codecs.decode_image(bytes(payload))
        resized = codecs.resize_nearest(pixels, width, height)
        if resized.ndim == 3 and resized.shape[2] in (2, 4):
            return codecs.encode_png(resized)
        return codecs.encode_ppm(resized)
    target = width * height
    n = len(payload)
    if n == 0:
        return b"\x00" * target
    return bytes(payload[(i * n) // target] for i in range(target))


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    real_decode: bool = False,
) -> DataFrame:
    """mapInPandas resize over binary payloads: one output row per
    asset, fixed-size payload out. Partition-parallel, no shuffle —
    at 100 TB the only knob that matters is input split size
    (``spark.sql.files.maxPartitionBytes``) so each Arrow batch of
    payloads fits executor memory."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col].astype("int64"),
                    "payload": [
                        resize_payload(p, width, height, real_decode)
                        for p in pdf["payload"]
                    ],
                    "width": width,
                    "height": height,
                }
            )

    return df.select(id_col, "payload").mapInPandas(kernel, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    frame_ms: int = 1000,
    id_col: str = "doc_id",
    real_decode: bool = False,
) -> DataFrame:
    """Video frame sampling as a fan-out mapInPandas: each binary
    payload (a 'video') yields up to ``n_frames`` evenly spaced frame
    rows (frame_idx, ts_ms, frame bytes). The generator shape — one
    input batch to a LARGER output batch — is the part worth pinning:
    a real ffmpeg kernel swaps in per chunk without touching the plan.

    ``real_decode=True`` REALLY decodes animated GIF and MJPEG AVI
    (pure-stdlib decoders, see ``operators.codecs.
    decode_video_frames``), samples ``n_frames`` evenly across the
    animation, and re-encodes each sampled frame (netpbm for RGB,
    PNG when a transparency plane is present); other containers
    (mp4/webm/...) raise ``NotImplementedError`` — the ffmpeg
    integration point. The default fake 'decoder' slices
    the payload into ``n_frames`` equal chunks; a zero-length payload
    yields no frames (mirrors a corrupt video being skipped, and
    tests pin that rows can disappear)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dataflow_python_etl_spark.operators import codecs

        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for asset_id, payload in zip(pdf[id_col], pdf["payload"]):
                n = len(payload)
                if n == 0:
                    continue
                if real_decode:
                    if codecs.sniff_format(bytes(payload)) not in (
                        "image/gif",
                        "video/x-msvideo",
                    ):
                        raise NotImplementedError(
                            "real frame sampling decodes animated GIF and "
                            "MJPEG AVI — plug ffmpeg here for mp4/webm"
                        )
                    decoded = codecs.decode_video_frames(bytes(payload))
                    picks = np.unique(
                        np.linspace(
                            0, len(decoded) - 1, min(n_frames, len(decoded))
                        ).round().astype(int)
                    )
                    for k, fi in enumerate(picks):
                        px = decoded[fi]
                        ids.append(int(asset_id))
                        idxs.append(k)
                        tss.append(int(fi) * frame_ms)
                        frames.append(
                            codecs.encode_png(px)
                            if px.ndim == 3 and px.shape[2] == 4
                            else codecs.encode_ppm(px)
                        )
                    continue
                step = max(n // n_frames, 1)
                for k in range(min(n_frames, n)):
                    ids.append(int(asset_id))
                    idxs.append(k)
                    tss.append(k * frame_ms)
                    frames.append(bytes(payload[k * step : k * step + step]))
            yield pd.DataFrame(
                {"asset_id": pd.Series(ids, dtype="int64"),
                 "frame_idx": pd.Series(idxs, dtype="int32"),
                 "ts_ms": pd.Series(tss, dtype="int64"),
                 "frame": pd.Series(frames, dtype=object)}
            )

    return df.select(id_col, "payload").mapInPandas(kernel, FRAME_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def extract_audio_features(
    df: DataFrame,
    window_bytes: int = 1024,
    id_col: str = "doc_id",
    real_decode: bool = False,
) -> DataFrame:
    """Windowed audio features over binary payloads — the audio leg of
    the multimodal family (image: :func:`resize_images`, video:
    :func:`sample_frames`). By default payload bytes are treated as
    8-bit PCM (centered at 128); ``real_decode=True`` decodes the
    payload as PCM RIFF/WAVE (8/16-bit, multichannel mixed down) or
    FLAC (rice/LPC per RFC 9639) — pure numpy, see
    ``operators.codecs.decode_audio`` — and windows the decoded
    samples (``window_bytes`` then counts SAMPLES). Each
    window yields RMS energy, peak amplitude, and zero-crossing count
    — the numpy kernel shape a real librosa/ffmpeg decode would feed.
    Fan-out mapInPandas: no shuffle, one output row per window.
    """
    import numpy as np

    from dataflow_python_etl_spark.operators import codecs

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widx, rms, peak, zc = [], [], [], [], []
            for asset_id, payload in zip(pdf[id_col], pdf["payload"]):
                if real_decode:
                    _rate, samples = codecs.decode_audio(bytes(payload))
                else:
                    samples = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                        np.float64
                    ) - 128.0
                for w in range(0, len(samples) // window_bytes):
                    win = samples[w * window_bytes : (w + 1) * window_bytes]
                    ids.append(int(asset_id))
                    widx.append(w)
                    rms.append(round(float(np.sqrt(np.mean(win * win))), 6))
                    peak.append(int(np.max(np.abs(win))))
                    zc.append(int(np.count_nonzero(np.diff(np.sign(win)))))
            yield pd.DataFrame(
                {"asset_id": pd.Series(ids, dtype="int64"),
                 "window_idx": pd.Series(widx, dtype="int32"),
                 "rms": pd.Series(rms, dtype="float64"),
                 "peak": pd.Series(peak, dtype="int32"),
                 "zero_crossings": pd.Series(zc, dtype="int32")}
            )

    return df.select(id_col, "payload").mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Image near-duplicate tier: perceptual hash over REAL decoded pixels
# ---------------------------------------------------------------------------

IMAGE_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("variant", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

# Deterministic near-dup plant for the synthetic image corpus: the
# positions variant 2 perturbs (one pixel in each of 5 distinct 4x4
# blocks of a 32x32 image), and the brightness shift of variant 1.
_HOT_PIXELS = (0, 131, 262, 393, 524)
_BRIGHT_SHIFT = 9


def _spread_for_fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a metadata-sized frame feeding a
    CPU-heavy payload-DERIVING kernel. The driver's test tables are
    single-digit-MB parquet files — ONE scan split under the 128 MB
    production setting — so without this every synthetic encode/decode
    kernel runs on one core (measured: q151's 20,000 GIFs took 102 s
    ≈ the 4.75 ms/GIF single-thread cost, not the ~3 s 32 cores
    deliver). Real payload tables at 100 TB arrive pre-split by the
    scanner, which is why the REAL decode operators (image_phash,
    video_frame_hashes, audio_cdc_segments) do NOT force a shuffle —
    repartitioning terabytes of payload bytes would be the bug. The
    exchange moved here is text-sized (cheap) and only on the
    synthetic-derivation path."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def synthetic_image_corpus(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Derive a REAL image corpus (actual PNG bytes) deterministically
    from a text table, with planted near-duplicates — the fixture
    generator for the image near-dup tier, same role the documents
    table's planted text dups play for MinHash/SimHash.

    Per document (empty texts dropped), a 32x32 grayscale base image:
    pixel i (row-major) = unicode code point of text character
    ``i mod len(text)``, mod 256 — tiling the text across the frame.
    Four variants per doc (``image_id = doc_id*10 + v``):

    - v0: the base image;
    - v1: every pixel ``+9 mod 256`` — a global brightness shift,
      which the block-average hash is invariant to BY CONSTRUCTION
      (aHash's textbook property), so hamming(v0, v1) = 0;
    - v2: 5 "hot" pixels (one per distinct 4x4 block) ``+128 mod
      256`` — a small edit, hamming <= 5;
    - v3: inverted (``255 - p``) — a far image, never paired.

    Every pixel is an integer function of the text, so a SQL oracle
    reproduces the pixels — and therefore the perceptual hashes —
    bit-for-bit WITHOUT decoding PNG: the Spark side's real
    encode -> decode -> hash path is verified end-to-end by hash
    parity (any codec or hash defect breaks it). mapInPandas fan-out,
    no shuffle."""
    import numpy as np

    from dataflow_python_etl_spark.operators.codecs import encode_png

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, dids, vs, payloads = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if not text:
                    continue
                codes = np.array([ord(c) % 256 for c in text], dtype=np.uint8)
                base = np.resize(codes, 32 * 32).astype(np.int64)
                hot = base.copy()
                hot[list(_HOT_PIXELS)] = (hot[list(_HOT_PIXELS)] + 128) % 256
                for v, px in enumerate(
                    (base, (base + _BRIGHT_SHIFT) % 256, hot, 255 - base)
                ):
                    ids.append(int(doc_id) * 10 + v)
                    dids.append(int(doc_id))
                    vs.append(v)
                    payloads.append(
                        encode_png(px.astype(np.uint8).reshape(32, 32))
                    )
            yield pd.DataFrame(
                {
                    "image_id": pd.Series(ids, dtype="int64"),
                    "doc_id": pd.Series(dids, dtype="int64"),
                    "variant": pd.Series(vs, dtype="int32"),
                    "payload": payloads,
                }
            )

    return _spread_for_fanout(docs.select(id_col, text_col)).mapInPandas(kernel, IMAGE_CORPUS_SCHEMA)


def ahash64(pixels) -> int:
    """Portable 64-bit average hash of a decoded pixel array: exact
    integer arithmetic only, so the fingerprint is bit-identical
    across engines, platforms, and numpy versions.

    Luma per pixel (integer, x1000 scale): grayscale ``1000*g``; RGB
    ``299*R + 587*G + 114*B`` (BT.601 milli-weights); alpha channels
    ignored. The frame is cut into an 8x8 grid with exact boundaries
    ``floor(k*H/8)``; bit ``r*8+c`` is set iff the block's luma sum
    strictly exceeds the global mean scaled to the block —
    ``s_blk * (H*W) > total * n_blk``, an integer cross-multiply (no
    division, no floats; a global brightness shift cancels on both
    sides, giving the aHash invariance the near-dup tier relies on).
    Python-int accumulation: no overflow at any image size. Bit 63 is
    packed as the two's-complement minimum (the simhash discipline),
    so the value round-trips signed 64-bit storage on every engine.
    """
    import numpy as np

    px = np.asarray(pixels)
    # int64 vectorized luma (optimization r12, guide §4.2): the
    # object-dtype path ran one Python-int multiply per PIXEL —
    # measured as the dominant per-frame cost of the video/image
    # fingerprint kernels. Luma ≤ 255_000 per pixel, so int64 block
    # sums are exact up to ~3.6e13 pixels per image; the astronomical
    # remainder keeps the old exact-object path (same arithmetic).
    exact = px.size >= (1 << 44)
    dt = object if exact else np.int64
    if px.ndim == 2:
        luma = px.astype(dt) * 1000
    elif px.ndim == 3 and px.shape[2] in (3, 4):
        p = px.astype(dt)
        luma = 299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]
    elif px.ndim == 3 and px.shape[2] == 2:  # gray + alpha
        luma = px[:, :, 0].astype(dt) * 1000
    else:
        raise ValueError(f"expected (h,w[,2|3|4]) pixels, got {px.shape}")
    h, w = luma.shape[:2]
    if h < 8 or w < 8:
        raise ValueError(f"image too small for an 8x8 grid: {h}x{w}")
    total = int(luma.sum())
    n_px = h * w
    # block sums via two reduceat passes (rows then cols) — exact
    # int64; the 64 threshold compares stay Python ints (unbounded)
    rb = [r * h // 8 for r in range(8)]
    cb = [c * w // 8 for c in range(8)]
    rows = np.add.reduceat(luma, rb, axis=0)
    blocks = np.add.reduceat(rows, cb, axis=1)
    fp = 0
    for r in range(8):
        r0, r1 = r * h // 8, (r + 1) * h // 8
        for c in range(8):
            c0, c1 = c * w // 8, (c + 1) * w // 8
            if int(blocks[r, c]) * n_px > total * (r1 - r0) * (c1 - c0):
                k = r * 8 + c
                fp += -(1 << 63) if k == 63 else (1 << k)
    return fp


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def image_phash(
    df: DataFrame, id_col: str = "image_id", payload_col: str = "payload"
) -> DataFrame:
    """Perceptual fingerprint per image: REALLY decode each binary
    payload (any container ``operators.codecs`` reads — PNG, JPEG,
    GIF, BMP, netpbm, TIFF) and compute the portable integer
    :func:`ahash64` over the decoded pixels. Arrow-batched
    mapInPandas, partition-parallel, no shuffle — the map-side cost
    is one decode + one pass over the pixels per image."""
    from dataflow_python_etl_spark.operators.codecs import decode_image

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for payload in pdf[payload_col]:
                _fmt, pixels = decode_image(bytes(payload))
                hashes.append(ahash64(pixels))
            yield pd.DataFrame(
                {
                    "image_id": pdf[id_col].astype("int64"),
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, PHASH_SCHEMA)


def image_near_dup_pairs(
    images: DataFrame,
    id_col: str = "image_id",
    payload_col: str = "payload",
    max_hamming: int = 6,
    n_bands: int = 8,
    combine: int | None = None,
) -> DataFrame:
    """Image near-duplicate pair search: :func:`image_phash` per
    image, then pigeonhole-EXACT Hamming banding via
    ``dedup.hamming_banded_pairs`` (the machinery SimHash text dedup
    uses) — never all-pairs; candidates form only inside
    (band, band-bits) buckets and verification is one
    ``bit_count(xor)``. Returns (doc_a, doc_b, hamming), a < b.

    The fingerprint frame is persisted through the dedup cache
    registry (the self-join consumes it twice; an unregistered
    persist would leak and flatter bench medians — CLAUDE.md rule).
    At 100 TB the decode cost dominates and stays map-side; the
    shuffle carries only (id, 64-bit hash) rows.

    ``combine=None`` auto-selects band-PAIR keys (``combine=2``) when
    the pigeonhole allows (``max_hamming <= n_bands - 2``) — exact and
    ~73x fewer birthday-collision candidates at large n (the q150
    probe lesson); tight geometries fall back to single bands."""
    from dataflow_python_etl_spark.operators.dedup import (
        _persist,
        hamming_banded_pairs,
    )

    sig = _persist(image_phash(images, id_col, payload_col))
    if combine is None:
        combine = 2 if max_hamming <= n_bands - 2 else 1
    return hamming_banded_pairs(
        sig, "image_id", "phash", max_hamming, n_bands, combine=combine
    )


# ---------------------------------------------------------------------------
# Audio near-duplicate tier: energy fingerprint over REAL decoded samples
# (the audio leg of the near-dup matrix: text=MinHash/SimHash, image=aHash)
# ---------------------------------------------------------------------------

AUDIO_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("variant", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

# Synthetic-corpus plant geometry: clip length, the v1 gain, the one
# window pair v2 swaps (a content swap changes only E_13 and E_37, and
# each window energy appears in exactly two successive-difference bits
# — (12,13) and (36,37) — so hamming(v0, v2) <= 4 BY CONSTRUCTION),
# and the v3 tiling offset (a different slice of the text: a far clip
# that is still doc-specific, so far clips don't collapse onto one
# shared fingerprint).
_AUDIO_N = 2048
_AUDIO_GAIN = 4
_SWAP_WINDOWS = ((13, 37),)
_AUDIO_FAR = 997


def synthetic_audio_corpus(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Derive a REAL audio corpus (actual 16-bit PCM WAV bytes)
    deterministically from a text table, with planted near-duplicates
    — the audio twin of :func:`synthetic_image_corpus`.

    Per document (empty texts dropped), a 2048-sample mono clip:
    sample i = ``(codepoint(text[i mod len]) mod 256) - 128`` — the
    text tiled across the clip, centered at 0. Four variants per doc
    (``audio_id = doc_id*10 + v``):

    - v0: the base clip;
    - v1: every sample ``*4`` — a global GAIN change, which the
      difference fingerprint is invariant to BY CONSTRUCTION (every
      energy scales g^2 and the strict comparison is unmoved), so
      hamming(v0, v1) = 0;
    - v2: the CONTENTS of windows 13 and 37 swapped — only E_13 and
      E_37 change, and each energy appears in exactly two
      successive-difference bits, so hamming(v0, v2) <= 4, exact by
      construction;
    - v3: the text tiled from offset 997 — a far clip whose
      fingerprint is uncorrelated with v0 yet still doc-specific
      (far variants must not collapse onto one shared fingerprint,
      or the "far" population would all pair with itself).

    Every sample is an integer function of the text, so a SQL oracle
    reproduces the samples — and therefore the fingerprints — bit-
    for-bit WITHOUT parsing WAV: the Spark side's real
    encode -> decode -> fingerprint path is verified end-to-end by
    hash parity. mapInPandas fan-out, no shuffle."""
    import numpy as np

    from dataflow_python_etl_spark.operators.codecs import encode_wav

    win = _AUDIO_N // 64

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, dids, vs, payloads = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if not text:
                    continue
                codes = np.array(
                    [(ord(c) % 256) - 128 for c in text], dtype=np.int64
                )
                n = len(codes)
                base = np.resize(codes, _AUDIO_N)
                swapped = base.copy()
                for wa, wb in _SWAP_WINDOWS:
                    a = swapped[wa * win : (wa + 1) * win].copy()
                    swapped[wa * win : (wa + 1) * win] = swapped[
                        wb * win : (wb + 1) * win
                    ]
                    swapped[wb * win : (wb + 1) * win] = a
                far = codes[(np.arange(_AUDIO_N) + _AUDIO_FAR) % n]
                for v, samples in enumerate(
                    (base, base * _AUDIO_GAIN, swapped, far)
                ):
                    ids.append(int(doc_id) * 10 + v)
                    dids.append(int(doc_id))
                    vs.append(v)
                    payloads.append(encode_wav(samples))
            yield pd.DataFrame(
                {
                    "audio_id": pd.Series(ids, dtype="int64"),
                    "doc_id": pd.Series(dids, dtype="int64"),
                    "variant": pd.Series(vs, dtype="int32"),
                    "payload": payloads,
                }
            )

    return _spread_for_fanout(docs.select(id_col, text_col)).mapInPandas(kernel, AUDIO_CORPUS_SCHEMA)


def audio_fingerprint64(samples) -> int:
    """Portable 64-bit energy-profile fingerprint of a decoded sample
    array: exact integer arithmetic only (the :func:`ahash64`
    discipline), so the fingerprint is bit-identical across engines
    and platforms.

    Samples are doubled and rounded to integers (``decode_audio``
    yields exact-integer float64 for mono PCM; the x2 makes the .5
    values a multichannel mixdown can produce exact — and a uniform
    scale factor cannot move any bit, see below). The clip is cut
    into 64 windows with exact boundaries ``floor(k*N/64)``; bit k is
    set iff the window's energy (sum of squared samples) STRICTLY
    exceeds the NEXT window's, circularly: ``e_k > e_{(k+1) mod 64}``
    — the successive-difference shape acoustic fingerprints
    (Chromaprint-family) use, because each bit depends only on LOCAL
    energy contrast. Comparing against the global mean instead turns
    out to be badly correlated across clips whose content shares
    amplitude statistics (natural text/audio alike): measured on the
    document-derived corpus, mean-threshold fingerprints put ~6% of
    ALL cross-clip pairs inside Hamming 6, versus ~0 for the
    difference form. A global GAIN change scales every energy by g^2
    and cannot flip a strict comparison — the volume invariance the
    near-dup tier relies on, exact by construction. Python-int
    accumulation: no overflow at any clip length or bit depth. Bit 63
    is packed as the two's-complement minimum (the simhash
    discipline), so the value round-trips signed 64-bit storage."""
    import numpy as np

    s = np.asarray(samples, dtype=np.float64)
    n = int(s.shape[0])
    if n < 64:
        raise ValueError(f"clip too short for a 64-window fingerprint: {n}")
    q = np.rint(s * 2).astype(np.int64).astype(object)
    e = q * q
    energies = [
        int(e[k * n // 64 : (k + 1) * n // 64].sum()) for k in range(64)
    ]
    fp = 0
    for k in range(64):
        if energies[k] > energies[(k + 1) % 64]:
            fp += -(1 << 63) if k == 63 else (1 << k)
    return fp


AUDIO_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def audio_phash(
    df: DataFrame, id_col: str = "audio_id", payload_col: str = "payload"
) -> DataFrame:
    """Acoustic fingerprint per clip: REALLY decode each binary
    payload (WAV or FLAC — ``operators.codecs.decode_audio``) and
    compute the portable integer :func:`audio_fingerprint64` over the
    decoded samples. Arrow-batched mapInPandas, partition-parallel,
    no shuffle — the map-side cost is one decode + one pass over the
    samples per clip."""
    from dataflow_python_etl_spark.operators.codecs import decode_audio

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for payload in pdf[payload_col]:
                _rate, samples = decode_audio(bytes(payload))
                hashes.append(audio_fingerprint64(samples))
            yield pd.DataFrame(
                {
                    "audio_id": pdf[id_col].astype("int64"),
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, AUDIO_PHASH_SCHEMA)


def audio_near_dup_pairs(
    clips: DataFrame,
    id_col: str = "audio_id",
    payload_col: str = "payload",
    max_hamming: int = 6,
    n_bands: int = 8,
    combine: int | None = None,
) -> DataFrame:
    """Audio near-duplicate pair search: :func:`audio_phash` per clip,
    then pigeonhole-EXACT Hamming banding via
    ``dedup.hamming_banded_pairs`` — the same candidate/verify core
    the SimHash text tier and the image tier use; never all-pairs.
    Returns (doc_a, doc_b, hamming), a < b.

    The fingerprint frame is persisted through the dedup cache
    registry (the self-join consumes it twice). At 100 TB the decode
    cost dominates and stays map-side; the shuffle carries only
    (id, 64-bit hash) rows.

    ``combine=None`` auto-selects band-PAIR keys (``combine=2``) when
    the pigeonhole allows (``max_hamming <= n_bands - 2``) — exact and
    ~73x fewer birthday-collision candidates at large n (the q150
    probe lesson); tight geometries fall back to single bands."""
    from dataflow_python_etl_spark.operators.dedup import (
        _persist,
        hamming_banded_pairs,
    )

    sig = _persist(audio_phash(clips, id_col, payload_col))
    if combine is None:
        combine = 2 if max_hamming <= n_bands - 2 else 1
    return hamming_banded_pairs(
        sig, "audio_id", "phash", max_hamming, n_bands, combine=combine
    )


# ---------------------------------------------------------------------------
# Video near-duplicate tier: per-frame perceptual hash sets + Jaccard
# (completes the near-dup matrix: text, image, audio, video)
# ---------------------------------------------------------------------------

VIDEO_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("variant", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

# Synthetic-corpus plant geometry: 6 frames of 16x16, frame f's pixels
# offset by 7*f characters into the text; the far variant inverts.
# Hot pixels for the one-frame edit live in 5 distinct 2x2 blocks.
_VIDEO_FRAMES = 6
_VIDEO_HW = 16
_VIDEO_STRIDE = 7
_VIDEO_HOT = (0, 37, 101, 149, 255)


def synthetic_video_corpus(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Derive a REAL video corpus (actual animated-GIF bytes)
    deterministically from a text table, with planted near-duplicates
    — the moving-picture twin of :func:`synthetic_image_corpus`.

    Per document (empty texts dropped), 6 grayscale 16x16 frames:
    frame f, pixel i (row-major) = codepoint of text char
    ``(i + 7f) mod len`` mod 256, encoded RGB (p,p,p) so the global
    GIF palette stays <= 256 colors. Four variants per doc
    (``video_id = doc_id*10 + v``):

    - v0: frames 0..5 in order;
    - v1: the SAME frames reversed — identical frame-hash SET, so
      Jaccard(v0, v1) = 1 (frame order must not matter to a
      re-encode/re-mux detector);
    - v2: frames 0..4 plus frame 5 with 5 hot pixels ``+128 mod 256``
      (one per distinct 2x2 block) — 5 common frames of <= 7 union,
      Jaccard >= 5/7;
    - v3: every frame INVERTED (``255 - p``) — a far video, never
      paired (the q143 far-variant discipline: inversion flips the
      hash far from the base, where a mere tiling offset measurably
      does not under the coarse 8x8 aHash).

    Every pixel is an integer function of the text, so a SQL oracle
    reproduces the per-frame hashes — and the pair Jaccards — exactly
    WITHOUT decoding GIF: the Spark side's real encode -> decode ->
    hash -> set-join path is verified end-to-end by hash parity.
    mapInPandas fan-out, no shuffle."""
    import numpy as np

    from dataflow_python_etl_spark.operators.codecs import encode_gif

    hw = _VIDEO_HW

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, dids, vs, payloads = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if not text:
                    continue
                codes = np.array([ord(c) % 256 for c in text], dtype=np.uint8)
                n = len(codes)

                def frame(offset: int) -> np.ndarray:
                    idx = (np.arange(hw * hw) + offset) % n
                    g = codes[idx].reshape(hw, hw)
                    return np.repeat(g[:, :, None], 3, axis=2)

                base = [frame(_VIDEO_STRIDE * f) for f in range(_VIDEO_FRAMES)]
                hot = base[-1].copy().reshape(-1, 3)
                hot[list(_VIDEO_HOT)] = (
                    hot[list(_VIDEO_HOT)].astype(np.int64) + 128
                ) % 256
                edited = base[:-1] + [hot.reshape(hw, hw, 3).astype(np.uint8)]
                inverted = [
                    (255 - fr.astype(np.int64)).astype(np.uint8)
                    for fr in base
                ]
                for v, frames in enumerate(
                    (base, base[::-1], edited, inverted)
                ):
                    ids.append(int(doc_id) * 10 + v)
                    dids.append(int(doc_id))
                    vs.append(v)
                    payloads.append(encode_gif(frames))
            yield pd.DataFrame(
                {
                    "video_id": pd.Series(ids, dtype="int64"),
                    "doc_id": pd.Series(dids, dtype="int64"),
                    "variant": pd.Series(vs, dtype="int32"),
                    "payload": payloads,
                }
            )

    return _spread_for_fanout(docs.select(id_col, text_col)).mapInPandas(kernel, VIDEO_CORPUS_SCHEMA)


FRAME_HASH_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.LongType()),
        T.StructField("frame_hash", T.LongType()),
    ]
)


def video_frame_hashes(
    df: DataFrame, id_col: str = "video_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-frame perceptual fingerprints for each video payload:
    REALLY decode every frame (``codecs.decode_video_frames`` —
    container-independent GIF/MJPEG-AVI dispatch; the ffmpeg
    integration point for mp4/webm) and :func:`ahash64` each.
    Fan-out mapInPandas (one row per frame), partition-parallel, no
    shuffle — decode cost stays map-side, and only (id, 64-bit hash)
    rows ever move. Container independence is pinned in tests: the
    same frames as GIF and as MJPEG AVI hash identically (the video
    twin of audio's WAV==FLAC)."""
    from dataflow_python_etl_spark.operators.codecs import decode_video_frames

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for vid, payload in zip(pdf[id_col], pdf[payload_col]):
                for px in decode_video_frames(bytes(payload)):
                    ids.append(int(vid))
                    hashes.append(ahash64(px))
            yield pd.DataFrame(
                {
                    "video_id": pd.Series(ids, dtype="int64"),
                    "frame_hash": pd.Series(hashes, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, FRAME_HASH_SCHEMA)


def video_near_dup_pairs(
    videos: DataFrame,
    id_col: str = "video_id",
    payload_col: str = "payload",
    min_jaccard_ppm: int = 500_000,
) -> DataFrame:
    """Video near-duplicate pair search by frame-hash-set Jaccard:
    :func:`video_frame_hashes` per video, DISTINCT to hash sets (so a
    re-ordered / re-muxed copy scores 1.0), then candidates form ONLY
    where two videos SHARE a frame hash — an equi-join on the hash,
    never all-pairs — and the Jaccard is computed from exact integer
    set sizes: ``jaccard_ppm = (1e6 * common) div (na + nb - common)``
    (integer division, bit-identical across engines). Returns
    ``(vid_a, vid_b, n_common, jaccard_ppm)`` with vid_a < vid_b,
    filtered to ``jaccard_ppm`` at least ``min_jaccard_ppm`` by exact
    cross-multiply.

    Scale shape: decode is map-side; the shuffles carry (id, hash)
    rows keyed by hash. A degenerate hash shared by many videos (a
    black frame) fans out quadratically on that key — the same
    wedge shape as the triangle join; AQE skew-split plus the
    pigeonhole bound that near-dup PAIRS must share a hash keep the
    candidate volume proportional to real duplication, and a
    stop-hash cap (drop hashes above a document-frequency bound, the
    rare-shingle discipline) is the escape hatch if a corpus ships
    one."""
    from dataflow_python_etl_spark.operators.dedup import _persist

    h = _persist(video_frame_hashes(videos, id_col, payload_col).distinct())
    sizes = h.groupBy("video_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = h.alias("a"), h.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.frame_hash") == F.col("b.frame_hash"))
            & (F.col("a.video_id") < F.col("b.video_id")),
        )
        .groupBy(
            F.col("a.video_id").alias("vid_a"),
            F.col("b.video_id").alias("vid_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("video_id").alias("vid_a"), F.col("n").alias("__na"))
    sb = sizes.select(F.col("video_id").alias("vid_b"), F.col("n").alias("__nb"))
    return (
        common.join(sa, "vid_a")
        .join(sb, "vid_b")
        .withColumn("__union", F.col("__na") + F.col("__nb") - F.col("n_common"))
        .where(F.col("n_common") * F.lit(1_000_000) >= F.lit(min_jaccard_ppm) * F.col("__union"))
        .select(
            "vid_a",
            "vid_b",
            "n_common",
            F.expr("(1000000 * n_common) div __union").alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Audio containment tier: content-defined chunking (CDC) segment hashes
# (the TRIMMED-clip case the global fingerprint cannot see — a clip cut
# out of a longer recording shares no window grid with its source, but
# shares content-defined segment boundaries by construction)
# ---------------------------------------------------------------------------

# CDC geometry: a boundary is cut AFTER sample i when the rolling hash
# of the last _CDC_WINDOW samples is divisible by _CDC_DIVISOR, so the
# expected segment length is ~_CDC_DIVISOR samples and boundary
# placement depends ONLY on local content — a sub-clip at ANY offset
# reproduces its source's interior boundaries (the LBFS/rsync
# content-defined-chunking idea applied to PCM samples). Exact integer
# arithmetic end-to-end: divisibility is sign-safe in every engine,
# and the per-segment hash is a positionally-weighted sum folded to a
# canonical non-negative residue, so a SQL oracle reproduces every
# segment hash bit-for-bit.
#
# Constant choices are MEASURED, not guessed (the round-8 fingerprint
# lesson): base 31 has multiplicative order 2 mod any 2^k (31 ≡ -1 mod
# 32), which collapses the rolling hash to an alternating ±sum whose
# residues can structurally MISS 0 on a narrow alphabet — 8 of 500
# text-derived clips produced ZERO cuts in 4096 samples under
# (B=31, D=64). A PRIME divisor with base 131 spreads the residues:
# same corpus, every clip cut (min 17 segments), planted-trim
# containment >= 888888 ppm, zero cross-clip or inverted-content pairs
# above 500000 ppm. The rolling hash uses the MOD-REDUCED weights
# 131^j mod 61 (divisibility mod 61 is unchanged; the raw 131^7 weight
# would overflow int64 on 16-bit PCM), and segments shorter than
# _CDC_MIN_SEG samples are dropped — micro-segments between adjacent
# cuts hash tiny weighted sums that collide across unrelated clips
# (the same degenerate-fragment noise the minhash tier's stop-shingle
# cap handles).
_CDC_WINDOW = 8
_CDC_BASE = 131
_CDC_DIVISOR = 61
_CDC_MIN_SEG = 4
_CDC_WEIGHT_MUL = 2_654_435_761  # Knuth multiplicative constant
_CDC_WEIGHT_MOD = 1_000_003
_CDC_HASH_MOD = 1_000_000_007


def cdc_segment_hashes(samples) -> list:
    """Content-defined segment hashes (a MULTISET, order dropped) of
    one decoded sample array.

    Rolling hash at position ``i >= W-1``:
    ``rh_i = sum_{j=0..W-1} s[i-j] * (B^j mod D)`` — congruent mod D
    to the textbook polynomial hash, and int64-safe for any PCM bit
    depth (|term| <= 32768*60). A boundary is cut AFTER ``i`` when
    ``D`` divides ``rh_i``. Each segment of length >= ``_CDC_MIN_SEG``
    hashes to ``(sum_j s_j * ((j*MUL + 1) mod WMOD)) mod HMOD`` folded
    non-negative, ``j`` the position INSIDE the segment — equal
    content hashes equal regardless of clip offset. Clips shorter
    than the window are one (possibly dropped) segment."""
    import numpy as np

    s = np.rint(np.asarray(samples, dtype=np.float64)).astype(np.int64)
    n = int(s.shape[0])
    if n == 0:
        return []
    w = _CDC_WINDOW
    cuts = np.zeros(n, dtype=np.int64)
    if n >= w:
        # row t of the sliding view is s[t..t+w-1] and scores position
        # i = t+w-1, where s[i-j] pairs with B^j mod D — so the dot
        # vector is [B^(w-1) % D, ..., B^0 % D]
        weights = np.array(
            [pow(_CDC_BASE, j, _CDC_DIVISOR) for j in range(w - 1, -1, -1)],
            dtype=np.int64,
        )
        rh = np.lib.stride_tricks.sliding_window_view(s, w) @ weights
        cuts[w - 1 :] = (rh % _CDC_DIVISOR) == 0
    seg = np.concatenate(([0], np.cumsum(cuts)[:-1]))
    starts = np.flatnonzero(np.concatenate(([1], np.diff(seg))))
    lens = np.diff(np.concatenate((starts, [n])))
    pos_in_seg = np.arange(n, dtype=np.int64) - np.repeat(starts, lens)
    wgt = (pos_in_seg * _CDC_WEIGHT_MUL + 1) % _CDC_WEIGHT_MOD
    sums = np.add.reduceat(s * wgt, starts)
    hs = ((sums % _CDC_HASH_MOD) + _CDC_HASH_MOD) % _CDC_HASH_MOD
    return [int(h) for h, L in zip(hs, lens) if L >= _CDC_MIN_SEG]


def cdc_state_new() -> tuple:
    """Fresh carry state for :func:`cdc_push_chunk` — the BOUNDED
    (O(_CDC_WINDOW)) cross-chunk residue that makes hour-scale media
    chunk-CDC-able online: ``(tail, seg_sum, seg_len, n_seen)`` where
    ``tail`` is the last ≤ W−1 samples (rolling-window continuation),
    ``seg_sum``/``seg_len`` the open segment's weighted sum (mod
    _CDC_HASH_MOD) and length, ``n_seen`` the global sample count."""
    return ([], 0, 0, 0)


def cdc_push_chunk(state: tuple, samples) -> tuple:
    """Feed the next in-order chunk of a clip through the CDC cutter;
    returns ``(new_state, completed_segment_hashes)``.

    INVARIANT (property-pinned in tests/test_multimodal_containment):
    for any split of a sample array into ordered chunks,
    ``push*; finish`` emits exactly ``cdc_segment_hashes(concat)`` —
    boundary decisions use global positions (the tail carries the
    W−1 window overlap), and the open segment's positional weights
    continue from ``seg_len``, so chunk boundaries are invisible to
    the math. Per-chunk cost is the batch kernel's (vectorized
    sliding window + reduceat); carry state stays O(W) no matter how
    long the recording — THIS is what lets the streaming sink CDC a
    clip that never fits one micro-batch row. ``seg_sum`` is reduced
    mod _CDC_HASH_MOD per push (congruent to the batch kernel's
    end-fold; also removes the batch kernel's theoretical int64 wrap
    on a pathological 10-hour cut-free segment)."""
    import numpy as np

    tail, seg_sum, seg_len, n_seen = state
    c = np.rint(np.asarray(samples, dtype=np.float64)).astype(np.int64)
    m = int(c.shape[0])
    if m == 0:
        return state, []
    w = _CDC_WINDOW
    t = len(tail)
    ext = np.concatenate((np.asarray(tail, dtype=np.int64), c))
    cuts = np.zeros(m, dtype=np.int64)
    if t + m >= w:
        weights = np.array(
            [pow(_CDC_BASE, j, _CDC_DIVISOR) for j in range(w - 1, -1, -1)],
            dtype=np.int64,
        )
        rh = np.lib.stride_tricks.sliding_window_view(ext, w) @ weights
        # rh[idx] scores the window ending at ext position idx+w-1 =
        # chunk position idx+w-1-t; the first chunk position with a
        # full GLOBAL window is max(w-1-t, 0) (t = min(n_seen, w-1),
        # so this is exactly the batch kernel's i >= w-1 rule)
        pstart = max(w - 1 - t, 0)
        cuts[pstart:] = (rh % _CDC_DIVISOR) == 0
    seg_idx = np.concatenate(([0], np.cumsum(cuts)[:-1]))
    starts = np.flatnonzero(np.concatenate(([1], np.diff(seg_idx))))
    lens = np.diff(np.concatenate((starts, [m])))
    pos = np.arange(m, dtype=np.int64) - np.repeat(starts, lens)
    pos[: int(lens[0])] += seg_len  # open segment: j continues
    wgt = (pos * _CDC_WEIGHT_MUL + 1) % _CDC_WEIGHT_MOD
    sums = np.add.reduceat(c * wgt, starts) % _CDC_HASH_MOD
    total_lens = lens.copy()
    total_lens[0] += seg_len
    sums[0] = (sums[0] + seg_sum) % _CDC_HASH_MOD
    ends_with_cut = bool(cuts[m - 1])
    n_done = len(starts) if ends_with_cut else len(starts) - 1
    out = [
        int(sums[i])
        for i in range(n_done)
        if total_lens[i] >= _CDC_MIN_SEG
    ]
    if ends_with_cut:
        new_sum, new_len = 0, 0
    else:
        new_sum, new_len = int(sums[-1]), int(total_lens[-1])
    new_tail = ext[-(w - 1):] if ext.shape[0] >= w - 1 else ext
    return (new_tail.tolist(), new_sum, new_len, n_seen + m), out


def cdc_finish(state: tuple) -> list:
    """Close the open segment at end-of-clip: one final hash if it
    meets _CDC_MIN_SEG, else nothing (matches the batch kernel's
    remainder-segment rule; a cut on the clip's last sample leaves
    an empty open segment and emits nothing)."""
    _tail, seg_sum, seg_len, _n_seen = state
    if seg_len >= _CDC_MIN_SEG:
        return [int(seg_sum % _CDC_HASH_MOD)]
    return []


SEGMENT_HASH_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.LongType()),
        T.StructField("seg_hash", T.LongType()),
    ]
)


# --- chunked VIDEO byte-stream CDC (the audio carry kernel's video
# twin, VERDICT r9 #7): an hour-scale MJPEG AVI arrives as arbitrary
# BYTE ranges — chunk boundaries need not align with frames or even
# RIFF chunk headers. The carry state is an incremental RIFF parser:
# a bounded byte buffer (≤ one frame + 12 bytes once inside movi; the
# header region before movi is buffered whole, bounded by container
# construction) plus a handful of scalars. INVARIANT (property-pinned
# like cdc_push_chunk): for ANY split of an AVI byte stream into
# ordered chunks, push*; finish emits exactly
# [ahash64(f) for f in decode_avi_frames(whole)] in frame order, and
# raises the same loud errors on the same malformed inputs.

_VCDC_STAGES = ("riff", "toplevel", "need_list_type", "hdrl", "movi", "skip")


def video_cdc_state_new() -> dict:
    """Fresh carry state for :func:`video_cdc_push_chunk`:
    ``stage`` (parser position), ``buf`` (unconsumed bytes), ``vids``
    (MJPEG video stream number, -1 until found), ``end`` (absolute
    RIFF end), ``movi_end`` (absolute end of the current movi list),
    ``abs`` (absolute offset of buf[0]), ``skip`` (bytes left to
    discard without buffering), ``n_frames``."""
    return {
        "stage": "riff",
        "buf": b"",
        "vids": -1,
        "end": -1,
        "movi_end": -1,
        "abs": 0,
        "skip": 0,
        "n_frames": 0,
    }


def _vcdc_scan_hdrl(body: bytes) -> int:
    """Scan a fully-buffered hdrl LIST body for the first 'vids'
    stream; return its stream number. Same fourcc rules and loud
    gates as :func:`~.codecs.decode_avi_frames`."""
    import struct

    from dataflow_python_etl_spark.operators.codecs import _MJPEG_FOURCCS

    pos, stream_no, vids, pending_strf = 0, -1, -1, False
    while pos + 8 <= len(body):
        fourcc = body[pos : pos + 4]
        (size,) = struct.unpack_from("<I", body, pos + 4)
        b0 = pos + 8
        if fourcc == b"LIST":
            pos = b0 + 4  # descend into strl etc.
            continue
        if fourcc == b"strh" and size >= 8:
            stream_no += 1
            pending_strf = False
            if body[b0 : b0 + 4] == b"vids" and vids < 0:
                handler = body[b0 + 4 : b0 + 8]
                if handler in _MJPEG_FOURCCS:
                    vids = stream_no
                elif handler == b"\x00\x00\x00\x00":
                    vids = stream_no
                    pending_strf = True
                else:
                    raise NotImplementedError(
                        f"AVI video codec {handler!r} is not MJPEG — "
                        "plug ffmpeg here for other codecs"
                    )
        elif fourcc == b"strf" and pending_strf:
            pending_strf = False
            comp = body[b0 + 16 : b0 + 20] if size >= 20 else b""
            if comp not in _MJPEG_FOURCCS:
                raise NotImplementedError(
                    f"AVI video biCompression {comp!r} is not MJPEG — "
                    "plug ffmpeg here for other codecs"
                )
        pos = b0 + size + (size & 1)
    return vids


def video_cdc_push_chunk(state: dict, chunk: bytes) -> tuple:
    """Feed the next in-order byte range of an AVI stream; returns
    ``(new_state, frame_hashes)`` — the :func:`ahash64` of every
    frame COMPLETED by this chunk, in frame order. Non-video chunks
    (audio streams, idx1, JUNK) are skipped without buffering
    (``skip`` counts bytes down), so the buffer high-water mark in
    steady state is one video frame + 12 bytes regardless of clip
    length — THIS is what lets the streaming sink fingerprint a
    recording that never fits one micro-batch row."""
    import struct

    from dataflow_python_etl_spark.operators.codecs import decode_jpeg

    st = dict(state)
    st["buf"] = bytes(st["buf"]) + bytes(chunk)
    hashes: list[int] = []
    while True:
        buf, ab = st["buf"], st["abs"]
        if st["skip"] > 0:
            k = min(st["skip"], len(buf))
            st["buf"], st["abs"] = buf[k:], ab + k
            st["skip"] -= k
            if st["skip"] > 0:
                break
            st["stage"] = "movi" if st["movi_end"] > 0 and ab + k < st["movi_end"] else "toplevel"
            continue
        if st["stage"] == "riff":
            if len(buf) < 12:
                break
            if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
                raise ValueError("not an AVI payload")
            (size,) = struct.unpack_from("<I", buf, 4)
            st["end"] = 8 + size
            st["buf"], st["abs"] = buf[12:], 12
            st["stage"] = "toplevel"
            continue
        if st["stage"] in ("toplevel", "movi"):
            in_movi = st["stage"] == "movi"
            limit = st["movi_end"] if in_movi else st["end"]
            if ab >= limit:
                if in_movi:
                    st["stage"] = "toplevel"
                    continue
                # past declared RIFF end: ignore trailing bytes (the
                # batch walk stops at `end` the same way)
                st["buf"], st["abs"] = b"", ab + len(buf)
                break
            if len(buf) < 8:
                break
            fourcc = buf[:4]
            (size,) = struct.unpack_from("<I", buf, 4)
            if ab + 8 + size > limit:
                raise ValueError(f"AVI chunk {fourcc!r} overruns container")
            if fourcc == b"LIST":
                if len(buf) < 12:
                    break
                ltype = buf[8:12]
                if ltype in (b"movi", b"rec "):
                    # transparent descent; remember where movi ends
                    if not in_movi:
                        st["movi_end"] = ab + 8 + size
                    st["buf"], st["abs"] = buf[12:], ab + 12
                    st["stage"] = "movi"
                    continue
                if ltype == b"hdrl":
                    if len(buf) < 8 + size:
                        break  # header region buffered whole (bounded)
                    st["vids"] = _vcdc_scan_hdrl(buf[12 : 8 + size])
                    pad = size & 1
                    consume = min(8 + size + pad, len(buf))
                    st["buf"], st["abs"] = buf[consume:], ab + consume
                    st["skip"] = (8 + size + pad) - consume
                    if st["skip"]:
                        st["stage"] = "skip"
                    continue
                # other LISTs (odml ...): skip their whole body
                st["buf"], st["abs"] = buf[12:], ab + 12
                st["skip"] = size - 4 + (size & 1)
                st["stage"] = "skip"
                continue
            is_frame = (
                in_movi
                and size > 0
                and fourcc[2:4] in (b"dc", b"db")
                and fourcc[:2].isdigit()
                and st["vids"] >= 0
                and int(fourcc[:2].decode("ascii")) == st["vids"]
            )
            if is_frame:
                if len(buf) < 8 + size:
                    break  # buffer until the frame body is complete
                hashes.append(ahash64(decode_jpeg(buf[8 : 8 + size])))
                st["n_frames"] += 1
                pad = size & 1
                consume = min(8 + size + pad, len(buf))
                st["buf"], st["abs"] = buf[consume:], ab + consume
                st["skip"] = (8 + size + pad) - consume
                if st["skip"]:
                    st["stage"] = "skip"
                continue
            # non-video chunk: discard body without buffering
            st["buf"], st["abs"] = buf[8:], ab + 8
            st["skip"] = size + (size & 1)
            st["stage"] = "skip"
            continue
        raise AssertionError(f"unknown vcdc stage {st['stage']!r}")
    return st, hashes


def video_cdc_finish(state: dict) -> None:
    """End-of-clip validation (no open-segment concept — frames are
    self-delimiting): raises the batch decoder's loud errors if the
    stream ended mid-chunk, never found a video stream, or carried no
    frames. Mirrors ``decode_avi_frames``' post-walk checks."""
    buf = bytes(state["buf"])
    if state["stage"] == "riff":
        raise ValueError("not an AVI payload" if buf else "empty AVI stream")
    # abs < end alone is truncation even with an EMPTY carry buffer: a
    # stream cut exactly on a RIFF chunk boundary inside movi leaves
    # nothing buffered, yet decode_avi_frames raises on the same bytes
    # (a complete stream always reaches abs >= end via the trailing-
    # bytes discard path). ADVICE r10 medium.
    if state["skip"] > 0 or state["abs"] < state["end"]:
        raise ValueError("AVI truncated mid-chunk")
    if state["vids"] < 0:
        raise ValueError("AVI contains no video ('vids') stream")
    if state["n_frames"] == 0:
        raise ValueError("AVI video stream contains no frames")


def audio_cdc_segments(
    df: DataFrame, id_col: str = "audio_id", payload_col: str = "payload"
) -> DataFrame:
    """Content-defined segment fingerprints per clip: REALLY decode
    each binary payload (WAV/FLAC — ``operators.codecs``) and emit one
    ``(audio_id, seg_hash)`` row per kept CDC segment
    (:func:`cdc_segment_hashes` — duplicates preserved: the pair
    search is multiset containment). Fan-out mapInPandas (the
    ``video_frame_hashes`` shape), partition-parallel, no shuffle —
    decode cost stays map-side and only (id, int64 hash) rows move."""
    from dataflow_python_etl_spark.operators.codecs import decode_audio

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                _rate, samples = decode_audio(bytes(payload))
                for h in cdc_segment_hashes(samples):
                    ids.append(int(aid))
                    hashes.append(h)
            yield pd.DataFrame(
                {
                    "audio_id": pd.Series(ids, dtype="int64"),
                    "seg_hash": pd.Series(hashes, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, SEGMENT_HASH_SCHEMA)


def audio_containment_pairs(
    clips: DataFrame,
    id_col: str = "audio_id",
    payload_col: str = "payload",
    min_containment_ppm: int = 600_000,
) -> DataFrame:
    """Audio CONTAINMENT pair search by CDC segment-hash MULTISETS: a
    clip trimmed out of a longer recording shares its source's
    interior content-defined segments at ANY offset (the near-dup
    case the q150 global fingerprint cannot see — trimming shifts the
    fixed 64-window grid). Candidates form ONLY where two clips SHARE
    a segment hash (equi-join on the hash, never all-pairs); the
    multiset intersection ``sum(least(count_a, count_b))`` — not the
    distinct-set form — keeps repeated content (a looped sample, a
    tiled signal) weighted by how often it occurs. Containment is
    exact-integer: ``containment_ppm = (1e6 * common) div
    min(na, nb)``, filtered by cross-multiply. Returns ``(clip_a,
    clip_b, n_common, containment_ppm)`` with clip_a < clip_b.

    Scale shape is :func:`video_near_dup_pairs`'s: decode map-side,
    shuffles carry (id, hash) rows keyed by hash; a degenerate
    segment shared by many clips (digital silence) fans out
    quadratically on its key — AQE skew-split plus a stop-hash cap
    (drop hashes above a document-frequency bound) is the escape
    hatch, as for video frames and rare-shingle text."""
    from dataflow_python_etl_spark.operators.dedup import _persist

    counts = _persist(
        audio_cdc_segments(clips, id_col, payload_col)
        .groupBy("audio_id", "seg_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sizes = counts.groupBy("audio_id").agg(F.sum("c").alias("n"))
    a, b = counts.alias("a"), counts.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.seg_hash") == F.col("b.seg_hash"))
            & (F.col("a.audio_id") < F.col("b.audio_id")),
        )
        .groupBy(
            F.col("a.audio_id").alias("clip_a"),
            F.col("b.audio_id").alias("clip_b"),
        )
        .agg(F.sum(F.least(F.col("a.c"), F.col("b.c"))).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("audio_id").alias("clip_a"), F.col("n").alias("__na"))
    sb = sizes.select(F.col("audio_id").alias("clip_b"), F.col("n").alias("__nb"))
    return (
        common.join(sa, "clip_a")
        .join(sb, "clip_b")
        .withColumn("__min", F.least(F.col("__na"), F.col("__nb")))
        .where(
            F.col("n_common") * F.lit(1_000_000)
            >= F.lit(min_containment_ppm) * F.col("__min")
        )
        .select(
            "clip_a",
            "clip_b",
            "n_common",
            F.expr("(1000000 * n_common) div __min").alias("containment_ppm"),
        )
    )


# Containment-corpus plant geometry: 4096-sample clips with the text
# POSITION-MIXED into every sample (s_i = (c(i mod len)*31 + i*17) mod
# 256 - 128) — plain tiling makes the clip periodic, which collapses
# the distinct-segment population and let 8/500 real documents produce
# single-segment clips (measured); the i*17 mixing de-periodizes
# without breaking trim alignment, because the trim variant reproduces
# its source's ABSOLUTE positions. The far variant applies the
# byte-wise bijection x -> (7x+13) mod 256 to the text first — a
# tiling OFFSET of the same text would be a rotation sharing nearly
# every segment (the q151 far-variant lesson, doubly so here).
_CDC_N = 4096
_CDC_TRIM = (1024, 3072)


def synthetic_audio_containment_corpus(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Derive a REAL audio corpus (actual 16-bit PCM WAV bytes) with a
    planted TRIMMED sub-clip per document — the containment twin of
    :func:`synthetic_audio_corpus`. Per document (empty texts
    dropped), ``audio_id = doc_id*10 + v``:

    - v0: 4096 samples, ``s_i = (codepoint(text[i mod len])*31 +
      i*17) mod 256 - 128``;
    - v1: v0's samples [1024, 3072) — a trim at a NON-grid offset
      whose interior CDC segments equal v0's by construction (the
      rolling hash sees identical windows), measured containment
      >= 888888 ppm across all 500 sf0.001 documents;
    - v2: the same formula over the byte bijection ``(7x+13) mod
      256`` of the text — a far clip that is still doc-specific
      (measured: never pairs above 500000 ppm).

    Every sample is an integer function of the text, so a SQL oracle
    reproduces samples, boundaries, segment hashes, and pair scores
    bit-for-bit without parsing WAV (the q150 discipline)."""
    import numpy as np

    from dataflow_python_etl_spark.operators.codecs import encode_wav

    lo, hi = _CDC_TRIM

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, dids, vs, payloads = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if not text:
                    continue
                raw = np.array([ord(c) for c in text], dtype=np.int64)
                i = np.arange(_CDC_N, dtype=np.int64)
                base = (raw[i % len(raw)] * 31 + i * 17) % 256 - 128
                trim = base[lo:hi]
                far = ((raw[i % len(raw)] * 7 + 13) * 31 + i * 17) % 256 - 128
                for v, samples in enumerate((base, trim, far)):
                    ids.append(int(doc_id) * 10 + v)
                    dids.append(int(doc_id))
                    vs.append(v)
                    payloads.append(encode_wav(samples))
            yield pd.DataFrame(
                {
                    "audio_id": pd.Series(ids, dtype="int64"),
                    "doc_id": pd.Series(dids, dtype="int64"),
                    "variant": pd.Series(vs, dtype="int32"),
                    "payload": payloads,
                }
            )

    return _spread_for_fanout(docs.select(id_col, text_col)).mapInPandas(kernel, AUDIO_CORPUS_SCHEMA)


def video_jaccard_pairs_incremental(
    corpus_hashes: DataFrame | None,
    new_hashes: DataFrame,
    min_jaccard_ppm: int = 500_000,
) -> DataFrame:
    """Incremental twin of :func:`video_near_dup_pairs`: frame-hash-set
    Jaccard pairs of a NEW video batch against an already-indexed
    corpus (and against itself) — the probe the streaming video ingest
    runs per micro-batch. ``corpus_hashes`` carries the stored index
    rows ``(video_id, frame_hash, n)`` where ``n`` is that video's
    DISTINCT frame-hash count (stored denormalized per row so the
    probe never re-aggregates the corpus — per-batch cost scales with
    the batch and the hash-matched rows only); ``new_hashes`` is the
    raw ``(video_id, frame_hash)`` fan-out of the batch. Returns
    ``(vid_a, vid_b, n_common, jaccard_ppm)`` with vid_a < vid_b, each
    pair touching at least one new video — exactly the batch form
    restricted to new-id pairs (pinned in tests). Thin wrapper over
    :func:`set_fingerprint_pairs_incremental` (distinct-set Jaccard
    mode), which also supplies the replay-duplicate and direction
    double-count absorption."""
    corpus = None
    if corpus_hashes is not None:
        # stored rows are DISTINCT per (video_id, frame_hash): c = 1
        corpus = corpus_hashes.select(
            "video_id", "frame_hash", F.lit(1).cast("long").alias("c"), "n"
        )
    return set_fingerprint_pairs_incremental(
        corpus,
        new_hashes.select("video_id", "frame_hash"),
        metric="jaccard",
        min_score_ppm=min_jaccard_ppm,
        multiset=False,
    ).select(
        F.col("id_a").alias("vid_a"),
        F.col("id_b").alias("vid_b"),
        "n_common",
        F.col("score_ppm").alias("jaccard_ppm"),
    )


def set_fingerprint_counts(hashes: DataFrame, multiset: bool = False) -> DataFrame:
    """``(sid, shash, c, n)`` rows of an ``(id, hash)`` fan-out: ``c``
    is the hash's multiplicity within the id (1 everywhere unless
    ``multiset``), ``n`` the id's total count, denormalized per row —
    the stored index rows of every set-fingerprint sink."""
    from pyspark.sql import Window

    raw = hashes.toDF("sid", "shash")
    if not multiset:
        raw = raw.distinct()
    return (
        raw.groupBy("sid", "shash")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("n", F.sum("c").over(Window.partitionBy("sid")))
    )


def set_fingerprint_pairs_incremental(
    corpus_counts: DataFrame | None,
    new_hashes: DataFrame,
    metric: str = "jaccard",
    min_score_ppm: int = 500_000,
    multiset: bool = False,
) -> DataFrame:
    """Unified incremental probe for every SET-fingerprint modality:
    score a NEW batch's fingerprint multisets against an indexed
    corpus (and against itself), where a fingerprint is any fan-out of
    ``(id, hash)`` rows — video frame hashes, audio CDC segments, or
    any future kernel. ``corpus_counts`` carries the stored index rows
    ``(id, hash, c, n)`` (``c`` = the hash's multiplicity within the
    id, ``n`` = the id's total count — both denormalized so the probe
    never re-aggregates the corpus); ``new_hashes`` is the raw
    ``(id, hash)`` fan-out of the batch (``multiset=False`` collapses
    duplicates first — the video frame-SET semantics; ``True`` keeps
    multiplicity — the audio CDC trim semantics).

    ``metric``: ``jaccard`` scores ``common div (na + nb - common)``,
    ``containment`` scores ``common div min(na, nb)`` — both
    exact-integer ppm with cross-multiply thresholds, where ``common``
    is the multiset intersection ``sum(least(c_a, c_b))``. Returns
    ``(id_a, id_b, n_common, score_ppm)``, id_a < id_b, every pair
    touching at least one new id.

    Replay safety: a crash between index and corpus appends replays
    the SAME index rows; the matched-candidate ``distinct`` (over the
    pair-normalized count tuples — match-sized, never corpus-sized)
    collapses them, and it equally collapses the new-new direction
    double-count. Per-batch cost scales with the batch and the
    hash-matched index rows only."""
    from dataflow_python_etl_spark.operators.dedup import _persist

    if metric not in ("jaccard", "containment"):
        raise ValueError(f"metric must be jaccard|containment, got {metric!r}")
    new_cnt = _persist(set_fingerprint_counts(new_hashes, multiset))
    if corpus_counts is None:
        all_cnt = new_cnt
    else:
        all_cnt = corpus_counts.toDF("sid", "shash", "c", "n").unionByName(new_cnt)
    a, b = new_cnt.alias("a"), all_cnt.alias("b")
    lo = F.col("a.sid") < F.col("b.sid")
    matches = (
        a.join(
            b,
            (F.col("a.shash") == F.col("b.shash"))
            & (F.col("a.sid") != F.col("b.sid")),
        )
        .select(
            F.least("a.sid", "b.sid").alias("id_a"),
            F.greatest("a.sid", "b.sid").alias("id_b"),
            F.col("a.shash").alias("shash"),
            F.when(lo, F.col("a.c")).otherwise(F.col("b.c")).alias("c_lo"),
            F.when(lo, F.col("b.c")).otherwise(F.col("a.c")).alias("c_hi"),
            F.when(lo, F.col("a.n")).otherwise(F.col("b.n")).alias("n_lo"),
            F.when(lo, F.col("b.n")).otherwise(F.col("a.n")).alias("n_hi"),
        )
        .distinct()  # absorbs replayed index rows AND new-new direction dupes
    )
    scored = matches.groupBy("id_a", "id_b", "n_lo", "n_hi").agg(
        F.sum(F.least(F.col("c_lo"), F.col("c_hi"))).cast("long").alias("n_common")
    )
    denom = (
        F.col("n_lo") + F.col("n_hi") - F.col("n_common")
        if metric == "jaccard"
        else F.least(F.col("n_lo"), F.col("n_hi"))
    )
    return (
        scored.withColumn("__d", denom)
        .where(F.col("n_common") * F.lit(1_000_000) >= F.lit(min_score_ppm) * F.col("__d"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.expr("(1000000 * n_common) div __d").alias("score_ppm"),
        )
    )


# q153 plant geometry: one payload of EACH modality per document, with
# cross-document near-duplicates planted by anchor mapping — image
# pairs every (2k, 2k+1), audio every (3k, 3k+2) via a x2 gain copy,
# video every (5k, 5k+4) via reversed frames — so the full multimodal
# curate pipeline has planted work for every tier, and the tier ORDER
# (text -> image -> audio -> video, each pruned to prior survivors)
# is observable in which doc of an overlapping pair survives.
MULTIMODAL_PAYLOADS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("image", T.BinaryType()),
        T.StructField("clip", T.BinaryType()),
        T.StructField("video", T.BinaryType()),
    ]
)


def synthetic_multimodal_payloads(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One REAL payload per modality per document (PNG image, PCM WAV
    clip, animated-GIF video), derived deterministically from an
    ANCHOR document's text so cross-document near-duplicates are
    planted by construction:

    - image: 16x16 grayscale, pixel i = codepoint(anchor[i mod len])
      mod 256; anchor = doc_id rounded down to even — docs (2k, 2k+1)
      carry IDENTICAL images (aHash hamming 0);
    - clip: 2048 samples, codepoint mod 256 - 128 (the q150 base
      form); anchor = 3k for doc 3k+2, whose samples are also GAINED
      x2 — the energy-difference fingerprint is gain-invariant, so
      (3k, 3k+2) land at hamming 0 through a non-byte-identical
      payload;
    - video: 6 frames of the q151 base form (offset 7f); anchor = 5k
      for doc 5k+4, frames REVERSED — identical frame-hash SET,
      Jaccard exactly 1.

    Anchors that are absent or empty-text fall back to the document's
    own text (same rule in the q153 oracle). Every payload is an
    integer function of anchor text, so a SQL oracle reproduces every
    fingerprint without parsing containers — the q150/q151
    discipline, composed."""
    import numpy as np

    from dataflow_python_etl_spark.operators.codecs import (
        encode_gif,
        encode_png,
        encode_wav,
    )

    d = docs.select(id_col, text_col).where(F.length(text_col) > 0)
    did = F.col(id_col)
    anchored = (
        d.alias("s")
        .join(
            d.select(F.col(id_col).alias("__ia"), F.col(text_col).alias("__it")),
            F.col("__ia") == did - (did % 2),
            "left",
        )
        .join(
            d.select(F.col(id_col).alias("__aa"), F.col(text_col).alias("__at")),
            F.col("__aa")
            == did - F.when(did % 3 == 2, F.lit(2)).otherwise(F.lit(0)),
            "left",
        )
        .join(
            d.select(F.col(id_col).alias("__va"), F.col(text_col).alias("__vt")),
            F.col("__va")
            == did - F.when(did % 5 == 4, F.lit(4)).otherwise(F.lit(0)),
            "left",
        )
        .select(
            did.alias("doc_id"),
            F.coalesce(F.col("__it"), F.col(text_col)).alias("img_t"),
            F.coalesce(F.col("__at"), F.col(text_col)).alias("aud_t"),
            F.coalesce(F.col("__vt"), F.col(text_col)).alias("vid_t"),
        )
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, imgs, clips, vids = [], [], [], []
            for doc_id, img_t, aud_t, vid_t in zip(
                pdf["doc_id"], pdf["img_t"], pdf["aud_t"], pdf["vid_t"]
            ):
                doc_id = int(doc_id)
                iraw = np.array([ord(c) % 256 for c in img_t], dtype=np.int64)
                px = iraw[np.arange(256) % len(iraw)].reshape(16, 16)
                imgs.append(encode_png(px.astype(np.uint8)))
                araw = np.array(
                    [ord(c) % 256 - 128 for c in aud_t], dtype=np.int64
                )
                s = araw[np.arange(2048) % len(araw)]
                if doc_id % 3 == 2:
                    s = s * 2
                clips.append(encode_wav(s))
                vraw = np.array([ord(c) % 256 for c in vid_t], dtype=np.int64)
                frames = []
                for f in range(6):
                    fp = vraw[(np.arange(256) + 7 * f) % len(vraw)].reshape(16, 16)
                    frames.append(
                        np.repeat(fp[:, :, None], 3, axis=2).astype(np.uint8)
                    )
                if doc_id % 5 == 4:
                    frames = frames[::-1]
                vids.append(encode_gif(frames))
                ids.append(doc_id)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "image": imgs,
                    "clip": clips,
                    "video": vids,
                }
            )

    return _spread_for_fanout(anchored).mapInPandas(
        kernel, MULTIMODAL_PAYLOADS_SCHEMA
    )
