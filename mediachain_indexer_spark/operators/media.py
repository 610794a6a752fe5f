"""Media perceptual hashing: opaque binary media → 64-bit DCT pHash.

Parity: the reference attaches a base64 thumbnail to each doc at ingest and
computes its perceptual hash with PIL + imagehash
(``mediachain/indexer/mc_ingest.py`` thumbnail handling, ``mc_dedupe.py``
hash helpers).  This environment has no image libraries, so decode is
tiered: UNCOMPRESSED containers (netpbm P5/P6, BI_RGB BMP) decode for REAL
in pure numpy (``decode_image``), compressed containers (JPEG/PNG/GIF/WEBP
magics) remain the one prod-needs-PIL stub (a loud ``NotImplementedError``
the workers record as decode_ok=false), and unrecognized bytes fall back to
a deterministic fake so arbitrary sandbox fixtures still flow end-to-end.
The DCT pHash itself is the real imagehash.phash algorithm.  The one Spark
operator is ``compute_media_phashes``, an Arrow-batched ``mapInPandas``
crossing that ships only (media_ref, content) to the workers.

Media table shape:

    media_assets(media_ref string, content binary,
                 meta struct<mime string, width int, height int, n_bytes long>)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

PHASH_RESULT_SCHEMA = "media_ref string, phash long, decode_ok boolean"


def _decode_image_stub(content: bytes) -> np.ndarray:
    """STUB decoder — no PIL/imagehash in this environment.

    Production implementation decodes real image bytes and returns a
    grayscale 32×32 array for the DCT pHash.  The sandbox stand-in derives a
    deterministic fake "image" from the bytes so the full Arrow/mapInPandas
    path is exercised end-to-end with stable outputs.
    """
    if content is None:
        raise NotImplementedError("real image decode requires PIL (prod only)")
    arr = np.frombuffer(content, dtype=np.uint8)
    reps = int(np.ceil(1024 / max(len(arr), 1)))
    return np.tile(arr, reps)[:1024].reshape(32, 32).astype(np.float64)


class CorruptMediaError(ValueError):
    """Recognized container magic, unparseable payload — the caller's
    skip-don't-crash policy records decode_ok=false for these (the plain
    ValueError 'unrecognized container' case flows to the sandbox fake)."""


_BT601 = np.array([0.299, 0.587, 0.114])  # ITU-R BT.601 luma weights


def _decode_pnm(data: bytes) -> np.ndarray:
    """Binary PGM (P5) / PPM (P6) → grayscale float64 (H, W), pure numpy.

    The netpbm container is public knowledge: ASCII header tokens
    (magic, width, height, maxval) separated by whitespace, ``#`` comments
    to end-of-line, then raw big-endian samples (1 byte ≤ 255 maxval,
    2 bytes above).  Color collapses to BT.601 luma."""
    magic = data[:2]
    pos = 2
    tokens: list[int] = []
    while len(tokens) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval, then raw samples
    w, h, maxval = tokens
    if w <= 0 or h <= 0 or not 0 < maxval < 65536:
        raise ValueError(f"pnm: bad dimensions {w}x{h} maxval={maxval}")
    ch = 3 if magic == b"P6" else 1
    dt = np.dtype(">u2") if maxval > 255 else np.uint8
    n = w * h * ch
    raw = np.frombuffer(data, dtype=dt, count=n, offset=pos)
    img = raw.reshape(h, w, ch).astype(np.float64)
    if maxval != 255:
        img = img * (255.0 / maxval)
    return img @ _BT601 if ch == 3 else img[:, :, 0]


def _decode_bmp(data: bytes) -> np.ndarray:
    """Uncompressed 8/24/32-bit BI_RGB BMP → grayscale float64 (H, W).

    Little-endian BITMAPFILEHEADER (pixel offset at byte 10) +
    BITMAPINFOHEADER (width/height int32 at 18/22, bpp uint16 at 28,
    compression uint32 at 30); rows are padded to 4 bytes and stored
    bottom-up when height > 0.  8-bit is treated as grayscale (palette
    ignored — identity palette assumed, the common case for gray BMPs)."""
    if len(data) < 54:
        raise ValueError("bmp: truncated header")
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if comp != 0 or bpp not in (8, 24, 32):
        raise NotImplementedError(
            f"bmp: compression={comp} bpp={bpp} requires PIL (prod only)"
        )
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError(f"bmp: bad dimensions {w}x{h}")
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    if off + stride * h > len(data):
        raise ValueError("bmp: truncated pixel data")
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=off)
    img = rows.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        img = img[::-1]
    img = img.astype(np.float64)
    if nch == 1:
        return img[:, :, 0]
    return img[:, :, :3] @ _BT601[::-1]  # BMP stores BGR


def decode_image(content: bytes) -> np.ndarray:
    """REAL decode for the uncompressed containers a pure-numpy worker can
    parse (netpbm P5/P6, BI_RGB BMP) → grayscale float64 (H, W).

    Compressed containers (JPEG/PNG/GIF/WEBP magics) raise
    NotImplementedError — that is the ONLY remaining prod-needs-PIL stub;
    unrecognized bytes raise ValueError (corrupt payload, handled by the
    callers' skip-don't-crash policy)."""
    if content is None or len(content) < 2:
        raise ValueError("empty media payload")
    head = bytes(content[:8])
    if head[:2] in (b"P5", b"P6") or head[:2] == b"BM":
        # recognized magic: any parse failure is a CORRUPT payload, not an
        # unknown container — callers must record it as decode_ok=false,
        # never substitute the deterministic fake (CorruptMediaError keeps
        # the two cases distinguishable through the ValueError hierarchy)
        dec = _decode_pnm if head[:2] in (b"P5", b"P6") else _decode_bmp
        try:
            return dec(bytes(content))
        except NotImplementedError:
            raise
        except Exception as e:
            raise CorruptMediaError(f"{dec.__name__[8:]}: {e}") from e
    if (
        head[:2] == b"\xff\xd8"  # JPEG
        or head[:8] == b"\x89PNG\r\n\x1a\n"  # PNG
        or head[:4] == b"GIF8"  # GIF
        or head[:4] == b"RIFF"  # WEBP et al.
    ):
        raise NotImplementedError("compressed image decode requires PIL (prod only)")
    raise ValueError("unrecognized image container")


def _gray_to_32(img: np.ndarray) -> np.ndarray:
    """Area-average (box filter) resample of a grayscale array to 32×32 —
    the pHash front-end resize.  Production imagehash uses PIL's Lanczos;
    the box filter preserves the same low-frequency content the 8×8 DCT
    block keeps, which is what the Hamming-locality property needs."""
    h, w = img.shape
    # axes are handled INDEPENDENTLY: a small axis upsamples by index
    # replication, a large axis downsamples by box filter — a 16×1000
    # banner must box-filter its 1000 columns, not point-sample 32 of them
    # (point-sampling aliases high frequencies and breaks the Hamming
    # locality a 1-pixel shift should preserve)
    if h < 32:
        img = img[(np.arange(32) * h // 32).clip(0, h - 1), :]
        h = 32
    if w < 32:
        img = img[:, (np.arange(32) * w // 32).clip(0, w - 1)]
        w = 32
    if (h, w) == (32, 32):
        return img
    ye = (np.arange(33) * h) // 32
    xe = (np.arange(33) * w) // 32
    out = np.empty((32, 32), dtype=np.float64)
    for i in range(32):
        band = img[ye[i] : ye[i + 1]]
        for j in range(32):
            out[i, j] = band[:, xe[j] : xe[j + 1]].mean()
    return out


def _decode_any(content: bytes) -> np.ndarray:
    """Worker-side decode policy: REAL decode for parseable containers,
    the deterministic fake for anything else (so sandbox fixtures with
    arbitrary bytes still flow end-to-end), then the pHash front-end resize
    to 32×32.  Compressed containers surface the prod-only PIL stub as
    NotImplementedError, which the caller's skip-don't-crash handler
    records as decode_ok=false."""
    try:
        img = decode_image(content)
    except (NotImplementedError, CorruptMediaError):
        # prod-only decode and corrupt-recognized-container payloads both
        # surface to the caller's skip-don't-crash handler (decode_ok=false)
        raise
    except ValueError:
        img = _decode_image_stub(content)
    return _gray_to_32(img)


# 32×32 DCT-II basis, built once per worker: M[k, n] = 2·cos(π·k·(2n+1)/2N)
# (the unnormalized type-II DCT — same convention as scipy.fftpack.dct with
# norm=None, which is what the public imagehash.phash uses; normalization
# cancels out of the median threshold below, so it is omitted).
_DCT_N = 32
_DCT_M = 2.0 * np.cos(
    np.pi
    * np.arange(_DCT_N)[:, None]
    * (2.0 * np.arange(_DCT_N)[None, :] + 1.0)
    / (2.0 * _DCT_N)
)


def _phash_of_gray(img: np.ndarray) -> int:
    """64-bit perceptual hash of a 32×32 grayscale array — the REAL DCT
    pHash (imagehash.phash semantics, public knowledge), pure numpy.

    2-D DCT-II via two matrix products (M·img·Mᵀ ≡ dct(dct(img, axis=0),
    axis=1)), keep the top-left 8×8 low-frequency block (DC included), and
    threshold each coefficient against the block's MEDIAN — exactly 32 of
    64 bits set (ties broken by strict >), which maximizes the entropy of
    the hash and makes Hamming distance a calibrated similarity.  Row-major
    bit packing, MSB first; result folded to signed 64-bit (Spark LongType).

    This is the algorithm-complete production path: with a real decoder in
    front (PIL, prod only) it is a faithful imagehash.phash; the sandbox's
    stub decoder only fakes the DECODE, not the hash.
    """
    dct = _DCT_M @ img @ _DCT_M.T
    low = dct[:8, :8]
    bits = (low > np.median(low)).flatten()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    # to signed 64-bit
    return out - (1 << 64) if out >= (1 << 63) else out


def phash_media_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: (media_ref, content, ...) → (media_ref, phash,
    decode_ok) — Arrow-batched, vectorized per batch."""
    for pdf in batches:
        refs, hashes, oks = [], [], []
        for ref, content in zip(pdf["media_ref"], pdf["content"]):
            refs.append(ref)
            try:
                img = _decode_any(content)
                hashes.append(_phash_of_gray(img))
                oks.append(True)
            except Exception:
                # skip-don't-crash: ANY corrupt payload (None, empty/short
                # bytes, malformed container) marks the row, never the task
                hashes.append(None)
                oks.append(False)
        yield pd.DataFrame(
            {"media_ref": refs, "phash": pd.array(hashes, dtype="Int64"), "decode_ok": oks}
        )


def compute_media_phashes(media: DataFrame) -> DataFrame:
    """Distributed media hashing: binary column → 64-bit phash.

    The heavy work runs in Arrow-batched Python with only (media_ref,
    content) shipped across — metadata columns are pruned before the
    Python exchange.  Partitioning is the caller's: the output per row does
    not depend on it.
    """
    return media.select("media_ref", "content").mapInPandas(
        phash_media_batches, PHASH_RESULT_SCHEMA
    )
