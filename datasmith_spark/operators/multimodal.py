"""Multimodal binary-payload plumbing: images / video frames as opaque bytes.

The audio path (the label kernel's decode head, scan_decode.label_head_pdf)
is this engine's fully-real multimodal lane.
This module generalizes the same Spark-side plumbing — typed binary column +
metadata columns + Arrow-batched mapInPandas feature extraction with bounded
batch sizes — to image/video payloads.

All four codec lanes are fully implemented (no stubs, no PIL/ffmpeg
dependency):
  * 'rgb8'  — bytes = height*width*3 uint8 (row-major RGB)
  * 'vid8'  — bytes = n_frames*height*width uint8 (mono frames)
  * 'png'   — pure-stdlib decoder below (zlib inflate, filters 0-4,
              color types 0/2/3/4/6 at bit depth 8, non-interlaced)
  * 'jpeg'  — pure-python baseline codec (operators/jpeg.py: T.81
              sequential DCT, Annex K tables, 4:4:4 / 4:2:0, restarts)
The schema, partitioning, UDF signature and batch shapes are the
scale-ready parts; a real cluster deployment can swap libjpeg-turbo/PIL in
behind the same decode_image() seam for megapixel throughput.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .scan_decode import manifest_scan

IMAGE_SCHEMA_DDL = "img_id string, bytes binary, width int, height int, fmt string"

_FEAT_DDL = (
    "img_id string, width int, height int, fmt string, decode_ok boolean, "
    "mean_r double, mean_g double, mean_b double, std_gray double"
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/px


def decode_png(buf: bytes) -> np.ndarray | None:
    """Pure-stdlib PNG decode: bytes -> HxWx3 uint8, or None if undecodable.

    Supports the common profile: bit depth 8, color types 0 (gray),
    2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced, all
    five scanline filters (None/Sub/Up/Average/Paeth per the PNG spec).
    Alpha is dropped; gray replicates to 3 channels; palette indices are
    looked up in PLTE. Filters 1/3/4 unfilter with per-byte loops (the
    recurrence is inherently sequential) — fine for the thumbnail-sized
    payloads this lane carries; a real cluster deployment would swap in
    PIL for megapixel inputs, which this decoder's tests then pin.
    """
    import struct
    import zlib

    if buf is None or len(buf) < 8 or buf[:8] != _PNG_SIG:
        return None
    pos, idat, pal, hdr = 8, [], None, None
    try:
        while pos + 8 <= len(buf):
            ln, typ = struct.unpack(">I4s", buf[pos : pos + 8])
            pos += 8
            data = buf[pos : pos + ln]
            pos += ln + 4  # skip CRC
            if typ == b"IHDR":
                hdr = struct.unpack(">IIBBBBB", data)
            elif typ == b"PLTE":
                pal = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
        if hdr is None or not idat:
            return None
        w, h, depth, ctype, comp, filt, interlace = hdr
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
            return None
        ch = _PNG_CHANNELS.get(ctype)
        if ch is None or (ctype == 3 and pal is None):
            return None
        raw = zlib.decompress(b"".join(idat))
    except Exception:
        return None
    stride = w * ch
    if len(raw) != h * (stride + 1):
        return None
    try:
        return _png_unfilter(raw, w, h, ch, stride, ctype, pal)
    except Exception:
        # the 'None if undecodable' contract covers malformed filter bytes
        # and out-of-range palette indices too — flag, never crash the task
        return None


def _png_unfilter(raw, w, h, ch, stride, ctype, pal) -> np.ndarray | None:
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        base = y * (stride + 1)
        ftype = raw[base]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=base + 1).astype(np.int64)
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(ch, stride):
                row[i] = (row[i] + row[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            row = (row + prev) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - ch] if i >= ch else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(row[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            return None
        out[y] = row
        prev = row
    img = out.reshape(h, w, ch)
    if ctype == 3:
        if int(img[..., 0].max(initial=0)) >= len(pal):
            return None
        return pal[img[..., 0]]
    if ctype in (0, 4):
        return np.repeat(img[..., :1], 3, axis=2)
    if ctype == 6:
        return np.ascontiguousarray(img[..., :3])
    return img


def encode_png(img: np.ndarray, row_filters=0) -> bytes:
    """Minimal PNG encoder (color type 2, depth 8) for sinks and tests.

    row_filters: one filter type 0-4 for all rows, or a per-row sequence —
    tests use this to exercise every unfilter path in decode_png."""
    import struct
    import zlib

    h, w, _ = img.shape
    img = img.astype(np.int64)
    if isinstance(row_filters, int):
        row_filters = [row_filters] * h
    lines = []
    prev = np.zeros(w * 3, dtype=np.int64)
    for y in range(h):
        row = img[y].reshape(-1)
        f = int(row_filters[y])
        left = np.concatenate([np.zeros(3, dtype=np.int64), row[:-3]])
        up_left = np.concatenate([np.zeros(3, dtype=np.int64), prev[:-3]])
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - left
        elif f == 2:
            enc = row - prev
        elif f == 3:
            enc = row - (left + prev) // 2
        elif f == 4:
            p = left + prev - up_left
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - up_left)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, up_left))
            enc = row - pred
        else:
            raise ValueError(f"bad filter {f}")
        lines.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"".join(lines))
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def decode_image(buf: bytes | None, width: int, height: int, fmt: str) -> np.ndarray | None:
    """bytes -> HxWx3 uint8 array; None if undecodable."""
    if buf is None or fmt is None:
        return None
    if fmt == "rgb8":
        if len(buf) != width * height * 3:
            return None
        return np.frombuffer(buf, dtype=np.uint8).reshape(height, width, 3)
    if fmt == "png":
        img = decode_png(buf)
        if img is None or img.shape[:2] != (height, width):
            return None
        return img
    if fmt == "jpeg":
        from .jpeg import decode_jpeg

        img = decode_jpeg(buf)
        if img is None or img.shape[:2] != (height, width):
            return None
        return img
    return None


def image_features(images: DataFrame) -> DataFrame:
    """Arrow-batched per-image features (channel means, gray stddev).

    Same conditional-enrich shape as the audio decode stage: per-row-only
    math, bytes consumed and dropped, ~40-byte rows downstream.
    """
    def _feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "img_id": pdf["img_id"], "width": pdf["width"],
                "height": pdf["height"], "fmt": pdf["fmt"],
            }
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            mr, mg, mb, sg = (np.full(n, np.nan) for _ in range(4))
            for i, (buf, w, h, fmt) in enumerate(
                zip(pdf["bytes"], pdf["width"], pdf["height"], pdf["fmt"])
            ):
                img = decode_image(buf, int(w), int(h), fmt)
                if img is None:
                    continue
                ok[i] = True
                x = img.astype(np.float64)
                mr[i], mg[i], mb[i] = x[..., 0].mean(), x[..., 1].mean(), x[..., 2].mean()
                sg[i] = x.mean(axis=2).std()
            yield pd.DataFrame(
                {**out, "decode_ok": ok, "mean_r": mr, "mean_g": mg, "mean_b": mb, "std_gray": sg}
            )

    return images.mapInPandas(_feats, schema=_FEAT_DDL)


_DIGEST_DDL = "img_id string, fmt string, width int, height int, decode_ok boolean, rgb_md5 string"


def _image_digest_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One pandas batch of images -> decode-digest batch.

    rgb_md5 is the md5 of the decoded HxWx3 uint8 buffer — pure-integer and
    bit-exact by construction (no float reductions), so the committed oracle
    fixture is host-portable without the BLAS-ordering care the audio
    digests need. Undecodable rows flag decode_ok=false with a null digest
    (never crash the task — same contract as decode_image)."""
    import hashlib

    n = len(pdf)
    ok = np.zeros(n, dtype=bool)
    digests: list[str | None] = [None] * n
    for i, (buf, w, h, fmt) in enumerate(
        zip(pdf["bytes"], pdf["width"], pdf["height"], pdf["fmt"])
    ):
        img = decode_image(buf, int(w), int(h), fmt)
        if img is None:
            continue
        ok[i] = True
        digests[i] = hashlib.md5(np.ascontiguousarray(img, dtype=np.uint8).tobytes()).hexdigest()
    return pd.DataFrame(
        {
            "img_id": pdf["img_id"],
            "fmt": pdf["fmt"],
            "width": pd.array(pdf["width"], dtype="Int32"),
            "height": pd.array(pdf["height"], dtype="Int32"),
            "decode_ok": ok,
            "rgb_md5": digests,
        }
    )


IMAGE_COLUMNS = ["img_id", "bytes", "width", "height", "fmt"]


def image_digest_scan(spark, input_dir: str):
    """Decode-digest scan over an image parquet directory via the fused
    manifest scan — image bytes never enter the JVM; the pure-python
    PNG/JPEG decoders are the kernel (q39's verification path)."""
    return manifest_scan(spark, input_dir, _image_digest_pdf, _DIGEST_DDL, columns=IMAGE_COLUMNS)


def resize_rgb8(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (pure-numpy, deterministic)."""
    h, w = img.shape[:2]
    yi = (np.arange(out_h) * h // out_h).astype(np.int64)
    xi = (np.arange(out_w) * w // out_w).astype(np.int64)
    return img[yi][:, xi]


VIDEO_FRAME_DDL = "vid_id string, frame_idx int, mean double, std double"


def sample_video_frames(videos: DataFrame, every_k: int = 10) -> DataFrame:
    """Frame sampling over 'vid8' payloads: one output row per k-th frame.

    1 -> n row fan-out inside mapInPandas (the video analogue of U2 explode).
    """
    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"vid_id": [], "frame_idx": [], "mean": [], "std": []}
            for vid, buf, w, h in zip(pdf["vid_id"], pdf["bytes"], pdf["width"], pdf["height"]):
                if buf is None or w <= 0 or h <= 0:
                    continue
                fsize = int(w) * int(h)
                n_frames = len(buf) // fsize
                if n_frames == 0 or len(buf) % fsize != 0:
                    continue
                arr = np.frombuffer(buf, dtype=np.uint8).reshape(n_frames, fsize)
                for fi in range(0, n_frames, every_k):
                    f = arr[fi].astype(np.float64)
                    rows["vid_id"].append(vid)
                    rows["frame_idx"].append(fi)
                    rows["mean"].append(float(f.mean()))
                    rows["std"].append(float(f.std()))
            yield pd.DataFrame(rows)

    return videos.select("vid_id", "bytes", "width", "height").mapInPandas(
        _frames, schema=VIDEO_FRAME_DDL
    )


def synth_image_record(i: int, width: int = 32, height: int = 24) -> dict:
    """One deterministic synthetic image row for index i (seeded per index):
    mostly rgb8, every 9th row a real PNG (cycling through all five scanline
    filters), every 17th a real baseline JPEG (alternating 4:4:4 / 4:2:0,
    occasionally with restart markers), every 51st a deliberately corrupt
    JPEG (truncated stream) to pin flag-not-crash decode behavior.

    Shared by synth_images (distributed) and scripts/make_image_fixture.py
    (single-process oracle) so the two sides cannot drift."""
    from .jpeg import encode_jpeg

    i = int(i)
    rng = np.random.default_rng([4242, i])
    img = rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)
    if i % 17 == 0:
        enc = encode_jpeg(
            img,
            subsample=bool((i // 17) % 2),
            restart_interval=2 if i % 5 == 0 else 0,
        )
        if i % 51 == 0:  # corrupt lane: torn mid-entropy-stream
            enc = enc[: max(len(enc) // 2, 24)]
        fmt, payload = "jpeg", enc
    elif i % 9 == 0:
        fmt, payload = "png", encode_png(img, row_filters=i % 5)
    else:
        fmt, payload = "rgb8", img.tobytes()
    return {
        "img_id": f"img_{i:08d}",
        "bytes": payload,
        "width": width,
        "height": height,
        "fmt": fmt,
    }


def synth_images(spark, n: int, width: int = 32, height: int = 24) -> DataFrame:
    """Deterministic synthetic image table — see synth_image_record."""
    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame([synth_image_record(i, width, height) for i in b["id"]])

    return spark.range(n).mapInPandas(_gen, schema=IMAGE_SCHEMA_DDL)


_THUMB_DDL = "img_id string, fmt string, thumb_ok boolean, thumb_md5 string"
THUMB_W, THUMB_H = 16, 12  # pinned q79 thumbnail geometry


def _thumb_pdf(pdf: pd.DataFrame, out_w: int = THUMB_W, out_h: int = THUMB_H) -> pd.DataFrame:
    """One pandas batch of images -> thumbnail-digest batch: decode (any
    codec), nearest-neighbor resize to the pinned geometry, md5 of the
    resized HxWx3 uint8 buffer — pure integer end to end (index arithmetic
    only), so the committed fixture is host-portable like q39's. Undecodable
    rows flag thumb_ok=false with a null digest."""
    import hashlib

    n = len(pdf)
    ok = np.zeros(n, dtype=bool)
    digests: list[str | None] = [None] * n
    for i, (buf, w, h, fmt) in enumerate(
        zip(pdf["bytes"], pdf["width"], pdf["height"], pdf["fmt"])
    ):
        img = decode_image(buf, int(w), int(h), fmt)
        if img is None:
            continue
        thumb = resize_rgb8(img, out_w, out_h)
        ok[i] = True
        digests[i] = hashlib.md5(
            np.ascontiguousarray(thumb, dtype=np.uint8).tobytes()
        ).hexdigest()
    return pd.DataFrame(
        {
            "img_id": pdf["img_id"],
            "fmt": pdf["fmt"],
            "thumb_ok": ok,
            "thumb_md5": digests,
        }
    )


def thumbnail_digest_scan(spark, input_dir: str):
    """Decode->resize->digest scan over an image parquet directory (q79's
    verification path; fused manifest scan, the same shape as
    image_digest_scan)."""
    return manifest_scan(spark, input_dir, _thumb_pdf, _THUMB_DDL, columns=IMAGE_COLUMNS)
