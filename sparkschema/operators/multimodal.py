"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
processed by Arrow-batched ``mapInPandas`` kernels.

The engine's own container format (sparkschema.functions.imagecodec) is
decoded for real — numpy end to end. External codecs (actual JPEG/PNG,
audio, video) are NOT available in this environment, so
:func:`decode_external` is a clearly-marked stub raising
``NotImplementedError`` behind the same batch interface: the Spark-side
contract (schema, partition sizing, UDF signature, Arrow batch shape) is
identical and fully tested — dropping in Pillow/ffmpeg later changes one
function body, not the pipeline.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from sparkschema._worker import on_load

FEATURE_SCHEMA = ("image_id string, ok boolean, w int, h int, fmt string, "
                  "mean_r double, mean_g double, mean_b double, "
                  "std_gray double")


def extract_image_features(images: DataFrame, batch_hint: int = 2048) -> DataFrame:
    """Decode + per-channel stats for every image: ``(image_id, ok, w, h,
    fmt, mean_r, mean_g, mean_b, std_gray)``. Corrupt buffers yield
    ``ok=false`` rows instead of failing the task."""

    @on_load
    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from sparkschema.functions.imagecodec import CorruptImage, decode

        for pdf in it:
            out = {k: [] for k in ("image_id", "ok", "w", "h", "fmt",
                                   "mean_r", "mean_g", "mean_b", "std_gray")}
            for iid, buf in zip(pdf["image_id"], pdf["bytes"]):
                out["image_id"].append(iid)
                try:
                    px, fmt = decode(bytes(buf) if buf is not None else b"")
                    if px.size == 0:
                        # w=0/h=0 containers decode but carry no pixels —
                        # treat as invalid like phash_bytes does (review
                        # find r4: these reported ok=true with NaN stats)
                        raise CorruptImage("zero-pixel image")
                    m = px.mean(axis=(0, 1))
                    # channel-slice adds == mean(axis=2) bit-exactly
                    # (a+b+c ≤ 765 is exact in f64) without the h×w×3
                    # float64 materialization — same trick as dct_phash
                    gray = (px[:, :, 0].astype(np.float64)
                            + px[:, :, 1] + px[:, :, 2]) / 3.0
                    out["ok"].append(True)
                    out["w"].append(int(px.shape[1]))
                    out["h"].append(int(px.shape[0]))
                    out["fmt"].append(fmt)
                    out["mean_r"].append(float(m[0]))
                    out["mean_g"].append(float(m[1]))
                    out["mean_b"].append(float(m[2]))
                    out["std_gray"].append(float(gray.std()))
                except CorruptImage:
                    out["ok"].append(False)
                    for k in ("w", "h"):
                        out[k].append(None)
                    out["fmt"].append(None)
                    for k in ("mean_r", "mean_g", "mean_b", "std_gray"):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes").mapInPandas(kernel, FEATURE_SCHEMA)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize inside the engine container format:
    ``(image_id, bytes)`` with the payload re-encoded at (out_w, out_h).
    Demonstrates a mutate-and-reencode batch kernel."""

    @on_load
    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from sparkschema.functions.imagecodec import CorruptImage, decode, encode

        for pdf in it:
            ids, bufs = [], []
            for iid, buf in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px, fmt = decode(bytes(buf) if buf is not None else b"")
                except CorruptImage:
                    continue  # corrupt inputs are dropped (reported elsewhere)
                if px.size == 0:
                    continue  # zero-pixel container: nothing to resize —
                    # indexing a size-0 axis raised and killed the task
                    # (review find r4)
                ys = (np.arange(out_h) * px.shape[0] // out_h)
                xs = (np.arange(out_w) * px.shape[1] // out_w)
                ids.append(iid)
                bufs.append(encode(px[ys][:, xs], fmt))
            yield pd.DataFrame({"image_id": ids, "bytes": bufs})

    return images.select("image_id", "bytes").mapInPandas(
        kernel, "image_id string, bytes binary")


def frame_sample_stub(videos: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame sampling — STUB. No video codec ships in this
    environment; the batch interface and output schema are the real
    contract (``(video_id, frame_index, bytes)``)."""

    @on_load
    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        raise NotImplementedError(
            "video decode requires an external codec (ffmpeg); "
            "plug a decoder into frame_sample_stub.kernel")

    return videos.select("video_id", "bytes").mapInPandas(
        kernel, "video_id string, frame_index int, bytes binary")


def decode_external(images: DataFrame, fmt: str) -> DataFrame:
    """External image codec decode (real JPEG/PNG) — STUB, same contract as
    :func:`extract_image_features`'s decode step."""

    @on_load
    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        raise NotImplementedError(
            f"decoding external format {fmt!r} requires Pillow/libvips; "
            "the engine container format decodes via extract_image_features")

    return images.select("image_id", "bytes").mapInPandas(
        kernel, "image_id string, w int, h int, pixels binary")
