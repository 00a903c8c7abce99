"""Multimodal columns: opaque binary payloads + typed metadata (W-extra).

Images/audio/video ride as ``binary`` columns with struct metadata; all
transforms run as ``mapInPandas`` over Arrow batches so payload bytes
never round-trip through Python row objects. Codecs plug in via the
``decoder=`` hook: ``functions.png.png_decode`` is a REAL pure-python
PNG decode (stdlib zlib + numpy unfiltering — round 5 de-stubbed the
image path); ``fake_decode`` stays as the deterministic, DuckDB-
recomputable oracle path; JPEG/audio/video codecs remain environment-
blocked (no libjpeg/ffmpeg wheels) and raise loudly via
``real_decode_stub``.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

MEDIA_DDL = (
    "media_id BIGINT, kind STRING, payload BINARY, "
    "meta STRUCT<width: INT, height: INT, sample_rate: INT, n_frames: INT>"
)

IMAGE_FEATURES_DDL = (
    "media_id BIGINT, width INT, height INT, features ARRAY<FLOAT>"
)


def real_decode_stub(payload: bytes):
    """Real-image decode dispatch: PNG is fully supported in pure
    python (``functions.png``); other formats need codec wheels this
    environment lacks and fail loudly."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from ..functions.png import png_decode

        return png_decode(payload)
    raise ValueError(
        "only PNG has a built-in pure-python decode; JPEG/audio/video "
        "codecs are not available in this environment — pass "
        "decoder=fake_decode or wrap an installed codec"
    )


def fake_decode(payload: bytes):
    """Deterministic stand-in decode: derives an 8x8 'pixel' grid from
    the payload digest. Same interface a real decoder would have:
    bytes -> (height, width, np.ndarray[h, w]).

    Hashes the payload's HEX text (not the raw bytes) so the whole
    fake pipeline is recomputable in DuckDB SQL (sha256 there is
    VARCHAR-only) — the `multimodal_features` oracle recomputes these
    exact values independently instead of pinning a drift golden."""
    digest = hashlib.sha256(payload.hex().encode()).digest()
    arr = np.frombuffer((digest * 2)[:64], dtype=np.uint8).reshape(8, 8)
    return 8, 8, arr.astype(np.float32)


def decode_image_features(
    media: DataFrame,
    decoder: Callable = fake_decode,
    pool: int = 4,
) -> DataFrame:
    """binary payload -> (width, height, pooled feature vector).

    The feature extractor is a ``pool x pool`` average-pool over the
    decoded grid — trivially replaced by a real embedding model; the
    Arrow-batched plumbing is what this operator establishes.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                h, w, arr = decoder(bytes(payload))
                bh, bw = h // pool, w // pool
                pooled = arr[: bh * pool, : bw * pool].reshape(
                    bh, pool, bw, pool
                ).mean(axis=(1, 3))
                rows.append(
                    (int(mid), int(w), int(h), [float(x) for x in pooled.ravel()])
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "features"]
            )

    return media.mapInPandas(gen, IMAGE_FEATURES_DDL)


def synthesize_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).digest() * 8
        rows.append(
            (
                i,
                "image" if i % 3 else "video",
                bytearray(payload),
                (8, 8, 16000, 1 + (i % 10)),
            )
        )
    from ..session import local_df

    return local_df(spark, rows, MEDIA_DDL)
