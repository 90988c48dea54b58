"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as `binary` columns with a
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over `mapInPandas` so one Python call
handles a whole batch and the binary column never round-trips per row.

The *codec* step is a pluggable seam:
Pillow registers itself when importable, deployments can
`register_codec()` their own (libvips/ffmpeg), and `DSX_IMAGE_CODEC`
pins one explicitly (error if missing — never a silent fallback). This
sandbox ships no codec, so decode refuses unless the clearly-marked
deterministic fake is requested (`fake=True` / codec="fake"), which
derives metadata purely from the byte content so tests and SQL oracles
can verify the plumbing exactly. The Spark-side contract — schema,
batch shape, partitioning — is real either way.

Scale notes: binary payloads dominate bytes; the mapInPandas pass keeps
`spark.sql.execution.arrow.maxRecordsPerBatch` sized so a batch of blobs
fits executor memory, and downstream stages select only metadata columns
(column pruning drops the blob at the scan).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType()),
    T.StructField("byte_len", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
])


def attach_media_column(df: DataFrame, payload_col: str,
                        media_type: str = "image") -> DataFrame:
    """Wrap an existing binary column with the typed metadata struct
    (metadata filled by decode; only byte_len is known pre-decode)."""
    return df.withColumn(
        "media",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.length(F.col(payload_col)).cast("long").alias("byte_len"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
        ),
    )


def _fake_decode_meta(blob: bytes) -> tuple[int, int, int]:
    """DETERMINISTIC FAKE decode (sandbox has no codecs): metadata is a pure
    function of byte length so an independent SQL oracle can verify the
    plumbing. Replace with a real codec (PIL/ffmpeg) in deployment."""
    n = len(blob)
    width = 64 + (n % 577)          # pseudo-dimensions, stable per payload
    height = 64 + ((n * 31) % 433)
    n_frames = 1 + (n % 7)
    return width, height, n_frames


# -- codec seam (image decode) ----------------------------------------------
#
# Selection order: explicit `codec=` > env DSX_IMAGE_CODEC (error if the
# named codec is unavailable — a silent fallback would hide a missing
# codec wheel in production) > the best importable real codec. The
# deterministic fake is ONLY used when explicitly requested (codec="fake"
# or fake=True); with no real codec importable and none requested, decode
# refuses rather than silently downgrading.

DecodeFn = "Callable[[bytes], tuple[int, int, int]]"
_CODEC_REGISTRY: dict = {}
_CODEC_PREFERENCE = ("pillow",)
_CODEC_ENV = "DSX_IMAGE_CODEC"


def register_codec(name: str, fn) -> None:
    """Register a (blob) -> (width, height, n_frames) decoder — also the
    hook for deployments shipping libvips/ffmpeg bindings."""
    _CODEC_REGISTRY[name] = fn


def _pillow_codec():
    try:
        from PIL import Image  # type: ignore
    except ImportError:
        return None
    import io

    def decode(blob: bytes) -> tuple[int, int, int]:
        with Image.open(io.BytesIO(blob)) as img:
            return (int(img.width), int(img.height),
                    int(getattr(img, "n_frames", 1)))

    return decode


_pil = _pillow_codec()
if _pil is not None:
    register_codec("pillow", _pil)
register_codec("fake", _fake_decode_meta)


def available_codecs() -> list[str]:
    return [n for n in _CODEC_PREFERENCE if n in _CODEC_REGISTRY] + sorted(
        n for n in _CODEC_REGISTRY if n not in _CODEC_PREFERENCE)


def select_codec(name: str | None = None) -> str:
    """Resolve the active image codec (see module comment for order)."""
    import os

    name = name or os.environ.get(_CODEC_ENV)
    if name:
        if name not in _CODEC_REGISTRY:
            raise ValueError(
                f"image codec {name!r} not available; have "
                f"{available_codecs()}")
        return name
    for cand in _CODEC_PREFERENCE:
        if cand in _CODEC_REGISTRY:
            return cand
    raise NotImplementedError(
        "no real image codec importable (install Pillow or "
        "register_codec(...)); pass codec='fake' explicitly for "
        "deterministic plumbing tests — decode never falls back silently")


def decode_image(blob: bytes) -> tuple[int, int, int]:
    """Decode one payload with the selected real codec -> (width, height,
    n_frames). Raises NotImplementedError when no real codec is
    importable (this sandbox ships none)."""
    return _CODEC_REGISTRY[select_codec()](blob)


def decode_media_df(df: DataFrame, payload_col: str = "payload",
                    fake: bool = False,
                    codec: str | None = None) -> DataFrame:
    """Fill the media metadata struct by decoding each payload.

    One mapInPandas pass; output schema = input columns (minus payload)
    + flattened metadata. `codec` picks a registered decoder (env
    DSX_IMAGE_CODEC honored, error if missing); `fake=True` is shorthand
    for codec="fake". With neither and no real codec importable, the
    codec resolution itself raises — plan-build time, not mid-job."""
    out_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        out_fields
        + [
            T.StructField("byte_len", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
        ]
    )
    keep = [f.name for f in out_fields]
    # resolve at plan-build time so a missing codec fails fast on the
    # driver, and ship only the codec NAME into the closure (executors
    # re-resolve from their own registry — decoder objects may not
    # pickle)
    codec_name = "fake" if fake else select_codec(codec)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = _CODEC_REGISTRY[codec_name]
        for pdf in batches:
            blobs = pdf[payload_col]
            metas = []
            for b in blobs:
                raw = bytes(b) if b is not None else b""
                metas.append((len(raw), *decode(raw)))
            out = pdf[keep].copy()
            out["byte_len"] = [m[0] for m in metas]
            out["width"] = [m[1] for m in metas]
            out["height"] = [m[2] for m in metas]
            out["n_frames"] = [m[3] for m in metas]
            yield out

    return df.mapInPandas(run, schema=out_schema)


def sample_frames_df(df: DataFrame, every_nth: int = 2) -> DataFrame:
    """Frame-sampling plumbing: explode per-media frame indices 0..n_frames-1
    keeping every nth — pure expressions (the decoded frame bytes would ride
    along in deployment)."""
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1)
    kept = F.filter(idx, lambda i: i % every_nth == 0)
    return df.withColumn("frame_idx", F.explode(kept))
