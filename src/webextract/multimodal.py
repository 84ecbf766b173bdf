"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The reference's data model already allows image payloads
(``types/document.py:24-32``: ImageData as bytes/PIL/ndarray); at Spark scale
the payload is a ``binary`` column plus a typed metadata struct, processed by
Arrow-batched ``mapInPandas`` stages exactly like the html path.

The image/audio codec libraries are NOT in this container, so the *decode*
step is stubbed behind ``Decoder`` implementations:

- :class:`Decoder`       — the seam; every method raises
  ``NotImplementedError``, which ``media_features`` records per row as
  ``decode_unavailable``. A real cluster subclasses it with codec-backed
  decode (Pillow/soundfile on the executors);
- :class:`FakeDecoder`   — deterministic synthetic decode (hash-seeded pixel
  stats / waveform stats) so the full Spark plumbing — schema, partitioning,
  UDF signature, Arrow batch shape — is real and TESTED end-to-end.

Stages (all one Arrow crossing per blob, per-row failure capture like the
text path):

- ``probe_media``     — magic-byte sniff → media_type column (JVM-side).
- ``media_features``  — mapInPandas decode → fixed-size feature vector +
  width/height/duration metadata.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MAGIC = {
    b"\x89PNG\r\n\x1a\n": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIFF": "audio/wav",          # RIFF....WAVE, checked loosely
    b"\x1aE\xdf\xa3": "video/webm",
    b"ID3": "audio/mp3",
}


def probe_media(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """JVM-side magic-byte sniff: adds media_type (no Python involved)."""
    b = F.col(blob_col)
    expr = F.lit("unknown")
    for magic, mtype in reversed(list(MAGIC.items())):
        cond = b.substr(1, len(magic)) == F.lit(bytearray(magic))
        expr = F.when(cond, F.lit(mtype)).otherwise(expr)
    return df.withColumn("media_type", expr)


class Decoder:
    """Decode seam. Implementations must be picklable (shipped in closures)."""

    def image_stats(self, blob: bytes) -> tuple[int, int, list[float]]:
        """→ (width, height, feature_vector[8])"""
        raise NotImplementedError

    def audio_stats(self, blob: bytes) -> tuple[float, list[float]]:
        """→ (duration_sec, feature_vector[8])"""
        raise NotImplementedError


class FakeDecoder(Decoder):
    """Deterministic synthetic decode: byte-hash-derived stats.

    Lets every Spark-side contract (schemas, batching, failure isolation,
    partitioning) be tested for real without codec libraries.
    """

    @staticmethod
    def _h(blob: bytes) -> bytes:
        return hashlib.blake2b(blob, digest_size=32).digest()

    def image_stats(self, blob):
        h = self._h(blob)
        w = 64 + h[0] * 8
        hh = 64 + h[1] * 8
        vec = [round(b / 255.0, 6) for b in h[2:10]]
        return w, hh, vec

    def audio_stats(self, blob):
        h = self._h(blob)
        dur = round(0.5 + h[0] / 16.0, 3)
        vec = [round(b / 255.0, 6) for b in h[2:10]]
        return dur, vec


FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_sec", T.DoubleType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def media_features(df: DataFrame, *, decoder: Decoder | None = None,
                   id_col: str = "media_id", blob_col: str = "blob") -> DataFrame:
    """binary blobs → typed feature rows; one Arrow crossing, rows never throw."""
    dec = decoder or FakeDecoder()
    probed = probe_media(df.select(F.col(id_col).alias("media_id"), blob_col),
                         blob_col)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("media_id", "media_type", "width", "height",
                                   "duration_sec", "features", "status", "error")}
            for mid, blob, mtype in zip(pdf["media_id"], pdf[blob_col],
                                        pdf["media_type"]):
                row = dict(media_id=mid, media_type=mtype, width=None,
                           height=None, duration_sec=None, features=None,
                           status="ok", error=None)
                try:
                    blob = bytes(blob) if blob is not None else b""
                    if not blob:
                        row.update(status="empty", error="empty_blob")
                    elif mtype.startswith("image/"):
                        w, h, vec = dec.image_stats(blob)
                        row.update(width=w, height=h, features=vec)
                    elif mtype.startswith("audio/"):
                        d, vec = dec.audio_stats(blob)
                        row.update(duration_sec=d, features=vec)
                    else:
                        row.update(status="unsupported",
                                   error=f"no feature extractor for {mtype}")
                except NotImplementedError as e:
                    row.update(status="decode_unavailable", error=str(e))
                except Exception as e:  # noqa: BLE001 — per-row isolation
                    row.update(status="decode_error",
                               error=f"{type(e).__name__}: {e}")
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return probed.mapInPandas(batches, schema=FEATURES_SCHEMA)
