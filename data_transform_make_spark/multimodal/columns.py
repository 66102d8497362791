"""Multimodal columns: opaque ``binary`` payloads + typed metadata
(SURVEY.md §2.10).

Design (the part that matters at 100 TB):
  * media = a ``binary`` column + a ``struct`` of typed metadata
    (media_type, n_bytes, content hash) — the `binaryFile` source pattern;
  * decode / feature-extract / frame-sample run as Arrow-batched
    ``mapInPandas`` stages — one Python worker per partition, batch-sized
    transfer, never row-at-a-time;
  * partitioning: media rows are large — repartition by a size-balanced
    key (hash of id) before the Python stage so no executor gets all the
    big blobs; keep `spark.sql.files.maxPartitionBytes` ≈ 128 MB so scan
    tasks stay memory-bounded.

The actual image/audio decode libraries are NOT in this container, so the
decode and resize kernels are clearly-marked deterministic STUBS (sha-seeded
fake pixels — also what the mm2b/mm4b SQL twins certify); the Spark-side
plumbing — schema, batch iteration, UDF signatures, partitioning — is real
and tested. A real decoder plugs in at the per-row kernels: replace
``_stub_decode`` (payload -> (width, height, n_channels)) and the resize
stage's ``fake_resize`` (payload -> resized bytes) with e.g. Pillow's
``Image.open``/``Image.resize``; the mapInPandas plumbing around them stays
unchanged. ffmpeg (video) frame sampling is a byte-slicing stub likewise.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("sha256", T.StringType()),
                    T.StructField("source", T.StringType()),
                ]
            ),
        ),
    ]
)


def text_to_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Fixture adapter: materialize a media table from the documents fixture
    (utf-8 bytes as the opaque payload) — exercises the real binary-column
    plumbing without container-side media files."""
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
            F.lit("documents-fixture").alias("source"),
        ).alias("meta"),
    )


def attach_media_metadata(media: DataFrame) -> DataFrame:
    """Recompute/verify metadata natively (no Python): byte length + digest.
    Map-only, scan-speed."""
    return media.withColumn(
        "meta",
        F.struct(
            F.octet_length("payload").cast("long").alias("n_bytes"),
            F.sha2(F.col("payload"), 256).alias("sha256"),
            F.col("meta.source").alias("source"),
        ),
    )


_DECODE_SCHEMA = "media_id long, media_type string, width int, height int, n_channels int"

def _stub_decode(payload: bytes | None) -> tuple[int, int, int]:
    """STUB decode — deterministic fake dimensions derived from content.
    Keeps the pipeline testable end-to-end (and SQL-twinnable: mm2b) in
    environments without Pillow."""
    if payload is None:
        return (0, 0, 0)
    h = hashlib.sha256(payload).digest()
    return (64 + h[0] % 192, 64 + h[1] % 192, 3)


def decode_images(media: DataFrame) -> DataFrame:
    """Decode stage: Arrow-batched ``mapInPandas``; one batch in, one out.

    At scale this is the canonical Python-boundary shape: the binary column
    crosses to the worker once per batch (Arrow), the kernel is pure
    per-row CPU, output is a narrow typed frame (blobs dropped as early as
    possible so downstream stages shuffle metadata, not pixels). The
    kernel is the deterministic stub — what mm2/mm2b certify.
    """

    def kfn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["payload"].map(_stub_decode)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "n_channels": dims.map(lambda d: d[2]).astype("int32"),
                }
            )

    return media.mapInPandas(kfn, schema=_DECODE_SCHEMA)


_FEATURE_SCHEMA = "media_id long, feature array<float>"


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Feature-extraction stage (STUB kernel, real plumbing): deterministic
    pseudo-embedding from the payload digest; Arrow-batched."""

    if dim < 1:
        # dim=0 would emit empty feature arrays for every row — a
        # silently useless embedding column, not a smaller one
        raise ValueError(f"extract_features: dim must be >= 1, got {dim!r}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def feat(p: bytes | None) -> list[float]:
                if p is None:
                    return [0.0] * dim
                h = hashlib.sha256(p).digest()
                return [h[i % 32] / 255.0 for i in range(dim)]

            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "feature": pdf["payload"].map(feat)}
            )

    return media.mapInPandas(kernel, schema=_FEATURE_SCHEMA)


_RESIZE_SCHEMA = (
    "media_id long, width int, height int, target_width int, target_height int, "
    "resized_bytes binary"
)


def resize_images(
    media: DataFrame, target: tuple[int, int] = (32, 32)
) -> DataFrame:
    """Resize stage: deterministic byte-grid seeded by the content digest
    (the stub kernel — what mm4/mm4b certify). Arrow-batched
    ``mapInPandas``; output carries both source and target dims so
    downstream filters (e.g. drop tiny sources) stay in-plan."""
    tw, th = target
    if tw < 1 or th < 1:
        # a zero-area target silently yields b'' for every row
        raise ValueError(f"resize_images: target must be >= 1x1, got {target!r}")

    def fake_resize(p: bytes | None) -> bytes:
        if p is None:
            return b""
        h = hashlib.sha256(p).digest()
        return bytes((h[(i * 7) % 32]) for i in range(tw * th))[: tw * th]

    def kfn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["payload"].map(_stub_decode)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "target_width": pd.array([tw] * len(pdf), dtype="int32"),
                    "target_height": pd.array([th] * len(pdf), dtype="int32"),
                    "resized_bytes": pdf["payload"].map(fake_resize),
                }
            )

    return media.mapInPandas(kfn, schema=_RESIZE_SCHEMA)


_FRAME_SCHEMA = "media_id long, frame_no int, frame_bytes binary"


def sample_frames(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 4) -> DataFrame:
    """Frame-sampling stage (video analog): emit N pseudo-frames per payload
    (byte-slices in the stub; ffmpeg keyframes in a real deployment).
    1->N row expansion inside mapInPandas — the UDTF-ish shape."""
    if every_n_bytes < 1:
        # 0 divides the payload length inside the EXECUTOR task — a
        # confusing remote ZeroDivisionError instead of a boundary check
        raise ValueError(
            f"sample_frames: every_n_bytes must be >= 1, got {every_n_bytes!r}"
        )
    if max_frames < 1:
        # min(0, ...) emits zero frames for every payload — silently
        # empty output, not a tighter cap
        raise ValueError(
            f"sample_frames: max_frames must be >= 1, got {max_frames!r}"
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                for i in range(min(max_frames, max(1, len(payload) // every_n_bytes))):
                    ids.append(mid)
                    nos.append(i)
                    frames.append(bytes(payload[i * every_n_bytes : (i + 1) * every_n_bytes]))
            yield pd.DataFrame(
                {"media_id": pd.array(ids, dtype="int64"),
                 "frame_no": pd.array(nos, dtype="int32"),
                 "frame_bytes": pd.Series(frames, dtype=object)}
            )

    return media.mapInPandas(kernel, schema=_FRAME_SCHEMA)
