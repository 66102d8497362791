"""Multimodal column plumbing tests (SURVEY.md §2.10): binary payloads +
typed metadata, Arrow-batched decode/feature/frame stages (stub kernels,
real Spark plumbing — schema, batching, 1->N expansion)."""

import hashlib

from data_transform_make_spark.multimodal.columns import (
    decode_images,
    extract_features,
    sample_frames,
    text_to_media,
)
from data_transform_make_spark.sources.loader import load_table


def _media(spark, sf_dir):
    return text_to_media(load_table(spark, sf_dir, "documents").limit(20))


def test_media_schema_and_metadata(spark, sf_dir):
    media = _media(spark, sf_dir)
    rows = media.collect()
    assert rows
    for r in rows:
        assert r.meta.n_bytes == len(r.payload)
        assert r.meta.sha256 == hashlib.sha256(r.payload).hexdigest()


def test_decode_stub_deterministic(spark, sf_dir):
    media = _media(spark, sf_dir)
    a = {r.media_id: (r.width, r.height, r.n_channels) for r in decode_images(media).collect()}
    b = {r.media_id: (r.width, r.height, r.n_channels) for r in decode_images(media).collect()}
    assert a == b and all(64 <= w < 256 for w, _, _ in a.values())


def test_feature_extraction_shape(spark, sf_dir):
    feats = extract_features(_media(spark, sf_dir), dim=16).collect()
    assert all(len(r.feature) == 16 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r.feature)


def test_frame_sampling_expands_rows(spark, sf_dir):
    media = _media(spark, sf_dir)
    frames = sample_frames(media, every_n_bytes=64, max_frames=4)
    pdf = frames.toPandas()
    assert len(pdf) > media.count()  # 1 -> N expansion
    assert (pdf.groupby("media_id").frame_no.max() <= 3).all()
    assert pdf.frame_bytes.map(len).le(64).all()


def test_resize_stub_dims_and_payload(spark, sf_dir):
    from data_transform_make_spark.multimodal.columns import resize_images

    media = _media(spark, sf_dir)
    out = resize_images(media, target=(8, 4)).collect()
    assert len(out) == media.count()
    assert all((r.target_width, r.target_height) == (8, 4) for r in out)
    assert all(len(r.resized_bytes) == 32 for r in out)  # tw*th bytes
    assert all(64 <= r.width < 256 for r in out)  # source dims carried through


def test_degenerate_multimodal_params_rejected(spark):
    """Round-9 review (the r8 degenerate-parameter class): every_n_bytes=0
    divided the payload length inside the executor task (remote
    ZeroDivisionError); max_frames=0, dim=0 and a zero-area resize target
    each produced silently-empty output."""
    import pytest

    from data_transform_make_spark.multimodal.columns import (
        extract_features,
        resize_images,
        sample_frames,
        text_to_media,
    )

    media = text_to_media(
        spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    )
    with pytest.raises(ValueError, match="every_n_bytes"):
        sample_frames(media, every_n_bytes=0)
    with pytest.raises(ValueError, match="max_frames"):
        sample_frames(media, max_frames=0)
    with pytest.raises(ValueError, match="dim"):
        extract_features(media, dim=0)
    with pytest.raises(ValueError, match="target"):
        resize_images(media, target=(0, 32))
