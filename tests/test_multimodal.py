"""Binary-payload feature plumbing tests (operators.multimodal)."""

from __future__ import annotations

import pytest

from dump1090_db_stream_spark.operators.multimodal import extract_image_features


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, bytes(range(256)) * (i + 1)) for i in range(4)]
    return spark.createDataFrame(rows, ["media_id", "payload"])


def test_extract_image_features_schema_and_determinism(media):
    out = extract_image_features(media, feature_dim=8)
    rows1 = {r.media_id: r for r in out.collect()}
    rows2 = {r.media_id: r for r in out.collect()}
    assert len(rows1) == 4
    for mid in rows1:
        assert rows1[mid].n_bytes == 256 * (mid + 1)
        assert len(rows1[mid].feature) == 8
        assert rows1[mid].feature == rows2[mid].feature  # deterministic
        assert abs(sum(rows1[mid].feature) - 1.0) < 1e-5


def test_extract_uses_arrow_batches(media):
    plan = extract_image_features(media)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas" in plan
