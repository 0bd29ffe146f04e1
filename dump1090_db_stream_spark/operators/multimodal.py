"""Binary-payload feature plumbing.

Payloads are opaque ``binary`` columns: parquet keeps the bytes
columnar/compressed, and Catalyst prunes the binary column away for any
query not reading it.

The feature kernel is an Arrow-batched ``mapInPandas`` function that
derives deterministic features from the payload bytes, so the
Spark-side plumbing — schema, batch shape, column pruning before Python
— is testable and oracle-checkable (the features are closed-form byte
arithmetic) without any imaging library.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_luma", T.DoubleType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])


def _stub_features(payload: bytes, dim: int) -> list[float]:
    """Deterministic embedding from payload bytes (stable across
    runs/partitions): byte histogram folded to `dim` buckets, normalized."""
    buckets = [0] * dim
    for i, b in enumerate(payload[:4096]):
        buckets[(b + i) % dim] += 1
    total = float(sum(buckets)) or 1.0
    return [b / total for b in buckets]


def extract_image_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    feature_dim: int = 16,
) -> DataFrame:
    """Payload features as an Arrow-batched mapInPandas.

    The Pandas function receives column-pruned batches (only id + payload
    reach Python — verify with .explain: ReadSchema excludes everything
    else). Batch size follows spark.sql.execution.arrow.maxRecordsPerBatch.
    Dimensions are derived from the byte length and ``mean_luma`` from
    the first 256 byte values.
    """
    import pandas as pd  # local import: executors only

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                rows.append({
                    "media_id": int(mid),
                    "n_bytes": len(data),
                    "width": (len(data) % 640) + 1,
                    "height": (len(data) % 480) + 1,
                    "mean_luma": (sum(data[:256])
                                  / max(1, len(data[:256]))) / 255.0,
                    "feature": _stub_features(data, feature_dim),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA])

    pruned = df.select(F.col(id_col), F.col(payload_col))
    return pruned.mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)
