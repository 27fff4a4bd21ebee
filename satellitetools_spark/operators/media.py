"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as opaque ``binary`` columns (or
``media_ref`` addresses) with typed metadata structs. The Spark-side
plumbing — schema, partition-preserving ``mapInPandas``, Arrow batch shape,
deterministic feature extraction — is real and tested; no image or audio
codec ships with this environment, so the features come from a
hash-deterministic stand-in that the DuckDB oracle reproduces.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fake_features(ref: str, dim: int) -> np.ndarray:
    """Deterministic stand-in for decode→feature-extract.

    feature[i] = uint64(first 8 md5 bytes of ``f"{ref}:{i}"``) / 2^64 —
    pure hash arithmetic, NOT a PRNG, so the DuckDB oracle reproduces it
    bit-identically in SQL (``CAST('0x' || substr(md5(..),1,16) AS
    UBIGINT)``, the same technique as the SimHash oracle) and the driver
    can value-check the whole multimodal plumbing path instead of
    counting rows."""
    return np.array([
        int.from_bytes(hashlib.md5(f"{ref}:{i}".encode()).digest()[:8],
                       "big") / 2.0**64
        for i in range(dim)], dtype=np.float64)


_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("feature", T.ArrayType(T.DoubleType())),
])


def media_features(media_spans: DataFrame, dim: int = 8) -> DataFrame:
    """Feature-extract media spans via ``mapInPandas``.

    Input: (doc_id, media_ref). Arrow batches flow through one Python
    worker pass; each span's features are the hash-deterministic
    stand-in :func:`_fake_features` (oracle-checkable).
    """
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "feature": [_fake_features(r, dim).tolist()
                            for r in pdf["media_ref"]],
            })

    return media_spans.select("doc_id", "media_ref").mapInPandas(
        extract, schema=_FEATURE_SCHEMA)


def media_span_stats(docs: DataFrame) -> DataFrame:
    """Per-document media statistics straight off the nested spans column —
    no explode shuffle, pure array expressions."""
    media = F.filter("spans", lambda s: s["kind"] == F.lit("media"))
    bands = F.array_distinct(F.transform(
        media, lambda s: F.element_at(F.split(s["media_ref"], "/"), 5)))
    return docs.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.size(media).alias("n_media"),
        F.size(bands).alias("n_bands"),
        F.size(F.filter("spans", lambda s: s["kind"] == F.lit("text"))).alias("n_text"),
    )


def media_span_stats_sql(docs_path: str) -> str:
    return f"""
SELECT doc_id,
       len(spans) AS n_spans,
       len(list_filter(spans, s -> s.kind = 'media')) AS n_media,
       len(list_distinct(list_transform(
           list_filter(spans, s -> s.kind = 'media'),
           s -> str_split(s.media_ref, '/')[5]))) AS n_bands,
       len(list_filter(spans, s -> s.kind = 'text')) AS n_text
FROM read_parquet('{docs_path}')
"""
