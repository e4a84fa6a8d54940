"""Batch-only contract of the kernel-backed operators.

Each ANN/dedup/clustering operator below runs one code path, its Arrow
kernel, which collects a bounded side and so cannot run on a streaming
plan. Each must refuse a streaming frame with a ``ValueError`` naming
the operator, before any query starts. ``lsh_signatures`` is the one
operator with a streaming form, and must keep returning a streaming
frame.

The k-means kernels key their centroid panel on one group column, so
a composite group key must be refused by name, not read as a vector.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators import ann, clustering, dedup
from bigdatafinalproject_spark.operators.arrow_kernels import (
    argmin_centroids_arrow,
)

DIM = 64


@pytest.fixture(scope="module")
def stream(spark):
    """A rate-source stream with vec_id/embedding/text columns. No
    query is ever started on it."""
    return spark.readStream.format("rate").load().select(
        F.col("value").alias("vec_id"),
        F.array_repeat(F.lit(1.0).cast("float"), DIM).alias("embedding"),
        F.concat(F.lit("doc text "), F.col("value").cast("string")).alias(
            "text"
        ),
    )


@pytest.fixture(scope="module")
def cents(spark):
    """Batch centroid frame, named for each consumer's schema."""
    return spark.createDataFrame(
        [(i, [float(i + 1)] * DIM) for i in range(3)],
        "cid bigint, centroid array<double>",
    )


_CASES = {
    "cosine_topk": lambda s, c: ann.cosine_topk(s, s),
    "_nearest_centroids": lambda s, c: ann._nearest_centroids(
        c.select(
            F.col("cid").alias("centroid_id"), F.col("centroid").alias("_cent")
        ),
        s, "vec_id", "embedding", 1, "neighbor_id",
    ),
    "encode_against_codebook": lambda s, c: ann.encode_against_codebook(
        s.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_v")
        ),
        c.select(
            F.lit(0).alias("s"),
            F.col("cid").alias("code"),
            F.col("centroid").alias("_cw"),
        ),
        1, DIM, ["neighbor_id"],
    ),
    "shingles": lambda s, c: dedup.shingles(s, "text", "vec_id"),
    "minhash_signatures": lambda s, c: dedup.minhash_signatures(
        s, "text", "vec_id"
    ),
    "minhash_band_digests": lambda s, c: dedup.minhash_band_digests(
        s, "text", "vec_id"
    ),
    "simhash_signatures": lambda s, c: dedup.simhash_signatures(
        s, "text", "vec_id"
    ),
    "kmeans_assign": lambda s, c: clustering.kmeans_assign(s, k=3),
    "kmeans_centroids": lambda s, c: clustering.kmeans_centroids(s, c, 1),
}


@pytest.mark.parametrize("op", sorted(_CASES))
def test_kernel_operator_refuses_streaming_frame(spark, stream, cents, op):
    assert stream.isStreaming
    with pytest.raises(ValueError, match=op):
        _CASES[op](stream, cents)
    assert not spark.streams.active


def test_lsh_signatures_keeps_its_streaming_form(spark, stream):
    sig = ann.lsh_signatures(stream)
    assert sig.isStreaming
    assert sig.columns == ["vec_id", "band", "band_sig"]
    assert not spark.streams.active


def test_kmeans_refuses_composite_group_key(spark):
    emb = spark.createDataFrame(
        [(i, i % 2, i % 3, [float(i)] * 4) for i in range(12)],
        "vec_id bigint, a int, b int, embedding array<float>",
    )
    init = emb.filter(F.col("vec_id") < 6).select(
        "a", "b", F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    with pytest.raises(ValueError, match="kmeans_centroids.*one group column"):
        clustering.kmeans_centroids(emb, init, 1, group_cols=("a", "b"))
    with pytest.raises(
        ValueError, match="argmin_centroids_arrow.*one group column"
    ):
        argmin_centroids_arrow(emb, init, "vec_id", "embedding", ("a", "b"))
