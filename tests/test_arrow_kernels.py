"""Bit-exactness of the r14 Arrow kernels against the expression forms
they replaced.

The whole optimization rests on one claim: dimension-sequential numpy
accumulation reproduces the ``aggregate(zip_with(...))`` left-to-right
double fold bit-for-bit (same IEEE ops in the same order, exact
float32 -> float64 widening). These tests pin that claim two ways:

1. property tests of the numpy primitives against a pure-Python
   sequential fold (the definition both Spark and DuckDB execute);
2. end-to-end equality of each kernel's DataFrame output against the
   original Spark expression pipeline on a deterministic pseudo-random
   corpus, including tie rows (duplicated vectors) so the
   (score, id) tie rules are exercised, not just generic data.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators import arrow_kernels as AK


def _fold_dot(xs, cs):
    acc = 0.0
    for x, c in zip(xs, cs):
        acc = acc + float(x) * float(c)
    return acc


def _fold_l2(xs, cs):
    acc = 0.0
    for x, c in zip(xs, cs):
        d = float(x) - float(c)
        acc = acc + d * d
    return acc


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(20260818)


def test_seq_primitives_match_pure_python_fold(rng):
    X32 = (rng.standard_normal((64, 7)) * 3).astype(np.float32)
    C = rng.standard_normal((5, 7))
    X = X32.astype(np.float64)  # exact widening, as CAST(x AS DOUBLE)
    dots = AK.seq_dot(X, C)
    l2s = AK.seq_l2(X, C)
    norms = AK.seq_norm(X)
    for i in range(X.shape[0]):
        for j in range(C.shape[0]):
            assert dots[i, j] == _fold_dot(X32[i], C[j])
            assert l2s[i, j] == _fold_l2(X32[i], C[j])
        assert norms[i] == np.sqrt(_fold_dot(X32[i], X32[i]))


def _corpus(spark, rng, n=300, dim=8):
    # duplicated vectors force exact score ties -> the id tie-break
    # rules are what distinguishes a correct kernel from a close one
    vals = (rng.standard_normal((n, dim)) * 2).astype(np.float32)
    vals[1::7] = vals[0::7][: len(vals[1::7])]
    rows = [(int(i), [float(v) for v in vals[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_topn_centroids_matches_expression_form(spark, rng):
    emb = _corpus(spark, rng)
    cents = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_cent")
    )
    got = AK.topn_centroids_arrow(
        emb, cents, "vec_id", "embedding", 3, "nid", keep_rank=True
    )
    # the original crossJoin + window form
    dot = F.expr(
        "aggregate(zip_with(_v, _cent, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.expr(
            f"aggregate(zip_with({c}, {c}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    v = emb.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("_v")
    ).withColumn("_vn", nrm("_v"))
    cn = cents.withColumn("_cn", nrm("_cent"))
    w = W.partitionBy("nid").orderBy(F.col("_cos").desc(), F.col("centroid_id").asc())
    ref = (
        v.crossJoin(F.broadcast(cn))
        .withColumn("_cos", dot / (F.col("_vn") * F.col("_cn")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("nid", "centroid_id", "_rn")
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_topn_residuals_match_zip_with(spark, rng):
    emb = _corpus(spark, rng, n=60)
    cents = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_cent")
    )
    got = AK.topn_centroids_arrow(
        emb, cents, "vec_id", "embedding", 2, "nid",
        keep_rank=True, emit_residual=True,
    )
    ref = (
        AK.topn_centroids_arrow(
            emb, cents, "vec_id", "embedding", 2, "nid", keep_rank=True
        )
        .join(emb.select(F.col("vec_id").alias("nid"), "embedding"), "nid")
        .join(cents, "centroid_id")
        .select(
            "nid", "centroid_id", "_rn",
            F.expr(
                "zip_with(embedding, _cent, (x, c) -> "
                "CAST(x AS DOUBLE) - CAST(c AS DOUBLE))"
            ).alias("_rv"),
        )
    )
    gl = {(r["nid"], r["centroid_id"]): r["_rv"] for r in got.collect()}
    rl = {(r["nid"], r["centroid_id"]): r["_rv"] for r in ref.collect()}
    assert gl == rl


def test_argmin_matches_min_struct(spark, rng):
    emb = _corpus(spark, rng)
    cents = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    got = AK.argmin_centroids_arrow(emb, cents, "vec_id", "embedding")
    l2 = F.expr(
        "aggregate(zip_with(embedding, centroid, (x, c) -> "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    ref = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", l2.alias("dist"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("b"))
        .select("vec_id", F.col("b.cid").alias("cid"), F.col("b.dist").alias("dist"))
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_encode_codebook_matches_join_argmin(spark, rng):
    m, dim = 4, 8
    emb = _corpus(spark, rng, n=120, dim=dim)
    frame = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("_v"))
    cb = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .select(F.col("vec_id").alias("code"), F.col("embedding").alias("_v"))
        .select(
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1)).cast("array<int>")).alias("s"),
            "_v",
        )
        .select("code", "s", F.slice("_v", F.col("s") * (dim // m) + 1, dim // m).alias("_cw"))
    )
    got = AK.encode_codebook_arrow(frame, cb, m, dim, ["nid"])
    sub = dim // m
    l2 = F.expr(
        "aggregate(zip_with(_sv, _cw, (x, c) -> "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    ref = (
        frame.select(
            "nid",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1)).cast("array<int>")).alias("s"),
            "_v",
        )
        .select("nid", "s", F.slice("_v", F.col("s") * sub + 1, sub).alias("_sv"))
        .join(F.broadcast(cb), "s")
        .withColumn("_d", l2)
        .groupBy("nid", "s")
        .agg(F.min(F.struct("_d", "code")).alias("_b"))
        .select("nid", "s", F.col("_b.code").alias("code"))
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_pair_cosine_and_norms_match_folds(spark, rng):
    emb = _corpus(spark, rng, n=80)
    pairs = (
        emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("_va"))
        .crossJoin(
            emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("_vb"))
        )
        .filter((F.col("a") < F.col("b")) & (F.col("b") - F.col("a") < 5))
    )
    got = AK.pair_cosine_arrow(pairs, ["a", "b"], "_va", "_vb", "cosine")
    dot = F.expr(
        "aggregate(zip_with(_va, _vb, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.expr(
            f"aggregate(zip_with({c}, {c}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    ref = pairs.select(
        "a", "b", (dot / (nrm("_va") * nrm("_vb"))).alias("cosine")
    )
    assert _sorted_rows(got) == _sorted_rows(ref)
    gn = AK.norms_arrow(emb, "vec_id", "embedding", "_n")
    rn = emb.select("vec_id", nrm("embedding").alias("_n"))
    assert _sorted_rows(gn) == _sorted_rows(rn)


def test_cosine_topk_arrow_matches_crossjoin_window(spark, rng):
    emb = _corpus(spark, rng, n=200)
    queries = emb.filter(F.col("vec_id") % 23 == 0)
    got = AK.cosine_topk_arrow(emb.repartition(7), queries, "vec_id", "embedding", 5)
    dot = F.expr(
        "aggregate(zip_with(_qv, _cv, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.expr(
            f"aggregate(zip_with({c}, {c}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    ).withColumn("_qn", nrm("_qv"))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    ).withColumn("_cn", nrm("_cv"))
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    ref = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", (dot / (F.col("_qn") * F.col("_cn"))).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_adc_lookup_and_coarse_terms_match_folds(spark, rng):
    m, dim, scale = 4, 8, 1_000_000
    emb = _corpus(spark, rng, n=90, dim=dim)
    queries = emb.filter(F.col("vec_id") % 11 == 0)
    cb = (
        emb.filter(F.col("vec_id") % 41 == 0)
        .select(F.col("vec_id").alias("code"), F.col("embedding").alias("_v"))
        .select(
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1)).cast("array<int>")).alias("s"),
            "_v",
        )
        .select("code", "s", F.slice("_v", F.col("s") * (dim // m) + 1, dim // m).alias("_cw"))
    )
    got = AK.adc_lookup_arrow(queries, cb, m, dim, scale, "vec_id", "embedding")
    sub = dim // m
    pdot = F.expr(
        "aggregate(zip_with(_sv, _cw, (x, c) -> "
        "CAST(x AS DOUBLE) * CAST(c AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    ref = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_v"))
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1)).cast("array<int>")).alias("s"),
            "_v",
        )
        .select("query_id", "s", F.slice("_v", F.col("s") * sub + 1, sub).alias("_sv"))
        .join(F.broadcast(cb), "s")
        .select("query_id", "s", "code", F.floor(pdot * scale).cast("long").alias("_pq"))
    )
    assert _sorted_rows(got) == _sorted_rows(ref)

    cents = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("_cent")
    )
    probes = queries.select(F.col("vec_id").alias("query_id")).crossJoin(
        cents.select("centroid_id")
    )
    gotc = AK.coarse_terms_arrow(probes, queries, cents, scale, "vec_id", "embedding")
    dot2 = F.expr(
        "aggregate(zip_with(_qv, _cent, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    refc = (
        probes.join(
            queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")),
            "query_id",
        )
        .join(cents, "centroid_id")
        .select("query_id", "centroid_id", F.floor(dot2 * scale).cast("long").alias("_qc"))
    )
    assert _sorted_rows(gotc) == _sorted_rows(refc)


def test_quantized_scan_arrow_matches_crossjoin_fold(spark, rng):
    from bigdatafinalproject_spark.operators.ann import _with_int8

    emb = _corpus(spark, rng, n=200)
    queries = emb.filter(F.col("vec_id") % 23 == 0)
    c = _with_int8(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id", "embedding", "_c",
    )
    q = _with_int8(
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        "query_id", "embedding", "_q",
    )
    got = AK.quantized_scan_arrow(c.repartition(7), q, 6)
    qcos = F.expr(
        "CAST(aggregate(zip_with(_qq, _cq, (x, y) -> "
        "CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
    ) / (
        F.sqrt(F.col("_qn2").cast("double"))
        * F.sqrt(F.col("_cn2").cast("double"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("_qcos").desc(), F.col("neighbor_id").asc()
    )
    ref = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", qcos.alias("_qcos"))
        .withColumn("_qrank", F.row_number().over(w))
        .filter(F.col("_qrank") <= 6)
        .select("query_id", "neighbor_id")
    )
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_panel_reads_refuse_over_cap_from_footers(tmp_path, monkeypatch):
    """The driver-side panel readers check ``_COLLECT_CAP`` against the
    footer row counts BEFORE any data is read: an oversized table is
    refused without ever materializing it on the driver."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    panel, book = tmp_path / "panel", tmp_path / "book"
    panel.mkdir()
    book.mkdir()
    vecs = pa.array([[1.0, 2.0]] * 10, pa.list_(pa.float64()))
    ids = pa.array(range(10), pa.int64())
    papq.write_table(pa.table({"id": ids, "v": vecs}), panel / "part-0.parquet")
    papq.write_table(
        pa.table({"s": pa.array([0] * 10, pa.int64()), "code": ids, "_cw": vecs}),
        book / "part-0.parquet",
    )

    def _no_read(*a, **k):
        raise AssertionError("data read before the cap check")

    monkeypatch.setattr(AK, "_COLLECT_CAP", 9)
    with monkeypatch.context() as m:
        m.setattr(papq, "ParquetDataset", _no_read)
        with pytest.raises(ValueError, match=r"10 rows \(cap 9\)"):
            AK.panel_from_parquet([str(panel)], "id", "v")
        with pytest.raises(ValueError, match=r"10 rows \(cap 9\)"):
            AK.codebook_from_parquet([str(book)], m=1)
    # at the cap both read normally
    monkeypatch.setattr(AK, "_COLLECT_CAP", 10)
    got_ids, mat = AK.panel_from_parquet([str(panel)], "id", "v")
    assert got_ids.tolist() == list(range(10)) and mat.shape == (10, 2)
    assert AK.codebook_from_parquet([str(book)], m=1)[0][0].tolist() == list(range(10))
