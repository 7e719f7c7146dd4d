"""Unified index lifecycle surface (samsa_spark.index): every kind
roundtrips through the ONE naming scheme and matches the original
operator spellings it delegates to. Thin-delegate contract: no new plan
shapes — equality against the original functions IS the test."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL


def _emb(spark):
    from samsa_spark import tables

    return tables.load(spark, SF_SMALL, "embeddings")


def _docs(spark):
    from samsa_spark import tables

    return tables.load(spark, SF_SMALL, "documents").select("doc_id", "text")


def test_ivf_roundtrip_unified_names(spark, tmp_path):
    from samsa_spark import index

    emb = _emb(spark)
    half1 = emb.where(F.col("vec_id") % 2 == 0)
    half2 = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    p = str(tmp_path / "ivf")
    index.save_ivf(half1, p, cells=8)
    meta = index.read_meta(spark, p)
    assert meta == {"kind": "ivf", "cells": 8, "iters": 4, "quantize": False}
    index.append_ivf(spark, p, half2)
    idx = index.load_ivf(spark, p)
    assert set(idx) == {"centroids", "assignments"}
    n = emb.count()
    assert idx["assignments"].count() == n
    out = index.query_ivf(spark, p, n_probes=10, k=3)
    assert out.count() > 0
    rep = index.report_ivf(spark, p).collect()[0]
    assert rep.n_vectors == n
    drift = index.drift_ivf(spark, p)
    assert drift.where("append_id = 0").count() > 0


def test_pq_roundtrip_matches_direct_prebuilt(spark, tmp_path):
    from samsa_spark import index
    from samsa_spark.operators.similarity import ivf_pq_topk, load_pq_index

    emb = _emb(spark)
    p = str(tmp_path / "pq")
    index.save_pq(emb, p, cells=8)
    assert index.read_meta(spark, p)["kind"] == "pq"
    got = sorted(
        tuple(r) for r in index.query_pq(spark, p, emb, n_probes=10, k=3).collect()
    )
    idx = load_pq_index(spark, p)
    want = sorted(
        tuple(r)
        for r in ivf_pq_topk(
            emb,
            n_probes=10,
            k=3,
            centroids=idx["centroids"],
            assignments=idx["assignments"],
            codebooks=idx["codebooks"],
            codes=idx["codes"],
        ).collect()
    )
    assert got == want and got


def test_graph_roundtrip_unified_names(spark, tmp_path):
    from samsa_spark import index

    emb = _emb(spark)
    half1 = emb.where(F.col("vec_id") % 2 == 0)
    half2 = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    p = str(tmp_path / "g")
    index.save_graph(half1, p, cells=8)
    assert index.read_meta(spark, p)["kind"] == "graph"
    index.append_graph(spark, p, half2)
    g = index.load_graph(spark, p)
    assert set(g) == {"centroids", "graph"}
    out = index.query_graph(spark, p, emb, n_probes=10, k=3)
    assert out.count() > 0


def test_text_roundtrip_matches_bm25_topk(spark, tmp_path):
    from samsa_spark import index
    from samsa_spark.operators.text import bm25_topk

    docs = _docs(spark)
    corpus = docs.where("doc_id >= 20")
    probes = docs.where("doc_id < 20")
    p = str(tmp_path / "bm")
    index.save_text(corpus, p)
    assert index.read_meta(spark, p)["kind"] == "text"
    got = sorted(
        (r.q_id, r.doc_id, r.rank)
        for r in index.query_text(spark, p, probes, k=5).collect()
    )
    want = sorted(
        (r.q_id, r.doc_id, r.rank) for r in bm25_topk(docs, k=5).collect()
    )
    assert got == want and got


def test_dedup_roundtrip_and_meta_guard(spark, tmp_path):
    from samsa_spark import index
    from samsa_spark.operators.dedup import dedup_against_index

    docs = _docs(spark)
    base = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 2 = 1")
    p = str(tmp_path / "dd")
    index.save_dedup(base, p)
    assert index.read_meta(spark, p)["shingle_k"] == 3
    got = {tuple(r) for r in index.query_dedup(spark, p, batch).collect()}
    want = {tuple(r) for r in dedup_against_index(spark, p, batch).collect()}
    assert got == want and got
    index.append_dedup(spark, p, batch)
    assert index.drift_dedup(spark, p).count() == 1

    # cross-version guard: a recorded shingle width that no longer matches
    # the library refuses instead of producing silently-wrong prefixes
    index._write_meta(spark, p, "dedup", shingle_k=5)
    with pytest.raises(ValueError, match="shingle_k"):
        index.query_dedup(spark, p, batch)


def test_validate_clean_indexes_report_nothing(spark, tmp_path):
    """index.validate over freshly built artifacts of every kind returns
    an empty problems frame."""
    from samsa_spark import index

    emb = _emb(spark)
    docs = _docs(spark)
    p_ivf, p_pq, p_g = str(tmp_path / "i"), str(tmp_path / "p"), str(tmp_path / "g")
    p_t, p_d = str(tmp_path / "t"), str(tmp_path / "d")
    index.save_ivf(emb, p_ivf, cells=8)
    index.save_pq(emb, p_pq, cells=8)
    index.save_graph(emb, p_g, cells=8)
    index.save_text(docs.where("doc_id >= 20"), p_t)
    index.save_dedup(docs, p_d)
    for p in (p_ivf, p_pq, p_g, p_t, p_d):
        probs = index.validate(spark, p).collect()
        assert probs == [], (p, probs)
    # appends keep every kind clean
    index.append_text(spark, p_t, docs.where("doc_id < 20"))
    index.append_dedup(spark, p_d, docs.limit(0))
    assert index.validate(spark, p_t).collect() == []
    assert index.validate(spark, p_d).collect() == []


def test_validate_flags_planted_corruption(spark, tmp_path):
    """Each kind's core invariant trips when violated: an IVF assignment
    pointing at a ghost cell, a graph neighbor outside its cell, a text
    docfreq partial off by one, a dedup doc stored twice and a dedup row
    whose n_sh disagrees with its ranked array."""
    import pyspark.sql.functions as F

    from samsa_spark import index

    emb = _emb(spark)
    docs = _docs(spark)

    p = str(tmp_path / "ivf")
    index.save_ivf(emb, p, cells=8)
    spark.createDataFrame(
        [(999_999, [0.0] * 8)], "vec_id long, embedding array<double>"
    ).withColumn("cell", F.lit(10_000)).write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{p}/assignments")
    spark.catalog.refreshByPath(f"{p}/assignments")
    got = {r.problem for r in index.validate(spark, p).collect()}
    assert "assignment_cell_without_centroid" in got

    g = str(tmp_path / "g")
    index.save_graph(emb, g, cells=8)
    gdf = index.load_graph(spark, g)["graph"]
    one = gdf.limit(1).select("vec_id", "cell", "embedding", "is_entry")
    bad = one.select(
        (F.col("vec_id") + 777_777).alias("vec_id"),
        "cell",
        "embedding",
        F.array(F.lit(-12345).cast("bigint")).alias("nbrs"),
        "is_entry",
    ).select("vec_id", "cell", "embedding", "nbrs", "is_entry")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    bad.write.mode("append").partitionBy("cell").parquet(f"{g}/graph")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.catalog.refreshByPath(f"{g}/graph")
    got = {r.problem for r in index.validate(spark, g).collect()}
    assert "neighbor_outside_cell" in got

    t = str(tmp_path / "t")
    index.save_text(docs.where("doc_id >= 20"), t)
    spark.createDataFrame([("zz_ghost_token", 3)], "tok string, df long").write.mode(
        "append"
    ).parquet(f"{t}/docfreq")
    spark.catalog.refreshByPath(f"{t}/docfreq")
    got = {r.problem for r in index.validate(spark, t).collect()}
    assert "docfreq_mismatch" in got

    d = str(tmp_path / "d")
    index.save_dedup(docs.where("doc_id >= 20"), d)
    sets = spark.read.parquet(f"{d}/sets")
    # a second row for a stored doc (what a replayed, un-anti-joined
    # append would write), then a row whose n_sh disagrees with its array
    dup = sets.limit(1).collect()
    spark.createDataFrame(
        dup + [(424_242, 5, [1, 2, 3])], sets.schema
    ).write.mode("append").parquet(f"{d}/sets")
    spark.catalog.refreshByPath(f"{d}/sets")
    got = {r.problem: r.n for r in index.validate(spark, d).collect()}
    assert got == {"duplicate_doc_id": 1, "n_sh_not_ranked_size": 1}
