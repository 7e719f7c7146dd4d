"""Unified index lifecycle surface (round-11 verdict task 8).

Five persisted index families grew up in their own modules with slightly
different save/load/append/query/report/drift spellings. This module is
the ONE naming scheme a user needs — ``<verb>_<kind>`` over a shared
``path`` layout — delegating to the existing (still-supported) operator
functions, which remain the implementation and keep their tests:

======= =========== ======================================= ==============================
kind    backing     save / load / append                    query / report / drift
======= =========== ======================================= ==============================
ivf     similarity  save_ivf / load_ivf / append_ivf        query_ivf / report_ivf / drift_ivf
pq      similarity  save_pq / load_pq                       query_pq
graph   similarity  save_graph / load_graph / append_graph_ query_graph
text    text        save_text / load_text / append_text     query_text
dedup   dedup       save_dedup / append_dedup               query_dedup / drift_dedup
======= =========== ======================================= ==============================

Every ``save_*`` writes a one-row ``<path>/meta`` parquet recording the
build parameters (note 46: prebuilt-artifact params belong in a meta
file, not re-derivation or caller kwargs); :func:`read_meta` returns it
for any kind. Load-bearing parameter recovery stays where it already
lives — append_index reads the stored element type, ivf_pq_topk derives
the codebook stride (note 36), append_graph reads the graph meta — the
meta file adds the human/audit copy and cross-version validation
(append_dedup refuses an index whose recorded shingle width no longer
matches the library's). The dedup index keeps its postings in ONE table,
``<path>/sets`` (one row per doc, shingle hashes in the frozen rank order),
beside its frozen ``<path>/df``; an index in the older two-table layout
(``ranked`` plus unordered ``sets.shs``) fails every dedup verb with an
AnalysisException before any job or write, so rebuild it with save_dedup.

All lifecycle functions are THIN delegates: no new plan shapes, no new
semantics. The original names keep working everywhere (this module is
the consolidation, not a migration); roundtrip tests drive each kind
through the unified names in tests/test_index_surface.py.

:func:`validate` is the one NEW capability here — a per-kind
consistency check (the ``validate_shards`` of index lifecycles)
returning a problems frame that is empty when the layout is
trustworthy; run it before serving a restored or appended artifact.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from samsa_spark import tables
from samsa_spark.operators import dedup as _dedup
from samsa_spark.operators import similarity as _sim
from samsa_spark.operators import text as _text


def _write_meta(spark: SparkSession, path: str, kind: str, **params) -> None:
    import json

    row = [(kind, json.dumps(params, sort_keys=True))]
    # single-slice local frame: createDataFrame+coalesce(1) drains 32
    # Python-RDD slices sequentially (~5 s per one-row write, measured r14)
    tables.local_rows(spark, row, "kind string, params string").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta_index")


def read_meta(spark: SparkSession, path: str) -> dict:
    """The build parameters any unified ``save_*`` recorded: ``{"kind":
    ..., **params}``. (The graph kind ALSO keeps its original typed
    ``<path>/meta`` frame — that one is load-bearing for append_graph and
    untouched here.)"""
    import json

    r = spark.read.parquet(f"{path}/meta_index").first()
    return {"kind": r.kind, **json.loads(r.params)}


# --- ivf ---------------------------------------------------------------------


def save_ivf(
    embeddings: DataFrame,
    path: str,
    cells: int = 32,
    iters: int = 4,
    quantize: bool = False,
) -> None:
    _sim.save_index(embeddings, path, cells=cells, iters=iters, quantize=quantize)
    _write_meta(
        embeddings.sparkSession, path, "ivf", cells=cells, iters=iters, quantize=quantize
    )


def load_ivf(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    cents, assign = _sim.load_index(spark, path)
    return {"centroids": cents, "assignments": assign}


def append_ivf(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    append_id: int | None = None,
) -> DataFrame:
    return _sim.append_index(spark, path, new_vectors, append_id=append_id)


def query_ivf(
    spark: SparkSession, path: str, n_probes: int = 20, k: int = 3
) -> DataFrame:
    return _sim.ivf_topk_prebuilt(spark, path, n_probes=n_probes, k=k)


def report_ivf(spark: SparkSession, path: str) -> DataFrame:
    return _sim.index_report(spark, path)


def drift_ivf(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/drift")


# --- pq ----------------------------------------------------------------------


def save_pq(
    embeddings: DataFrame,
    path: str,
    cells: int = 32,
    iters: int = 1,
    m: int | None = None,
    n_cents: int | None = None,
) -> None:
    kw = {}
    if m is not None:
        kw["m"] = m
    if n_cents is not None:
        kw["n_cents"] = n_cents
    _sim.save_pq_index(embeddings, path, cells=cells, iters=iters, **kw)
    _write_meta(
        embeddings.sparkSession,
        path,
        "pq",
        cells=cells,
        iters=iters,
        m=m if m is not None else _sim.PQ_M,
        n_cents=n_cents if n_cents is not None else _sim.PQ_K,
    )


def load_pq(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    return _sim.load_pq_index(spark, path)


def query_pq(
    spark: SparkSession,
    path: str,
    embeddings: DataFrame,
    n_probes: int = 20,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ query over the saved artifacts (qz4's prebuilt regime). The
    probe set comes from ``embeddings`` (vec_id < n_probes, the library's
    probe convention); the corpus side reads only the probed cells' code
    partitions. Codebook stride derives from the ARTIFACT (note 36)."""
    idx = _sim.load_pq_index(spark, path)
    return _sim.ivf_pq_topk(
        embeddings,
        n_probes=n_probes,
        k=k,
        centroids=idx["centroids"],
        assignments=idx["assignments"],
        codebooks=idx["codebooks"],
        codes=idx["codes"],
    )


# --- graph -------------------------------------------------------------------


def save_graph(
    embeddings: DataFrame,
    path: str,
    cells: int = 32,
    iters: int = 4,
    m_edges: int | None = None,
    spill: int | None = None,
    n_entries: int | None = None,
) -> None:
    kw = {}
    if m_edges is not None:
        kw["m_edges"] = m_edges
    if spill is not None:
        kw["spill"] = spill
    if n_entries is not None:
        kw["n_entries"] = n_entries
    _sim.save_graph_index(embeddings, path, cells=cells, iters=iters, **kw)
    _write_meta(
        embeddings.sparkSession,
        path,
        "graph",
        cells=cells,
        iters=iters,
        m_edges=m_edges if m_edges is not None else _sim.GX_M,
        spill=spill if spill is not None else _sim.GX_SPILL,
        n_entries=n_entries if n_entries is not None else _sim.GX_ENTRIES,
    )


def load_graph(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    return _sim.load_graph_index(spark, path)


def append_graph_(spark: SparkSession, path: str, new_vectors: DataFrame) -> DataFrame:
    """Trailing underscore only because ``append_graph`` is the original
    operator name this delegates to; both spellings are public."""
    return _sim.append_graph(spark, path, new_vectors)


append_graph = append_graph_


def query_graph(
    spark: SparkSession,
    path: str,
    embeddings: DataFrame,
    n_probes: int = 20,
    k: int = 3,
) -> DataFrame:
    idx = _sim.load_graph_index(spark, path)
    meta = spark.read.parquet(f"{path}/meta").first()
    return _sim.graph_topk(
        embeddings,
        n_probes=n_probes,
        k=k,
        centroids=idx["centroids"],
        graph=idx["graph"],
        spill=int(meta.spill),
        n_entries=int(meta.n_entries),
    )


# --- text (BM25) --------------------------------------------------------------


def save_text(corpus: DataFrame, path: str) -> None:
    _text.save_text_index(corpus, path)
    _write_meta(corpus.sparkSession, path, "text", tokenizer="whitespace")


def load_text(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    return _text.load_text_index(spark, path)


def append_text(
    spark: SparkSession, path: str, new_docs: DataFrame
) -> dict[str, DataFrame]:
    return _text.append_text_index(spark, path, new_docs)


def query_text(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    k: int = 5,
    pushdown: bool = True,
) -> DataFrame:
    idx = _text.load_text_index(spark, path)
    return _text.bm25_query(idx, probes, k=k, pushdown=pushdown)


# --- dedup -------------------------------------------------------------------


def save_dedup(corpus: DataFrame, path: str) -> None:
    _dedup.save_dedup_index(corpus, path)
    _write_meta(corpus.sparkSession, path, "dedup", shingle_k=_dedup.SHINGLE_K)


def _check_dedup_meta(spark: SparkSession, path: str) -> None:
    # cross-version guard: an index ranked under a different shingle width
    # would silently produce wrong prefixes — refuse instead (note 46)
    from pyspark.errors import AnalysisException

    try:
        meta = read_meta(spark, path)
    except AnalysisException:
        return  # pre-unified artifact: no meta to check
    if meta.get("shingle_k") != _dedup.SHINGLE_K:
        raise ValueError(
            f"dedup index at {path} was built with shingle_k="
            f"{meta.get('shingle_k')} but this library shingles at "
            f"{_dedup.SHINGLE_K}; rebuild the index (save_dedup) before "
            "appending or querying"
        )


def append_dedup(spark: SparkSession, path: str, batch: DataFrame) -> DataFrame:
    _check_dedup_meta(spark, path)
    return _dedup.append_dedup_index(spark, path, batch)


def query_dedup(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    min_jaccard: float = _dedup.DD16_MIN_JACCARD,
) -> DataFrame:
    _check_dedup_meta(spark, path)
    return _dedup.dedup_against_index(spark, path, batch, min_jaccard=min_jaccard)


def drift_dedup(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/drift")


# --- validate ----------------------------------------------------------------


def validate(spark: SparkSession, path: str, kind: str | None = None) -> DataFrame:
    """Consistency check for any saved index — the ``validate_shards`` of
    the index lifecycles: one row per violated invariant ``(kind,
    problem, n)``; an empty frame means the layout is trustworthy. Run
    it before serving a restored/appended artifact. ``kind`` comes from
    the unified meta file when present; pass it explicitly for
    pre-unified artifacts.

    Checked invariants (all metadata-cardinality aggregates or
    partition-pruned column scans — no payload reads beyond ids):

    - ivf: centroids nonempty; every assignment cell has a centroid;
      no duplicate vec_id across assignments.
    - pq: ivf checks + codebook stride dense per subspace (cids are
      exactly 0..n_cents-1 for every s); every coded vec has an
      assignment row and vice versa.
    - graph: typed build-param meta present; every graph cell has a
      centroid; no duplicate (vec_id, cell); every neighbor id is a
      member of the SAME cell (the locality invariant the beam walk
      assumes).
    - text: every posting doc has a doclens row; per-token docfreq
      partials sum to the posting list's distinct-doc count.
    - dedup: no duplicate doc_id in ``sets`` (its one posting table);
      every row's ``n_sh`` equals the size of its ``ranked_shs``. An
      index in the old two-table layout fails at analysis.
    """
    if kind is None:
        kind = read_meta(spark, path)["kind"]
    probs: list[DataFrame] = []

    def add(name: str, df_n: DataFrame) -> None:
        probs.append(
            df_n.select(
                F.lit(kind).alias("kind"),
                F.lit(name).alias("problem"),
                F.col("n").cast("bigint").alias("n"),
            ).where(F.col("n") > 0)
        )

    if kind in ("ivf", "pq"):
        cents, assign = _sim.load_index(spark, path)
        cent_ids = cents.select("cell").distinct()
        if cents.count() == 0:
            probs.append(
                tables.local_rows(
                    spark,
                    [(kind, "no_centroids", 1)],
                    "kind string, problem string, n bigint",
                )
            )
        add(
            "assignment_cell_without_centroid",
            assign.select("cell")
            .distinct()
            .join(cent_ids, "cell", "left_anti")
            .agg(F.count("*").alias("n")),
        )
        add(
            "duplicate_vec_id",
            assign.groupBy("vec_id")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") > 1)
            .agg(F.count("*").alias("n")),
        )
        if kind == "pq":
            idx = _sim.load_pq_index(spark, path)
            cb, codes = idx["codebooks"], idx["codes"]
            per_s = cb.groupBy("s").agg(
                F.countDistinct("cid").alias("k"),
                F.min("cid").alias("lo"),
                F.max("cid").alias("hi"),
            )
            ks = per_s.select("k").distinct()
            add(
                "codebook_stride_ragged",
                ks.agg((F.count("*") - 1).alias("n")),
            )
            add(
                "codebook_cids_not_dense",
                per_s.where(
                    (F.col("lo") != 0) | (F.col("hi") != F.col("k") - 1)
                ).agg(F.count("*").alias("n")),
            )
            add(
                "coded_vec_without_assignment",
                codes.select("vec_id")
                .join(assign.select("vec_id"), "vec_id", "left_anti")
                .agg(F.count("*").alias("n")),
            )
            add(
                "assigned_vec_without_codes",
                assign.select("vec_id")
                .join(codes.select("vec_id"), "vec_id", "left_anti")
                .agg(F.count("*").alias("n")),
            )
    elif kind == "graph":
        idx = _sim.load_graph_index(spark, path)
        cents, graph = idx["centroids"], idx["graph"]
        from pyspark.errors import AnalysisException

        try:
            spark.read.parquet(f"{path}/meta").first()
        except AnalysisException:
            probs.append(
                tables.local_rows(
                    spark,
                    [(kind, "missing_build_meta", 1)],
                    "kind string, problem string, n bigint",
                )
            )
        add(
            "graph_cell_without_centroid",
            graph.select("cell")
            .distinct()
            .join(cents.select("cell").distinct(), "cell", "left_anti")
            .agg(F.count("*").alias("n")),
        )
        add(
            "duplicate_member_row",
            graph.groupBy("vec_id", "cell")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") > 1)
            .agg(F.count("*").alias("n")),
        )
        members = graph.select("cell", F.col("vec_id").alias("nbr"))
        add(
            "neighbor_outside_cell",
            graph.select("cell", F.explode("nbrs").alias("nbr"))
            .join(members, ["cell", "nbr"], "left_anti")
            .agg(F.count("*").alias("n")),
        )
    elif kind == "text":
        idx = _text.load_text_index(spark, path)
        postings, doclens, docfreq = idx["postings"], idx["doclens"], idx["docfreq"]
        add(
            "posting_doc_without_doclen",
            postings.select("doc_id")
            .distinct()
            .join(doclens.select("doc_id"), "doc_id", "left_anti")
            .agg(F.count("*").alias("n")),
        )
        true_df = postings.groupBy("tok").agg(
            F.countDistinct("doc_id").alias("true_df")
        )
        merged = docfreq.groupBy("tok").agg(F.sum("df").alias("df"))
        add(
            "docfreq_mismatch",
            merged.join(true_df, "tok", "full")
            .where(
                F.coalesce("df", F.lit(0)) != F.coalesce("true_df", F.lit(0))
            )
            .agg(F.count("*").alias("n")),
        )
    elif kind == "dedup":
        sets = spark.read.parquet(f"{path}/sets")
        add(
            "duplicate_doc_id",
            sets.groupBy("doc_id")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") > 1)
            .agg(F.count("*").alias("n")),
        )
        add(
            "n_sh_not_ranked_size",
            sets.where(F.col("n_sh") != F.size("ranked_shs")).agg(
                F.count("*").alias("n")
            ),
        )
    else:
        raise ValueError(f"validate: unknown index kind {kind!r}")

    import functools

    out = functools.reduce(lambda a, b: a.unionByName(b), probs)
    return out
