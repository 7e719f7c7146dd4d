"""Similarity search over the ``embeddings`` table (X3 in SURVEY.md §2.4):
cosine top-k and near-duplicate detection over an array<float> column.

Scale design: the baseline is brute-force cosine from a small *probe set*
(broadcast) against the full corpus — a broadcast nested-loop whose cost is
|probes| x N, never N^2. The scale path is random-hyperplane LSH: a 16-bit
bucket per vector (one narrow pass), then candidate ranking only within
colliding buckets. Dot products run in a vectorized Arrow pandas UDF
(numpy matmul per batch) — the documented fast path when per-element JVM
lambdas (zip_with/aggregate) would be interpreted per row.

Cross-engine parity: embeddings are float32 on disk; both sides cast to
float64 before the dot product, and cosines are rounded to 6 decimals
*before* thresholding/ranking so low-bit summation-order differences can't
flip a comparison.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from samsa_spark import tables
from samsa_spark.session import scoped_conf

# Multi-table random-hyperplane LSH: L tables of B sign bits each. A pair is
# a candidate if it collides in ANY table — L small tables trade precision
# for recall, which is the right trade for near-orthogonal embeddings where
# a single wide code would never collide.
LSH_TABLES = 8
LSH_BITS = 6
_PLANE_SEED = 42
_DIM = 64


# NOTE: the pandas UDFs below are built inside factory functions (closures),
# not at module scope. Cloudpickle serializes a module-level function by
# reference to its module, which executor Python workers can't import when
# the driver process runs outside this repo; closures serialize by value.


def _cos_sim_udf():
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        dot = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        return pd.Series(dot / (na * nb))

    return pandas_udf(DoubleType())(_cos)


def _hyperplanes() -> np.ndarray:
    return np.random.RandomState(_PLANE_SEED).randn(LSH_TABLES * LSH_BITS, _DIM)


def _lsh_buckets_udf():
    n_tables, n_bits = LSH_TABLES, LSH_BITS
    planes = _hyperplanes()

    def _buckets(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        bits = ((X @ planes.T) >= 0.0).reshape(len(X), n_tables, n_bits)
        weights = 1 << np.arange(n_bits)
        codes = (bits * weights).sum(axis=2).astype(np.int32)  # (n, n_tables)
        return pd.Series(list(codes))

    return pandas_udf(ArrayType(IntegerType()))(_buckets)


def cosine_topk(embeddings: DataFrame, n_probes: int = 20, k: int = 5) -> DataFrame:
    """sim1 — brute-force cosine top-k: probe set (vec_id < n_probes,
    broadcast) x full corpus, rank by rounded cosine with vec_id tie-break.
    The exactness baseline every ANN variant is measured against.
    """
    base = embeddings.select("vec_id", "embedding")
    probes = F.broadcast(
        base.where(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
    )
    scored = (
        base.join(probes, F.col("q_id") != F.col("vec_id"))
        .withColumn("cos", F.round(_cos_sim_udf()("q_emb", "embedding"), 6))
        .select("q_id", "vec_id", "cos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def hard_negatives(embeddings: DataFrame, n_probes: int = 20, k: int = 5) -> DataFrame:
    """hn1 — hard-negative mining for contrastive training: per probe the
    top-``k`` most-similar corpus vectors with a DIFFERENT label — exactly
    the negatives a contrastive/embedding-model trainer wants in the batch
    (the easy random negative teaches nothing; the near-miss different-class
    neighbor carries the gradient). sim1's scored probe-broadcast join with
    the label inequality fused into the join condition, so same-label rows
    are dropped BEFORE scoring; same determinism contract (rounded cosine,
    vec_id tie-break). Returns ``(q_id, vec_id, neg_label, cos, rank)``.
    """
    base = embeddings.select("vec_id", "embedding", "label")
    probes = F.broadcast(
        base.where(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("label").alias("q_label"),
        )
    )
    scored = (
        base.join(
            probes,
            (F.col("q_id") != F.col("vec_id")) & (F.col("q_label") != F.col("label")),
        )
        .withColumn("cos", F.round(_cos_sim_udf()("q_emb", "embedding"), 6))
        .select("q_id", "vec_id", F.col("label").alias("neg_label"), "cos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "neg_label", "cos", "rank")
    )


def semi_hard_negatives(
    embeddings: DataFrame, n_probes: int = 20, k: int = 5, margin: float = 0.2
) -> DataFrame:
    """hn2 — SEMI-hard negative mining (the FaceNet band): negatives whose
    similarity sits in ``[pos_cos - margin, pos_cos)`` where ``pos_cos`` is
    the probe's best same-label cosine — harder than the margin floor,
    but still easier than the hardest positive (the regime that avoids the
    collapsed-embedding failure of training on hardest-only negatives).
    One scored join feeds both sides: the per-probe positive anchor is a
    max aggregate of the same-label slice (probe-cardinality, broadcast
    back), the negative slice filters against it, then the top-k window.
    Rounded-cosine band edges on both engines (rule-6 discipline).
    Returns ``(q_id, vec_id, cos, pos_cos, rank)``.
    """
    base = embeddings.select("vec_id", "embedding", "label")
    probes = F.broadcast(
        base.where(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("label").alias("q_label"),
        )
    )
    scored = (
        base.join(probes, F.col("q_id") != F.col("vec_id"))
        .withColumn("cos", F.round(_cos_sim_udf()("q_emb", "embedding"), 6))
        .select("q_id", "q_label", "vec_id", "label", "cos")
    )
    pos = (
        scored.where(F.col("label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.max("cos").alias("pos_cos"))
    )
    negs = (
        scored.where(F.col("label") != F.col("q_label"))
        .join(F.broadcast(pos), "q_id")
        .where(
            (F.col("cos") < F.col("pos_cos"))
            & (F.col("cos") >= F.col("pos_cos") - F.lit(float(margin)))
        )
        .select("q_id", "vec_id", "cos", "pos_cos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        negs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "pos_cos", "rank")
    )


_HN1_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
p AS (SELECT vec_id AS q_id, emb AS q_emb, label AS q_label FROM v WHERE vec_id < 20),
s AS (
  SELECT p.q_id, v.vec_id, v.label AS neg_label,
         round(list_cosine_similarity(p.q_emb, v.emb), 6) AS cos
  FROM p JOIN v ON p.q_id <> v.vec_id AND p.q_label <> v.label
), r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT q_id, vec_id, neg_label, cos, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""

_HN2_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
p AS (SELECT vec_id AS q_id, emb AS q_emb, label AS q_label FROM v WHERE vec_id < 20),
s AS (
  SELECT p.q_id, p.q_label, v.vec_id, v.label,
         round(list_cosine_similarity(p.q_emb, v.emb), 6) AS cos
  FROM p JOIN v ON p.q_id <> v.vec_id
),
pos AS (SELECT q_id, max(cos) AS pos_cos FROM s WHERE label = q_label GROUP BY q_id),
n AS (
  SELECT s.q_id, s.vec_id, s.cos, pos.pos_cos
  FROM s JOIN pos USING (q_id)
  WHERE s.label <> s.q_label AND s.cos < pos.pos_cos AND s.cos >= pos.pos_cos - 0.2
), r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM n
)
SELECT q_id, vec_id, cos, pos_cos, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


def embedding_near_dups(
    embeddings: DataFrame, n_probes: int = 100, min_cos: float = 0.35
) -> DataFrame:
    """dd5/sim2 — embedding-cosine near-duplicate pairs from a probe set:
    pairs (a < b) whose rounded cosine clears the threshold.
    """
    base = embeddings.select("vec_id", "embedding")
    probes = F.broadcast(
        base.where(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb")
        )
    )
    return (
        base.join(probes, F.col("a_id") < F.col("vec_id"))
        .withColumn("cos", F.round(_cos_sim_udf()("a_emb", "embedding"), 6))
        .where(F.col("cos") >= min_cos)
        .select("a_id", F.col("vec_id").alias("b_id"), "cos")
    )


def lsh_buckets(embeddings: DataFrame) -> DataFrame:
    """Exploded (vec_id, table, bucket) index: one row per hash table."""
    codes = embeddings.select(
        "vec_id", "embedding", F.posexplode(_lsh_buckets_udf()("embedding")).alias("table", "bucket")
    )
    return codes


def ann_topk_lsh(embeddings: DataFrame, n_probes: int = 20, k: int = 3) -> DataFrame:
    """sim3 — multi-table LSH approximate top-k: candidates are vectors that
    collide with the probe in ANY of the 8 tables; rank candidates by exact
    cosine. The (table, bucket) pair is the only join key — at 100 TB this is
    a co-locatable equi-join, never an all-pairs shuffle. Recall vs sim1 is
    asserted in tests/test_similarity.py.
    """
    # Materialized: the bucket projection (pandas-UDF hyperplane pass) feeds
    # both the probe filter and the corpus side of the candidate join.
    b = lsh_buckets(embeddings).localCheckpoint(eager=False)
    probes = F.broadcast(
        b.where(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("table").alias("q_table"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    cand = (
        b.join(
            probes,
            (F.col("q_table") == F.col("table"))
            & (F.col("q_bucket") == F.col("bucket"))
            & (F.col("q_id") != F.col("vec_id")),
        )
        .select("q_id", "q_emb", "vec_id", "embedding")
        .dropDuplicates(["q_id", "vec_id"])
    )
    scored = cand.withColumn("cos", F.round(_cos_sim_udf()("q_emb", "embedding"), 6)).select(
        "q_id", "vec_id", "cos"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


IVF_NPROBE = 2


def ivf_centroids(embeddings: DataFrame) -> DataFrame:
    """IVF coarse quantizer: per-label element-wise mean vector, rounded to
    6 decimals for cross-engine determinism. Labels seed the cells instead
    of iterative k-means — deterministic (no rand init), which is what lets
    the whole IVF path sit in the exact-oracle gate; a production index
    swaps this one function for k-means and keeps the query path."""
    pe = embeddings.select("label", F.posexplode("embedding").alias("pos", "val"))
    agg = pe.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("c")
    )
    cent = F.transform(
        F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
    )
    return agg.groupBy("label").agg(cent.alias("cent"))


# Ceiling for the closure-borne centroid matrix: the Lloyd loop collects the
# k x dim centroid table to the driver every iteration and ships it inside the
# assignment UDF's closure, so k is a DRIVER/EXECUTOR-MEMORY artifact, not a
# data-scale one. 65_536 cells x dim 64 x 8 B = 32 MB per broadcastable
# closure — comfortable; the sqrt(N) rule would ask for ~10^6 cells at 10^12
# vectors (512 MB closures, re-shipped every iteration) — the round-12
# verdict's cliff. Accuracy trade of capping: cells get coarser (N/k vectors
# each), so a fixed n_probes scans proportionally more candidates per query —
# recall at fixed n_probes/cells RISES (bigger probed fraction), query cost
# grows linearly in N/k; the structure never degenerates. Past this cap a
# production index wants a two-level (coarse router + per-cell sub-quantizer)
# scheme, which changes the layout, not this trainer.
KMEANS_MAX_CELLS = 65_536


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 32,
    iters: int = 4,
    round_cents: int | None = None,
    max_cells: int | None = KMEANS_MAX_CELLS,
) -> DataFrame:
    """Deterministic Lloyd k-means for the IVF coarse quantizer — the
    production build path (cells ~ sqrt(N) instead of the label count,
    CAPPED at ``max_cells`` — see :data:`KMEANS_MAX_CELLS` for why the
    cell count is a driver-memory artifact and what the cap trades).

    Determinism without rand(): seeds are the k vectors with the smallest
    masked multiplicative key hash (engine- and partitioning-stable), and
    the iteration count is fixed. Each iteration is one Arrow-batched
    matmul pass (cell scores against the closure-borne k x dim centroid
    matrix — N rows through Python, not N x k) + one skinny-row mean
    aggregate with map-side partials; lineage is truncated per iteration
    (localCheckpoint, same as dd6's loop). Empty cells keep their previous
    centroid.

    ``round_cents`` rounds each mean component to that many decimals —
    sim6's cross-engine mode (round BEFORE use, repo rule 6, so a DuckDB
    twin reproduces the centroids bit-for-bit); sim5 leaves means unrounded
    (the production form — rounding inside Lloyd is a needless precision
    loss when no oracle needs to match).
    """
    if max_cells is not None and k > max_cells:
        import warnings

        warnings.warn(
            f"kmeans_centroids: capping cells {k} -> {max_cells} (the centroid "
            "matrix rides the driver + assignment closure every iteration; "
            "see KMEANS_MAX_CELLS for the memory bound and accuracy trade — "
            "coarser cells, same recall at a fixed probed fraction). Pass "
            "max_cells=None to override deliberately.",
            stacklevel=2,
        )
        k = max_cells
    base = embeddings.select("vec_id", "embedding")
    h = F.expr("((vec_id >> 31) ^ vec_id) & 2147483647") * F.lit(2654435761) % F.lit(1_000_003)
    # Seed selection is a bounded top-k (TakeOrderedAndProject: per-partition
    # heap + driver merge), never a global-sort window; the seed's vec_id IS
    # the cell id — unique and stable, contiguity is not needed.
    #
    # The centroid table lives on the DRIVER between iterations (r14
    # optimization): it is k x dim by construction (capped — see
    # KMEANS_MAX_CELLS) and every iteration needs it collected anyway to
    # build the assignment closure, so holding it as a dict replaces the
    # old per-iteration checkpoint + empty-cell coalesce JOIN + re-collect
    # with ONE collect of the skinny (cell, pos, c) mean aggregate —
    # identical arithmetic (the aggregate computes the same rounded means;
    # float64 round-trips exactly through the driver), ~2 fewer Spark jobs
    # per Lloyd iteration across every ANN build (sim5/sim6/gx1/gx2/sd1/
    # qz4/qz5/ev2-4/cl1/rrf2).
    cur = {
        r["cell"]: [float(x) for x in r["cent"]]
        for r in base.orderBy(h.asc(), F.col("vec_id").asc())
        .limit(k)
        .select(
            F.col("vec_id").alias("cell"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cent"),
        )
        .collect()
    }
    from pyspark.sql.types import LongType

    def _argmax_cell_udf(cent_rows):
        """One matmul per Arrow batch against the k x dim centroid matrix —
        N rows through Python instead of N x cells. Centroids ride the
        closure (they ARE the index metadata; k x dim is driver-sized by
        construction). Ties: np.argmax takes the first max and the matrix
        is sorted by cell id, so equal scores go to the smallest cell."""
        ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
        C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cent_rows])
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

        def _assign(v: pd.Series) -> pd.Series:
            X = np.stack(v.to_numpy()).astype(np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            sims = np.round(Xn @ Cn.T, 6)
            return pd.Series(ids[np.argmax(sims, axis=1)])

        return pandas_udf(LongType())(_assign)

    for _ in range(iters):
        cent_rows = sorted(cur.items())
        assign = base.withColumn("cell", _argmax_cell_udf(cent_rows)("embedding"))
        # Cell means via posexplode + avg, NOT applyInPandas-per-cell: the
        # skinny (cell, pos, val) rows get MAP-SIDE partial aggregation, so
        # only k x dim partials cross the shuffle — an applyInPandas mean
        # ships every raw embedding row to its cell's group (A/B'd at 100k
        # vectors: 32 s vs 58 s for the whole build+query).
        pe = assign.select("cell", F.posexplode("embedding").alias("pos", "val"))
        mean = F.avg(F.col("val").cast("double"))
        if round_cents is not None:
            mean = F.round(mean, round_cents)
        agg = pe.groupBy("cell", "pos").agg(mean.alias("c"))
        # assemble the k x dim means on the driver (bounded by max_cells);
        # empty cells vanish from the aggregate and keep their previous
        # centroid — the same coalesce the old join expressed
        by_cell: dict[int, dict[int, float]] = {}
        for r in agg.collect():
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["c"]
        cur = {
            cell: (
                [m[p] for p in sorted(m)] if (m := by_cell.get(cell)) else prev
            )
            for cell, prev in cur.items()
        }
    # materialize as JVM blocks: consumers broadcast/join this frame many
    # times, and a bare Python-RDD frame would re-pay a Python round trip
    # per reference (measured: sd1/rrf2 regressed 3-5x on a non-checkpointed
    # return) — the eager checkpoint restores the old consumer-side shape
    return (
        tables.local_rows(
            embeddings.sparkSession,
            sorted(cur.items()),
            "cell long, cent array<double>",
        )
        .localCheckpoint(eager=True)
    )


def ivf_topk_kmeans(
    embeddings: DataFrame, n_probes: int = 20, k: int = 3, cells: int = 32
) -> DataFrame:
    """sim5 — the production IVF shape: k-means quantizer (cells ~ sqrt(N))
    + the same cell-probe query path as sim4. Rows-only driver check (Lloyd
    iterations have no DuckDB twin); recall vs exact asserted in tests."""
    return _ivf_query(embeddings, kmeans_centroids(embeddings, k=cells), "cell", n_probes, k)


def ivf_topk_kmeans1(
    embeddings: DataFrame, n_probes: int = 20, k: int = 3, cells: int = 32
) -> DataFrame:
    """sim6 — the k-means code path under the exact-oracle gate: ONE fixed
    Lloyd iteration (deterministic hash-based seeds -> one argmax assignment
    -> one 6-decimal-rounded mean, empty cells keeping their seed) feeding
    the shared cell-probe query. Every step is SQL-expressible, so unlike
    sim5 (whose multi-iteration Lloyd is rows-only-checked), this variant's
    seeds/assignment/means/query all sit in the DuckDB hash gate — exercising
    the same ``kmeans_centroids`` + ``_ivf_query`` code sim5 runs.

    Rounding the means (round_cents=6) is what makes the centroid table
    reproducible cross-engine; the assignment and ranking cosines were
    already rounded before comparison (repo rule 6)."""
    cents = kmeans_centroids(embeddings, k=cells, iters=1, round_cents=6)
    return _ivf_query(embeddings, cents, "cell", n_probes, k)


def _nearest_cell(base: DataFrame, cents: DataFrame, cell_col: str) -> DataFrame:
    """(vec_id, cell, embedding): each vector's nearest centroid by rounded
    cosine, ties to the smallest cell id — ONE hash aggregate (min_by over
    (-cos, cell)), never a window sort over the N x cells scored rows."""
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "ccos", F.round(_cos_sim_udf()("cent", "embedding"), 6)
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct(F.col(cell_col).alias("cell"), "embedding"),
                F.struct((-F.col("ccos")).alias("nc"), F.col(cell_col).alias("c")),
            ).alias("_b")
        )
        .select("vec_id", F.col("_b.cell").alias("cell"), F.col("_b.embedding").alias("embedding"))
    )


def _ivf_query(
    embeddings: DataFrame, cents: DataFrame, cell_col: str, n_probes: int, k: int
) -> DataFrame:
    """Shared IVF query path: assign corpus to nearest centroid, probe each
    query's IVF_NPROBE nearest cells, exact-rank within them.

    Plan shape: the corpus assignment is one hash aggregate over the
    streamed (corpus x cells) scores — nothing N x cells is materialized or
    window-sorted; the probe branch recomputes only its own tiny
    (n_probes x cells) cross join (filter pushed below the broadcast join).
    """
    base = embeddings.select("vec_id", "embedding")
    assign = _nearest_cell(base, cents, cell_col)
    probe_scored = (
        base.where(F.col("vec_id") < n_probes)
        .crossJoin(F.broadcast(cents))
        .withColumn("ccos", F.round(_cos_sim_udf()("cent", "embedding"), 6))
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc(cell_col))
    probe_cells = F.broadcast(
        probe_scored.withColumn("crank", F.row_number().over(wp))
        .where(F.col("crank") <= IVF_NPROBE)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col(cell_col).alias("cell"),
        )
    )
    cand = assign.join(probe_cells, "cell").where(F.col("q_id") != F.col("vec_id"))
    s = cand.withColumn("cos", F.round(_cos_sim_udf()("q_emb", "embedding"), 6)).select(
        "q_id", "vec_id", "cos"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        s.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


_SEMDEDUP_TARGET_CELL = 150  # PLANS.md semdedup sweep: cells ∝ N, ~150 vecs/cell


def semantic_dedup(
    embeddings: DataFrame,
    cells: int | None = None,
    min_cos: float = 0.9,
    max_iter: int = 10,
    kmeans_iters: int = 4,
) -> DataFrame:
    """sd1 — SemDeDup-shaped semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the deterministic k-means
    quantizer, emit within-cell pairs whose rounded cosine clears
    ``min_cos``, take connected components, and keep one representative
    (smallest vec_id) per semantic group. The embedding-level dedup family
    next to dd1 (exact), dd3 (MinHash) and dd4 (SimHash) — it catches
    paraphrases and re-encodings that share no n-grams at all.

    Output: ``(vec_id, rep_id, group_size, is_dup)`` — one row per input
    vector; ``is_dup`` marks the rows a prep pipeline drops.

    Scale shape: the clustering is what makes this 100 TB-safe — pairing is
    per-cell (a co-partitioned self-equi-join on ``cell``, quadratic only
    within a cell, exactly the SemDeDup trick), never corpus-all-pairs.
    ``cells=None`` (the default) auto-sizes to ``max(32, N // 150)`` from
    one cheap count — the PLANS.md semdedup-sweep rule (cells ∝ N, ~150
    vectors per cell), so a 10 M-vector call stays linear instead of going
    quadratic inside 300 k-row cells; AQE's skew-join split handles an
    oversized cell. An EXPLICIT cells > N/10 warns: near N every vector
    seeds its own cell and the stage silently finds nothing (no pair
    shares a cell). The pair
    graph then collapses through the same bounded label-propagation loop as
    dd6 (shuffle size = |edges|, lineage truncated per iteration).
    Deterministic end-to-end (hash-seeded k-means, 6-decimal-rounded
    cosines), but k-means + UDF cosines have no DuckDB twin -> rows-only
    driver check; ground truth is a planted near-duplicate-embedding corpus
    (tests/test_semantic_dedup.py) asserting recall against the brute-force
    threshold graph, exactly like dd3's.
    """
    from samsa_spark.operators.dedup import propagate_min_labels

    base = embeddings.select("vec_id", "embedding")
    pairs = semantic_dup_pairs(
        embeddings, cells=cells, min_cos=min_cos, kmeans_iters=kmeans_iters
    ).select("src", "dst")
    spark = embeddings.sparkSession
    # The propagation loop EXECUTES here (count per iteration) — pin tiny
    # shuffles for it, restore after (same scoping as dd6).
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "16"):
        labels = propagate_min_labels(
            base.select(F.col("vec_id").alias("id")), pairs, max_iter
        )
    lab = labels.select(F.col("id").alias("vec_id"), F.col("label").alias("rep_id"))
    sizes = lab.groupBy("rep_id").agg(F.count("*").alias("group_size"))
    return lab.join(sizes, "rep_id").select(
        "vec_id",
        "rep_id",
        "group_size",
        (F.col("vec_id") != F.col("rep_id")).alias("is_dup"),
    )


def semantic_dup_pairs(
    embeddings: DataFrame,
    cells: int | None = None,
    min_cos: float = 0.9,
    kmeans_iters: int = 4,
    check_cells: bool = True,
) -> DataFrame:
    """sd1's candidate stage as its own surface — ``(src, dst, cos)`` pairs
    (src < dst) whose rounded cosine clears ``min_cos``, generated ONLY
    within a k-means cell. The audit view a SemDeDup rollout reviews before
    committing to drops, and the plan-assertable join shape: a
    co-partitioned self-equi-join on ``cell`` (never corpus-all-pairs;
    tests/test_plans.py locks out cartesian/nested-loop strategies).

    ``cells=None`` auto-sizes to ``max(32, N // 150)`` (see
    :func:`semantic_dedup`); the count this costs is one cheap aggregate —
    callers feeding an expensive lazy pipeline should materialize it first
    (pp1's semantic stage localCheckpoints for exactly this reason)."""
    base = embeddings.select("vec_id", "embedding")
    if cells is None:
        n = base.count()
        cells = max(32, n // _SEMDEDUP_TARGET_CELL)
    elif check_cells:
        # The sizing guard costs one count — pass check_cells=False for a
        # pinned production cell count over an expensive lazy upstream
        # (the count would execute the whole plan once more).
        import warnings

        n = base.count()
        if cells * 10 > n:
            warnings.warn(
                f"semantic_dup_pairs: cells={cells} is > N/10 (N={n}) — "
                "most cells will hold a single vector and the stage will "
                "find (near-)nothing. Size cells ~ N/150 (or pass "
                "cells=None to auto-size).",
                stacklevel=2,
            )
    cents = kmeans_centroids(embeddings, k=cells, iters=kmeans_iters)
    # Feeds both sides of the pair join: materialize once (multi-branch
    # rule, CLAUDE.md note 12).
    assign = _nearest_cell(base, cents, "cell").localCheckpoint(eager=False)
    return (
        assign.alias("a")
        .join(
            assign.alias("b"),
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cos", F.round(_cos_sim_udf()(F.col("a.embedding"), F.col("b.embedding")), 6)
        )
        .where(F.col("cos") >= min_cos)
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"), "cos")
    )


def quantization_report(embeddings: DataFrame) -> DataFrame:
    """qz1 — symmetric per-vector int8 quantization audit: q_i =
    round(127 * x_i / max_abs), dequant q_i * max_abs / 127; per label the
    vector count, mean/max absolute round-trip error and mean scale. The
    check an embedding store runs before switching ANN search to the
    4x-smaller int8 corpus (zero vectors quantize to zero, scale 1).

    Pure column algebra (transform/zip/aggregate lambdas + one hash
    aggregate with map-side partials); both engines compute the identical
    IEEE expression per element, and group aggregates are 6-decimal-rounded
    (same acceptance as vec1's means).
    """
    embd = F.transform("embedding", lambda x: x.cast("double"))
    base = embeddings.select("vec_id", "label", embd.alias("emb"))
    m = F.array_max(F.transform("emb", lambda x: F.abs(x)))
    scaled = base.withColumn("scale", F.when(m > 0, m / F.lit(127.0)).otherwise(F.lit(1.0)))
    errs = F.transform(
        "emb", lambda x: F.abs(x - F.round(x / F.col("scale")) * F.col("scale"))
    )
    e = scaled.withColumn("errs", errs)
    return e.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.avg(
                F.try_divide(
                    F.aggregate("errs", F.lit(0.0), lambda a, x: a + x),
                    F.size("errs"),
                )
            ),
            6,
        ).alias("avg_abs_err"),
        F.round(F.max(F.array_max("errs")), 6).alias("max_abs_err"),
        F.round(F.avg("scale"), 6).alias("avg_scale"),
    )


_QZ1_SQL = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
s AS (
  SELECT vec_id, label, emb,
         CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
  FROM (SELECT vec_id, label, emb,
               list_max(list_transform(emb, x -> abs(x))) AS m FROM v)
), e AS (
  SELECT label, scale,
         [abs(emb[i] - round(emb[i] / scale) * scale)
          for i in generate_series(1, len(emb))] AS errs
  FROM s
)
SELECT label, count(*) AS n_vecs,
       round(avg(list_sum(errs) / len(errs)), 6) AS avg_abs_err,
       round(max(list_max(errs)), 6) AS max_abs_err,
       round(avg(scale), 6) AS avg_scale
FROM e GROUP BY label
"""


def _with_int8_codes(df: DataFrame, cast_to: str | None = None) -> DataFrame:
    """qz1's symmetric int8 quantization of the ``embedding`` column — the
    ONE definition of the scheme, shared by qz2's search, the IVF+SQ8 index
    (save_index quantize=True), and mirrored by the DuckDB twins; a change
    here must change all of them together. q_i = round(127 * x_i /
    max_abs); zero vectors quantize to zero (scale 1). Replaces
    ``embedding`` with its code array (other columns pass through).

    Shape matters here: the per-vector scale is computed as its OWN column
    with an RDD boundary (localCheckpoint) before the code transform —
    written inline inside the transform lambda, the array_max subexpression
    re-evaluates PER ELEMENT (64 array scans per row; no CSE inside
    higher-order-function lambdas, and CollapseProject would re-inline a
    chained projection), which measured ~10x slower at 100 k vectors."""
    embd = F.transform("embedding", lambda x: x.cast("double"))
    m = F.array_max(F.transform(F.col("_emb"), lambda x: F.abs(x)))
    staged = (
        df.withColumn("_emb", embd)
        .withColumn("_scale", F.when(m > 0, m / F.lit(127.0)).otherwise(F.lit(1.0)))
        .localCheckpoint(eager=False)
    )
    code = lambda x: F.round(x / F.col("_scale"))  # noqa: E731
    codes = (
        F.transform("_emb", lambda x: code(x).cast(cast_to))
        if cast_to is not None
        else F.transform("_emb", code)
    )
    keep = [c for c in df.columns if c != "embedding"]
    return staged.select(*keep, codes.alias("embedding"))


def quantized_topk(embeddings: DataFrame, n_probes: int = 20, k: int = 5) -> DataFrame:
    """qz2 — cosine top-k over the int8-QUANTIZED corpus: qz1's symmetric
    per-vector scheme (q_i = round(127 * x_i / max_abs)) put to work for
    search. Cosine is invariant to a per-vector scale, so ranking runs on
    the raw int8 codes — the scale column never enters the query path, and
    the corpus the query scans is 4x smaller than float32 (the reason an
    embedding store quantizes at 100 TB). Same probe-broadcast shape as
    sim1; exact DuckDB twin (quantization is plain rounding arithmetic,
    locked engine-identical by qz1); ranking-quality-vs-full-precision
    recall asserted in tests/test_similarity.py.
    """
    # Codes feed BOTH the probe branch and the corpus side of the join —
    # materialize once (multi-branch rule, CLAUDE.md note 12) so the
    # 20-probe join fan-out can't recompute them per pair.
    q = (
        _with_int8_codes(embeddings.select("vec_id", "embedding"))
        .withColumnRenamed("embedding", "qemb")
        .localCheckpoint(eager=False)
    )
    probes = F.broadcast(
        q.where(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("q_id"), F.col("qemb").alias("q_qemb")
        )
    )
    scored = (
        q.join(probes, F.col("q_id") != F.col("vec_id"))
        .withColumn("cos", F.round(_cos_sim_udf()("q_qemb", "qemb"), 6))
        .select("q_id", "vec_id", "cos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


_QZ2_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
s AS (
  SELECT vec_id, emb,
         CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
  FROM (SELECT vec_id, emb,
               list_max(list_transform(emb, x -> abs(x))) AS m FROM v)
),
q AS (
  SELECT vec_id, [round(emb[i] / scale) for i in generate_series(1, len(emb))] AS qe
  FROM s
),
p AS (SELECT vec_id AS q_id, qe AS q_qe FROM q WHERE vec_id < 20),
sc AS (
  SELECT p.q_id, q.vec_id, round(list_cosine_similarity(p.q_qe, q.qe), 6) AS cos
  FROM p JOIN q ON p.q_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM sc
)
SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""


# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): m subspaces x k centroids each. 4x16 on the
# 64-dim fixtures = 4 bytes/vector (16x smaller than the int8 SQ8 codes,
# 64x smaller than float32) — the compression regime an embedding store
# actually runs at 100 TB, where even int8 corpora don't fit hot storage.
PQ_M = 4
PQ_K = 16


def _l2sq(a, b) -> F.Column:
    """Squared L2 between two array columns as one left-to-right fold —
    single deterministic expression per row (no shuffle-order float
    summation, the rp2 lesson)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_subspaces(df: DataFrame, vec_col: str, m: int) -> DataFrame:
    """Explode a vector frame into per-subspace slices: one row per
    (original row, s) with ``sv`` = the s-th of ``m`` equal slices. The
    slice bounds derive from size(vec) at runtime — no hardcoded
    dimension (the qz2-oracle lesson)."""
    return df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s")
    ).select(
        *df.columns,
        "s",
        F.expr(
            f"slice({vec_col}, s * (size({vec_col}) div {m}) + 1,"
            f" size({vec_col}) div {m})"
        ).alias("sv"),
    )


def pq_codebooks(embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K) -> DataFrame:
    """Per-subspace PQ codebooks ``(s, cid, cv)`` from ONE deterministic
    Lloyd step per subspace — sim6's exact-oracle recipe (hash-ranked
    seeds → rounded-L2 argmin assignment with ties to the smallest id →
    6-dp-rounded per-dimension means, empty cells keeping their seed
    slice), so training, encoding and search all sit in the DuckDB hash
    gate. ``cid`` is the seed's rank (contiguous 0..k-1), which is what
    lets the ADC query index a distance table by ``s*k + cid``.

    Scale shape: seeds are a bounded top-k; the assignment is corpus x k
    against a BROADCAST seed table with the argmin as one min_by hash
    aggregate (never a window over N x k rows); means are skinny
    (s, cid, pos) rows with map-side partials. Nothing wider than
    m x k x (d/m) doubles (the codebook itself) ever reaches the driver.
    """
    base = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    h = F.expr("((vec_id >> 31) ^ vec_id) & 2147483647") * F.lit(2654435761) % F.lit(
        1_000_003
    )
    from pyspark.sql import Window

    seeds = (
        base.orderBy(h.asc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn(
            "cid",
            F.row_number().over(Window.orderBy(h.asc(), F.col("vec_id").asc())) - 1,
        )
        .select("cid", "emb")
    )
    seed_subs = (
        _pq_subspaces(seeds, "emb", m)
        .select("s", "cid", F.col("sv").alias("cv"))
        .localCheckpoint(eager=True)
    )
    subs = _pq_subspaces(base, "emb", m).select("vec_id", "s", "sv")
    scored = subs.join(F.broadcast(seed_subs), "s").withColumn(
        "d2", F.round(_l2sq("sv", "cv"), 6)
    )
    asg = scored.groupBy("vec_id", "s").agg(
        F.min_by(F.struct("cid", "sv"), F.struct("d2", "cid")).alias("_b")
    ).select("s", F.col("_b.cid").alias("cid"), F.col("_b.sv").alias("sv"))
    pe = asg.select("s", "cid", F.posexplode("sv").alias("pos", "val"))
    agg = pe.groupBy("s", "cid", "pos").agg(F.round(F.avg("val"), 6).alias("c"))
    means = agg.groupBy("s", "cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("cv")
    )
    return (
        seed_subs.alias("sd")
        .join(means.alias("mn"), ["s", "cid"], "left")
        .select("s", "cid", F.coalesce(F.col("mn.cv"), F.col("sd.cv")).alias("cv"))
    )


def pq_encode(
    embeddings: DataFrame, codebooks: DataFrame, m: int = PQ_M
) -> DataFrame:
    """``(vec_id, codes)``: each vector reduced to ``m`` small-int codes —
    the nearest codebook centroid per subspace (rounded L2, ties to the
    smallest cid), codes ordered by subspace. The stored corpus form:
    m bytes/vector at k <= 256."""
    base = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    subs = _pq_subspaces(base, "emb", m).select("vec_id", "s", "sv")
    scored = subs.join(F.broadcast(codebooks), "s").withColumn(
        "d2", F.round(_l2sq("sv", "cv"), 6)
    )
    codes_long = scored.groupBy("vec_id", "s").agg(
        F.min_by(F.col("cid"), F.struct("d2", "cid")).alias("code")
    )
    return codes_long.groupBy("vec_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("s", "code"))), lambda x: x["code"]
        ).alias("codes")
    )


def _codebook_stride(codebooks: DataFrame) -> int:
    """The ADC distance table is indexed ``s * n_cents + cid``: if a
    caller-supplied codebook was trained with a k different from the
    call's ``n_cents``, lookups silently mis-index (or throw
    INVALID_ARRAY_INDEX under ANSI) with no diagnostic. Derive the stride
    from the codebook itself — ``cid`` is contiguous 0..k-1 by
    construction (seed rank), so the stride is max(cid)+1. One tiny
    driver action over the m x k codebook frame, prebuilt path only."""
    top = codebooks.agg(F.max("cid")).first()[0]
    if top is None:
        raise ValueError("prebuilt codebooks frame is empty")
    return int(top) + 1


def pq_topk(
    embeddings: DataFrame,
    n_probes: int = 20,
    k: int = 5,
    m: int = PQ_M,
    n_cents: int = PQ_K,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """qz3 — PQ asymmetric-distance top-k (Jégou et al. 2011): codebooks
    trained by :func:`pq_codebooks`, corpus reduced to m-byte codes by
    :func:`pq_encode`, and each query ranked by ADC — the query stays full
    precision, a per-query distance TABLE to all m x k centroids is
    precomputed, and a corpus vector's approximate distance is m table
    lookups summed. Returns ``(q_id, vec_id, adc_dist, rank)``.

    Plan shape (the reason PQ exists at 100 TB): the corpus side of the
    query moves ONLY the code arrays — the probe side (n_probes rows, each
    carrying an m*k-double distance table built against the broadcast
    codebook) broadcasts, the per-pair distance is m array lookups + a
    fixed-order fold in one projection (no shuffle, no float-sum order
    dependence), and the only exchange is the per-query top-k window.
    Exact DuckDB twin: every stage is rounded deterministic arithmetic
    (seeds/assignment/means from sim6's recipe; ADC sums m 6-dp-rounded
    subspace distances in subspace order on both engines).

    Recall honesty: 4x16 codes are a COARSE 4-byte sketch of a 64-dim
    vector — ranking quality vs exact search is asserted on clustered
    corpora in tests (planted-structure recall), not claimed for
    near-orthogonal noise, and production dials m/k up with dimension.
    """
    # Prebuilt artifacts (build-once/query-many, the ivf_topk_prebuilt
    # split): pass codebooks+codes to pay only the probe-side work. The
    # stride comes from the codebook itself so a prebuilt codebook trained
    # with a different k cannot silently mis-index the distance table.
    if codebooks is not None:
        cb = codebooks
        n_cents = _codebook_stride(cb)
    else:
        cb = pq_codebooks(embeddings, m=m, k=n_cents).localCheckpoint(eager=True)
    if codes is None:
        codes = pq_encode(embeddings, cb, m=m)
    base = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    probes = base.where(F.col("vec_id") < n_probes)
    psubs = _pq_subspaces(probes, "emb", m).select(
        F.col("vec_id").alias("q_id"), "s", "sv"
    )
    dt = psubs.join(F.broadcast(cb), "s").select(
        "q_id",
        (F.col("s") * n_cents + F.col("cid")).alias("pos"),
        F.round(_l2sq("sv", "cv"), 6).alias("d2"),
    )
    ptab = F.broadcast(
        dt.groupBy("q_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "d2"))), lambda x: x["d2"]
            ).alias("dtab")
        )
    )
    scored = codes.join(ptab, F.col("q_id") != F.col("vec_id")).withColumn(
        "adc_dist",
        F.round(
            F.aggregate(
                F.transform(
                    "codes", lambda c, i: F.element_at("dtab", i * n_cents + c + 1)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "adc_dist", "rank")
    )


# qz3's DuckDB twin mirrors the Spark stages 1:1: sim6's hash-ranked seeds
# (cid = seed rank, contiguous), one rounded-L2 Lloyd step per subspace,
# re-assignment to the trained codebooks, and ADC as the s-ordered sum of
# the m per-subspace rounded distances (list(d2 ORDER BY s) -> list_sum:
# fixed order, matching Spark's fold).
_QZ3_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
h AS (
  SELECT vec_id, emb,
         row_number() OVER (
           ORDER BY ((xor(vec_id >> 31, vec_id) & 2147483647) * 2654435761) % 1000003 ASC,
                    vec_id ASC) AS rk
  FROM v
),
seeds AS (SELECT rk - 1 AS cid, emb FROM h WHERE rk <= 16),
sp AS (SELECT unnest(generate_series(0, 3)) AS s),
sseeds AS (
  SELECT s, cid,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS cv
  FROM seeds CROSS JOIN sp
),
subs AS (
  SELECT vec_id, s,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS sv
  FROM v CROSS JOIN sp
),
a0 AS (
  SELECT subs.vec_id, subs.s, subs.sv, ss.cid,
         row_number() OVER (
           PARTITION BY subs.vec_id, subs.s
           ORDER BY round(list_sum([(subs.sv[i] - ss.cv[i]) * (subs.sv[i] - ss.cv[i])
                                    for i in generate_series(1, len(subs.sv))]), 6) ASC,
                    ss.cid ASC) AS crank
  FROM subs JOIN sseeds ss USING (s)
),
asg AS (SELECT vec_id, s, sv, cid FROM a0 WHERE crank = 1),
pe AS (
  SELECT s, cid, i AS pos, round(avg(sv[i]), 6) AS c
  FROM (SELECT s, cid, sv, unnest(generate_series(1, len(sv))) AS i FROM asg)
  GROUP BY s, cid, i
),
mn AS (SELECT s, cid, list(c ORDER BY pos) AS cv FROM pe GROUP BY s, cid),
cents AS (
  SELECT ss.s, ss.cid, coalesce(mn.cv, ss.cv) AS cv
  FROM sseeds ss LEFT JOIN mn USING (s, cid)
),
c0 AS (
  SELECT subs.vec_id, subs.s, c.cid,
         row_number() OVER (
           PARTITION BY subs.vec_id, subs.s
           ORDER BY round(list_sum([(subs.sv[i] - c.cv[i]) * (subs.sv[i] - c.cv[i])
                                    for i in generate_series(1, len(subs.sv))]), 6) ASC,
                    c.cid ASC) AS crank
  FROM subs JOIN cents c USING (s)
),
codes AS (SELECT vec_id, s, cid AS code FROM c0 WHERE crank = 1),
p AS (SELECT vec_id AS q_id, s, sv FROM subs WHERE vec_id < 20),
dt AS (
  SELECT p.q_id, p.s, c.cid,
         round(list_sum([(p.sv[i] - c.cv[i]) * (p.sv[i] - c.cv[i])
                         for i in generate_series(1, len(p.sv))]), 6) AS d2
  FROM p JOIN cents c USING (s)
),
adc AS (
  SELECT dt.q_id, cd.vec_id,
         round(list_sum(list(dt.d2 ORDER BY dt.s)), 6) AS adc_dist
  FROM codes cd
  JOIN dt ON dt.s = cd.s AND dt.cid = cd.code AND dt.q_id <> cd.vec_id
  GROUP BY dt.q_id, cd.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM adc
)
SELECT q_id, vec_id, adc_dist, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""


def ivf_pq_topk(
    embeddings: DataFrame,
    n_probes: int = 20,
    k: int = 5,
    cells: int = 32,
    m: int = PQ_M,
    n_cents: int = PQ_K,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
    residual: bool = False,
    min_corpus_id: int | None = None,
) -> DataFrame:
    """qz4 — IVF-PQ: the composed production ANN layout (Jégou et al.
    2011 §IV; what FAISS ``IVFx,PQy`` ships). The coarse quantizer
    (sim6's one-Lloyd-step cosine cells) prunes the corpus to each
    query's ``IVF_NPROBE`` nearest cells, and PQ ADC (qz3) ranks ONLY
    those candidates — compute proportional to the probed fraction, on
    codes ``m`` bytes wide. Returns ``(q_id, vec_id, adc_dist, rank)``.

    This is the non-residual variant: codes quantize the raw vectors
    (one shared codebook), not the per-cell residuals — one encode pass,
    cells and codes trainable independently, and every stage stays in
    the exact DuckDB gate. Residual PQ (subtract the coarse centroid
    before encoding) recovers more precision per byte at the cost of a
    per-cell code space; the plumbing here is unchanged if
    :func:`pq_encode` is fed residuals.

    Scale shape: the corpus-side query input is ``(vec_id, cell,
    codes)`` — m bytes + 2 ids per vector; the probe side (cells ranked
    by rounded cosine against the BROADCAST coarse table, ADC distance
    tables against the BROADCAST codebook) is n_probes rows and
    broadcasts into the candidate equi-join ON THE CELL, so a 1000-cell
    layout scans ~``IVF_NPROBE/cells`` of the corpus per query instead
    of all of it (qz3's one structural weakness at scale). Stored as
    parquet partitioned by cell (save_index's layout), the cell filter
    becomes partition pruning. The only wide exchange is the per-query
    top-k window over candidates.

    Measured honesty (PLANS.md ivfpq sweep): END-TO-END this call is
    SLOWER than plain qz3 — the coarse train+assign (an extra N x cells
    pass) exceeds what pruning recovers when the index is rebuilt per
    call. The pruning wins on the QUERY side of a PREBUILT index: pass
    ``codebooks/codes/centroids/assignments`` and the query-only cost is
    2x qz3's at 100k vectors and flat in corpus size. Build once on
    ingest, query forever — the actual production regime.
    """
    base = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    # Prebuilt artifacts (build-once/query-many): pass centroids +
    # assignments + codebooks + codes and the call pays only the
    # probe-side work — the form save_index-style persistence would serve.
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, k=cells, iters=1, round_cents=6)
    )
    assign = (
        assignments
        if assignments is not None
        else _nearest_cell(
            embeddings.select("vec_id", "embedding"), cents, "cell"
        ).select("vec_id", "cell")
    )
    # residual=True is Jégou's actual IVF-ADC: PQ trains on and encodes
    # the per-cell residual emb - cent(cell) (a smaller-variance vector,
    # so the same byte budget quantizes finer), and each query builds one
    # distance table PER PROBED CELL from its own residual against that
    # cell — still n_probes x IVF_NPROBE x m x k doubles, broadcast-sized.
    # With prebuilt artifacts the caller must pass residual-trained
    # codebooks/codes (equivalence asserted in tests either way).
    if residual:
        res = (
            base.join(assign, "vec_id")
            .join(F.broadcast(cents), "cell")
            .select(
                "vec_id",
                F.zip_with("emb", "cent", lambda x, y: x - y).alias("embedding"),
            )
        )
        if codebooks is not None:
            cb = codebooks
            n_cents = _codebook_stride(cb)
        else:
            cb = pq_codebooks(res, m=m, k=n_cents).localCheckpoint(eager=True)
        if codes is None:
            codes = pq_encode(res, cb, m=m)
    else:
        if codebooks is not None:
            cb = codebooks
            n_cents = _codebook_stride(cb)
        else:
            cb = pq_codebooks(embeddings, m=m, k=n_cents).localCheckpoint(eager=True)
        if codes is None:
            codes = pq_encode(embeddings, cb, m=m)
    codes = codes.join(assign, "vec_id")
    # ``min_corpus_id`` restricts the SEARCHED corpus (rrf_fusion_ann's
    # probe/corpus split: probes are ids < probe_max_id, candidates >=) —
    # a filter on the m-bytes-wide code frame, applied before the cell
    # join so pruned rows never reach the candidate stage.
    if min_corpus_id is not None:
        codes = codes.where(F.col("vec_id") >= min_corpus_id)
    probes = base.where(F.col("vec_id") < n_probes)
    from pyspark.sql import Window

    probe_scored = probes.crossJoin(F.broadcast(cents)).withColumn(
        "ccos", F.round(_cos_sim_udf()("cent", "emb"), 6)
    )
    wp = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    ranked = probe_scored.withColumn("crank", F.row_number().over(wp)).where(
        F.col("crank") <= IVF_NPROBE
    )
    probe_cells = F.broadcast(ranked.select(F.col("vec_id").alias("q_id"), "cell"))
    if residual:
        qres = ranked.select(
            F.col("vec_id").alias("q_id"),
            "cell",
            F.zip_with("emb", "cent", lambda x, y: x - y).alias("rvec"),
        )
        psubs = _pq_subspaces(qres, "rvec", m).select("q_id", "cell", "s", "sv")
        dt = psubs.join(F.broadcast(cb), "s").select(
            "q_id",
            "cell",
            (F.col("s") * n_cents + F.col("cid")).alias("pos"),
            F.round(_l2sq("sv", "cv"), 6).alias("d2"),
        )
        ptab = F.broadcast(
            dt.groupBy("q_id", "cell").agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "d2"))),
                    lambda x: x["d2"],
                ).alias("dtab")
            )
        )
        cand = (
            codes.join(probe_cells, "cell")
            .where(F.col("q_id") != F.col("vec_id"))
            .join(ptab, ["q_id", "cell"])
        )
    else:
        psubs = _pq_subspaces(probes, "emb", m).select(
            F.col("vec_id").alias("q_id"), "s", "sv"
        )
        dt = psubs.join(F.broadcast(cb), "s").select(
            "q_id",
            (F.col("s") * n_cents + F.col("cid")).alias("pos"),
            F.round(_l2sq("sv", "cv"), 6).alias("d2"),
        )
        ptab = F.broadcast(
            dt.groupBy("q_id").agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "d2"))),
                    lambda x: x["d2"],
                ).alias("dtab")
            )
        )
        cand = (
            codes.join(probe_cells, "cell")
            .where(F.col("q_id") != F.col("vec_id"))
            .join(ptab, "q_id")
        )
    scored = cand.withColumn(
        "adc_dist",
        F.round(
            F.aggregate(
                F.transform(
                    "codes", lambda c, i: F.element_at("dtab", i * n_cents + c + 1)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "adc_dist", "rank")
    )


QZ5_OVERFETCH = 4


def refined_topk(
    embeddings: DataFrame,
    n_probes: int = 20,
    k: int = 5,
    overfetch: int = QZ5_OVERFETCH,
    **ivf_pq_kwargs,
) -> DataFrame:
    """qz5 — two-stage retrieval: ANN candidate generation (qz4's IVF-PQ,
    overfetched to ``k * overfetch``) followed by an EXACT cosine re-rank
    of only those candidates — the FAISS ``refine`` / DiskANN rerank
    stage every production vector store runs. ADC distances rank on
    4-byte codes and carry quantization error; re-scoring the short
    candidate list against the full-precision vectors recovers most of
    the lost recall for a candidate-bounded (not corpus-bounded) cost.
    Returns ``(q_id, vec_id, cos, rank)`` — sim1's exact scoring contract,
    so the refined result is directly comparable to the brute-force twin.

    Scale shape: stage 1 is qz4's (cell-pruned equi-join on m-byte
    codes; pass the prebuilt ``codebooks/codes/centroids/assignments``
    kwargs through for the build-once/query-many regime); stage 2 joins
    the ``n_probes * k * overfetch``-row candidate list BROADCAST against
    the full-vector scan — one corpus read that only materializes
    candidate rows (with a cell-partitioned saved index this becomes
    partition-pruned point reads), then the probe-bounded cosine and a
    per-query top-k window. No stage is corpus-quadratic and the full
    vectors never shuffle.
    """
    cand = ivf_pq_topk(
        embeddings, n_probes=n_probes, k=k * overfetch, **ivf_pq_kwargs
    ).select("q_id", "vec_id")
    base = embeddings.select("vec_id", "embedding")
    probes = F.broadcast(
        base.where(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
    )
    rescored = (
        base.join(F.broadcast(cand), "vec_id")
        .join(probes, "q_id")
        .withColumn("cos", F.round(_cos_sim_udf()("q_emb", "embedding"), 6))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


QZ6_OVERFETCH = 4


def binary_topk(
    embeddings: DataFrame,
    n_probes: int = 20,
    k: int = 5,
    overfetch: int = QZ6_OVERFETCH,
) -> DataFrame:
    """qz6 — 1-bit (sign) quantization: pack each vector's sign bits into
    32-dim BIGINT words (a 64-dim float32 vector becomes TWO longs — 32x
    smaller than the raw floats), scan candidates by Hamming distance
    (``bit_count(xor)``), then re-rank the ``k * overfetch`` survivors by
    the EXACT rounded cosine — sim1's scoring contract. This is the binary
    quantization regime real vector stores ship (Faiss ``IndexBinaryFlat``
    + refine; the 1-bit end of the qz1 int8 / qz3 PQ byte-budget ladder):
    the coarse scan is memory-bandwidth-bound on 8-byte codes and runs
    ENTIRELY JVM-side — packing, XOR, and popcount are all codegen'd
    column expressions, no Python worker in the candidate stage at all
    (the one cosine UDF touches only the candidate-bounded re-rank).

    Determinism/parity: the sign threshold is exact (``x >= 0`` flips
    identically on float32 and its float64 widening), Hamming is integer
    arithmetic, ties break on vec_id, and the re-rank rounds cosines to 6
    decimals before ranking — so a DuckDB twin replays both stages
    exactly. Words pack 32 bits so no value crosses 2^32: ANSI-safe on
    the Spark side, sign-bit-free on both engines (CLAUDE.md note 2).

    Scale shape: probe set broadcast (|probes| x N on 8-byte codes, the
    cheap scan binary quantization exists to buy), per-probe top-candidates
    via a rank<=c filter Spark rewrites to WindowGroupLimit (bounded
    buffering), then a candidate-bounded join back to full vectors — the
    float embeddings never shuffle and never cross-join.
    """
    base = embeddings.select("vec_id", "embedding")

    def codes(emb: F.Column) -> F.Column:
        # array<long>: word w = the big-endian fold acc*2 + (x >= 0) over
        # the 32-dim slice starting at w*32+1 (slice clamps at the tail,
        # so a non-multiple-of-32 dim packs its remainder identically on
        # both engines).
        words = F.sequence(
            F.lit(0), F.floor((F.size(emb) - F.lit(1)) / F.lit(32)).cast("int")
        )
        return F.transform(
            words,
            lambda w: F.aggregate(
                F.slice(emb, w * F.lit(32) + F.lit(1), F.lit(32)),
                F.lit(0).cast("long"),
                lambda acc, x: acc * F.lit(2)
                + F.when(x >= F.lit(0), F.lit(1)).otherwise(F.lit(0)),
            ),
        )

    coded = base.withColumn("code", codes(F.col("embedding")))
    probes = F.broadcast(
        coded.where(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("q_id"), F.col("code").alias("q_code")
        )
    )
    ham = (
        coded.select("vec_id", "code")
        .join(probes, F.col("q_id") != F.col("vec_id"))
        .withColumn(
            "ham",
            F.aggregate(
                F.zip_with("q_code", "code", lambda a, b: F.bit_count(a.bitwiseXOR(b))),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    from pyspark.sql import Window

    hw = Window.partitionBy("q_id").orderBy(F.asc("ham"), F.asc("vec_id"))
    cand = (
        ham.withColumn("hrank", F.row_number().over(hw))
        .where(F.col("hrank") <= k * overfetch)
        .select("q_id", "vec_id")
    )
    q_emb = F.broadcast(
        base.where(F.col("vec_id") < n_probes).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
    )
    rescored = (
        base.join(F.broadcast(cand), "vec_id")
        .join(q_emb, "q_id")
        .withColumn("cos", F.round(_cos_sim_udf()("q_emb", "embedding"), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


# qz6's twin: the same two stages — sign-bit words packed by the identical
# big-endian fold (nested list comprehension), integer Hamming rank with
# vec_id tie-break, exact rounded-cosine re-rank of the overfetched prefix.
_QZ6_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
b AS (
  SELECT vec_id, emb,
    [ list_sum([CASE WHEN emb[w*32 + i] >= 0
                     THEN (1::BIGINT << (least(len(emb) - w*32, 32) - i))
                     ELSE 0::BIGINT END
                for i in generate_series(1, least(len(emb) - w*32, 32))])
      for w in generate_series(0, (len(emb)-1)//32) ] AS code
  FROM v
),
p AS (SELECT vec_id AS q_id, code AS q_code FROM b WHERE vec_id < 20),
hm AS (
  SELECT p.q_id, b.vec_id,
         list_sum([bit_count(xor(p.q_code[i], b.code[i]))
                   for i in generate_series(1, len(p.q_code))]) AS ham
  FROM p JOIN b ON p.q_id <> b.vec_id
),
cand AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY ham ASC, vec_id ASC) AS hrank
  FROM hm
),
rr AS (
  SELECT c.q_id, c.vec_id,
         round(list_cosine_similarity(pv.emb, cv.emb), 6) AS cos
  FROM cand c
  JOIN v pv ON pv.vec_id = c.q_id
  JOIN v cv ON cv.vec_id = c.vec_id
  WHERE c.hrank <= 20
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, vec_id ASC) AS rank
  FROM rr
)
SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM rk WHERE rank <= 5
"""


# qz4's twin = _SIM6_SQL's coarse stages (32 cosine cells, one Lloyd step)
# + _QZ3_SQL's PQ stages (16-centroid codebooks per subspace, codes, ADC),
# with the ADC join additionally restricted to each query's IVF_NPROBE
# nearest cells. The CTE chain up to the ADC ranking `r` is shared with
# qz5's oracle (which re-ranks `r`'s overfetched prefix exactly) — the two
# tails below keep _QZ4_SQL byte-identical to its pre-refactor text.
_QZ4_CORE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
h AS (
  SELECT vec_id, emb,
         row_number() OVER (
           ORDER BY ((xor(vec_id >> 31, vec_id) & 2147483647) * 2654435761) % 1000003 ASC,
                    vec_id ASC) AS rk
  FROM v
),
cseeds AS (SELECT vec_id AS cell, emb AS cent FROM h WHERE rk <= 32),
ca0 AS (
  SELECT v.vec_id, v.emb, s.cell,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(s.cent, v.emb), 6) DESC,
                                     s.cell ASC) AS crank
  FROM v CROSS JOIN cseeds s
),
casg0 AS (SELECT vec_id, emb, cell FROM ca0 WHERE crank = 1),
cpe AS (
  SELECT cell, i AS pos, round(avg(emb[i]), 6) AS c
  FROM (SELECT cell, emb, unnest(generate_series(1, len(emb))) AS i FROM casg0)
  GROUP BY cell, i
),
cm AS (SELECT cell, list(c ORDER BY pos) AS cent FROM cpe GROUP BY cell),
ccents AS (
  SELECT s.cell, coalesce(cm.cent, s.cent) AS cent
  FROM cseeds s LEFT JOIN cm USING (cell)
),
csc AS (
  SELECT v.vec_id, c.cell,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(c.cent, v.emb), 6) DESC,
                                     c.cell ASC) AS crank
  FROM v CROSS JOIN ccents c
),
casg AS (SELECT vec_id, cell FROM csc WHERE crank = 1),
pcells AS (SELECT vec_id AS q_id, cell FROM csc WHERE vec_id < 20 AND crank <= 2),
seeds AS (SELECT rk - 1 AS cid, emb FROM h WHERE rk <= 16),
sp AS (SELECT unnest(generate_series(0, 3)) AS s),
sseeds AS (
  SELECT s, cid,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS cv
  FROM seeds CROSS JOIN sp
),
subs AS (
  SELECT vec_id, s,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS sv
  FROM v CROSS JOIN sp
),
a0 AS (
  SELECT subs.vec_id, subs.s, subs.sv, ss.cid,
         row_number() OVER (
           PARTITION BY subs.vec_id, subs.s
           ORDER BY round(list_sum([(subs.sv[i] - ss.cv[i]) * (subs.sv[i] - ss.cv[i])
                                    for i in generate_series(1, len(subs.sv))]), 6) ASC,
                    ss.cid ASC) AS crank
  FROM subs JOIN sseeds ss USING (s)
),
asg AS (SELECT vec_id, s, sv, cid FROM a0 WHERE crank = 1),
pe AS (
  SELECT s, cid, i AS pos, round(avg(sv[i]), 6) AS c
  FROM (SELECT s, cid, sv, unnest(generate_series(1, len(sv))) AS i FROM asg)
  GROUP BY s, cid, i
),
mn AS (SELECT s, cid, list(c ORDER BY pos) AS cv FROM pe GROUP BY s, cid),
cents AS (
  SELECT ss.s, ss.cid, coalesce(mn.cv, ss.cv) AS cv
  FROM sseeds ss LEFT JOIN mn USING (s, cid)
),
c0 AS (
  SELECT subs.vec_id, subs.s, c.cid,
         row_number() OVER (
           PARTITION BY subs.vec_id, subs.s
           ORDER BY round(list_sum([(subs.sv[i] - c.cv[i]) * (subs.sv[i] - c.cv[i])
                                    for i in generate_series(1, len(subs.sv))]), 6) ASC,
                    c.cid ASC) AS crank
  FROM subs JOIN cents c USING (s)
),
codes AS (SELECT vec_id, s, cid AS code FROM c0 WHERE crank = 1),
p AS (SELECT vec_id AS q_id, s, sv FROM subs WHERE vec_id < 20),
dt AS (
  SELECT p.q_id, p.s, c.cid,
         round(list_sum([(p.sv[i] - c.cv[i]) * (p.sv[i] - c.cv[i])
                         for i in generate_series(1, len(p.sv))]), 6) AS d2
  FROM p JOIN cents c USING (s)
),
adc AS (
  SELECT dt.q_id, cd.vec_id,
         round(list_sum(list(dt.d2 ORDER BY dt.s)), 6) AS adc_dist
  FROM codes cd
  JOIN casg ON casg.vec_id = cd.vec_id
  JOIN pcells pc ON pc.cell = casg.cell
  JOIN dt ON dt.s = cd.s AND dt.cid = cd.code
         AND dt.q_id = pc.q_id AND dt.q_id <> cd.vec_id
  GROUP BY dt.q_id, cd.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM adc
)"""

_QZ4_SQL = (
    _QZ4_CORE
    + """
SELECT q_id, vec_id, adc_dist, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""
)

# qz5's twin: qz4's ADC ranking overfetched to k * overfetch = 20
# candidates, then re-ranked by the EXACT rounded cosine (sim1's scoring
# contract) — only the final window differs from brute force.
_QZ5_SQL = (
    _QZ4_CORE
    + """,
cand AS (SELECT q_id, vec_id FROM r WHERE rank <= 20),
rr AS (
  SELECT c.q_id, c.vec_id,
         round(list_cosine_similarity(pv.emb, cv.emb), 6) AS cos
  FROM cand c
  JOIN v pv ON pv.vec_id = c.q_id
  JOIN v cv ON cv.vec_id = c.vec_id
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, vec_id ASC) AS rank
  FROM rr
)
SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM rk WHERE rank <= 5
"""
)


RRF_K = 60


def rrf_fusion(
    documents: DataFrame,
    embeddings: DataFrame,
    probe_max_id: int = 20,
    k_each: int = 10,
    k: int = 5,
    rrf_k: int = RRF_K,
    dense_ranks: DataFrame | None = None,
) -> DataFrame:
    """rrf1 — hybrid retrieval by Reciprocal Rank Fusion (Cormack,
    Clarke & Buettcher 2009): fuse BM25 lexical ranks (bm1) with dense
    cosine ranks over the SAME corpus split into
    ``score(d) = 1/(rrf_k + lex_rank) + 1/(rrf_k + dense_rank)`` (absent
    system contributes 0) and return the top-``k`` per query. The
    standard first-stage retriever of a modern curation/RAG pipeline —
    lexical catches exact rare-term matches dense misses, dense catches
    paraphrases lexical misses, and RRF needs no score calibration
    because it only consumes RANKS.

    The fixtures align doc_id and vec_id, so document i's text feeds the
    lexical system and its embedding the dense system; probes are ids
    < ``probe_max_id`` and the corpus is everything else (both systems
    see identical candidate sets by construction).

    Determinism/parity: both input rank lists are already exact-oracled
    (bm1, sim1's shape); the fusion is a fixed-order two-term double sum
    rounded to 6 dp before ranking, ties on id. Scale shape: each system
    emits only n_probes x k_each rows, so the full-outer fusion join and
    the final top-k window run on probe-bounded frames — the corpus-side
    cost is exactly the two systems' own (already floor-guarded) plans.

    ``dense_ranks`` swaps the dense arm: pass a ``(q_id, id, dense_rank)``
    frame from any dense retriever (the default is the exact-oracle
    brute-force scan; :func:`rrf_fusion_ann` supplies a prebuilt-IVF-PQ
    arm — the form a 100 TB pipeline actually runs, since the default's
    corpus-linear cosine scan is this operator's one scale weakness).
    """
    from samsa_spark.operators.text import bm25_topk

    lex = bm25_topk(documents, probe_max_id=probe_max_id, k=k_each).select(
        "q_id", F.col("doc_id").alias("id"), F.col("rank").alias("lex_rank")
    )
    from pyspark.sql import Window

    if dense_ranks is not None:
        dense = dense_ranks.select("q_id", "id", "dense_rank")
    else:
        base = embeddings.select("vec_id", "embedding")
        probes = F.broadcast(
            base.where(F.col("vec_id") < probe_max_id).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
            )
        )
        dscored = (
            base.where(F.col("vec_id") >= probe_max_id)
            .crossJoin(probes)
            .withColumn("cos", F.round(_cos_sim_udf()("q_emb", "embedding"), 6))
            .select("q_id", F.col("vec_id").alias("id"), "cos")
        )
        wd = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("id"))
        dense = (
            dscored.withColumn("drank", F.row_number().over(wd))
            .where(F.col("drank") <= k_each)
            .select("q_id", "id", F.col("drank").alias("dense_rank"))
        )
    fused = lex.join(dense, ["q_id", "id"], "full_outer").select(
        "q_id",
        "id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.col("lex_rank") + F.lit(rrf_k)), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.col("dense_rank") + F.lit(rrf_k)), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rrf_score"), F.asc("id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "id", "rrf_score", "rank")
    )


# rrf1's twin inlines bm1's posting-list stages (k_each=10 deep) and
# sim1's brute-force cosine over the same >= 20 corpus split, then fuses
# with the identical fixed-order 1/(60+rank) sum.
_RRF1_SQL = """
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
stats AS (SELECT CAST(sum(dl) AS DOUBLE) AS sdl, count(*) AS nd FROM dl),
qt AS (
  SELECT DISTINCT q_id, tok FROM (
    SELECT doc_id AS q_id, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE doc_id < 20
  )
),
qidf AS (
  SELECT q_id, qt.tok,
         ln(1.0 + (nd - df + 0.5) / (df + 0.5)) AS idf,
         sdl, nd
  FROM qt JOIN df USING (tok) CROSS JOIN stats
),
bscored AS (
  SELECT q_id, tf.doc_id,
         CAST(sum(CAST(round(
           idf * (tf * 2.2)
               / (tf + 1.2 * (0.25 + 0.75 * dl.dl * nd / sdl)), 6)
           AS DECIMAL(22,6))) AS DOUBLE) AS score
  FROM tf
  JOIN qidf USING (tok)
  JOIN dl ON tf.doc_id = dl.doc_id
  GROUP BY q_id, tf.doc_id
),
lex AS (
  SELECT q_id, id, lex_rank FROM (
    SELECT q_id, doc_id AS id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY score DESC, doc_id ASC) AS lex_rank
    FROM bscored
  ) WHERE lex_rank <= 10
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < 20),
ds AS (
  SELECT p.q_id, v.vec_id AS id,
         round(list_cosine_similarity(p.q_emb, v.emb), 6) AS cos
  FROM p JOIN v ON v.vec_id >= 20
),
dense AS (
  SELECT q_id, id, dense_rank FROM (
    SELECT q_id, id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos DESC, id ASC) AS dense_rank
    FROM ds
  ) WHERE dense_rank <= 10
),
fused AS (
  SELECT coalesce(l.q_id, d.q_id) AS q_id, coalesce(l.id, d.id) AS id,
         round(coalesce(1.0 / (l.lex_rank + 60), 0.0)
             + coalesce(1.0 / (d.dense_rank + 60), 0.0), 6) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d ON l.q_id = d.q_id AND l.id = d.id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY rrf_score DESC, id ASC) AS rank
  FROM fused
)
SELECT q_id, id, rrf_score, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""


def save_pq_index(
    embeddings: DataFrame,
    path: str,
    cells: int = 32,
    iters: int = 1,
    m: int = PQ_M,
    n_cents: int = PQ_K,
) -> None:
    """Persist a full IVF-PQ index — :func:`save_index`'s IVF layout
    (``centroids`` + cell-partitioned ``assignments``) plus the PQ
    artifacts (``pq_codebooks``, ``pq_codes`` partitioned by cell) — the
    build-once half of the build-once/query-many split qz4's measured
    regime runs (PLANS.md ivfpq sweep: query-only is 2x faster and flat
    in corpus size; the rebuild-per-call form is the wrong regime).

    The stored corpus form is ``(vec_id, codes, cell)`` — m bytes + two
    ids per vector; embeddings themselves are stored only in
    ``assignments`` for probe lookup and drift checks. Non-residual
    codes (one shared codebook), so the artifacts feed
    :func:`ivf_pq_topk`'s prebuilt kwargs unchanged."""
    cents = kmeans_centroids(embeddings, k=cells, iters=iters, round_cents=6)
    base = embeddings.select("vec_id", "embedding")
    assign = _nearest_cell(base, cents, "cell")
    cb = pq_codebooks(embeddings, m=m, k=n_cents).localCheckpoint(eager=True)
    codes = pq_encode(embeddings, cb, m=m).join(
        assign.select("vec_id", "cell"), "vec_id"
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    assign.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/assignments")
    cb.write.mode("overwrite").parquet(f"{path}/pq_codebooks")
    codes.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/pq_codes")


def load_pq_index(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """The four prebuilt frames back from :func:`save_pq_index`'s layout,
    keyed to match :func:`ivf_pq_topk`'s kwargs (``codes`` keeps its cell
    column; ivf_pq_topk re-joins assignments by vec_id, which is exact
    since both came from the same build)."""
    return {
        "centroids": spark.read.parquet(f"{path}/centroids"),
        "assignments": spark.read.parquet(f"{path}/assignments").select(
            "vec_id", "embedding", "cell"
        ),
        "codebooks": spark.read.parquet(f"{path}/pq_codebooks"),
        "codes": spark.read.parquet(f"{path}/pq_codes").select("vec_id", "codes"),
    }


def rrf_fusion_ann(
    documents: DataFrame,
    embeddings: DataFrame,
    probe_max_id: int = 20,
    k_each: int = 10,
    k: int = 5,
    rrf_k: int = RRF_K,
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    index_path: str | None = None,
) -> DataFrame:
    """rrf2 — hybrid retrieval with an ANN-BACKED dense arm: rrf1's RRF
    fusion, but the dense ranks come from prebuilt IVF-PQ
    (:func:`ivf_pq_topk`'s query-only path) instead of the brute-force
    corpus scan. This is the composition a real curation/RAG pipeline
    runs at scale — rrf1's exact-oracle form must score every corpus
    vector per probe (corpus-linear, its documented scale weakness);
    here the corpus side of the dense query is the probed cells' code
    partitions only (m bytes/vector), flat in corpus size for a fixed
    cell layout.

    Dense artifacts come from (in precedence order) ``index_path``
    (:func:`save_pq_index`'s layout), the explicit
    centroids/assignments/codebooks/codes kwargs, or an inline build
    (the rebuild-per-call regime — correct but the wrong cost shape;
    benched separately). Approximation honesty: ADC ranks are L2-based
    and quantized, so fused output is approximate vs rrf1 — recall on
    clustered corpora is pytest-asserted (>= 0.9), not claimed for
    near-orthogonal noise."""
    if index_path is not None:
        idx = load_pq_index(documents.sparkSession, index_path)
        centroids, assignments = idx["centroids"], idx["assignments"]
        codebooks, codes = idx["codebooks"], idx["codes"]
    dense = ivf_pq_topk(
        embeddings,
        n_probes=probe_max_id,
        k=k_each,
        centroids=centroids,
        assignments=assignments,
        codebooks=codebooks,
        codes=codes,
        min_corpus_id=probe_max_id,
    ).select(
        "q_id", F.col("vec_id").alias("id"), F.col("rank").alias("dense_rank")
    )
    return rrf_fusion(
        documents,
        embeddings,
        probe_max_id=probe_max_id,
        k_each=k_each,
        k=k,
        rrf_k=rrf_k,
        dense_ranks=dense,
    )


def diversity_sample(
    embeddings: DataFrame,
    cells: int = 32,
    per_cell: int = 8,
    farthest: bool = False,
    salt: int | None = None,
) -> DataFrame:
    """dv1 — cluster-balanced diversity sampling (the DCLM/SemDeDup-family
    selection pass): quantize the corpus into ``cells`` k-means cells and
    keep at most ``per_cell`` vectors from each, so every region of
    embedding space lands in the sample regardless of how skewed the corpus
    density is — the budget a hash/uniform sample would spend almost
    entirely on the dominant mode. Returns the selected rows as
    ``(vec_id, cell, ccos, cell_rank)``.

    ``farthest=False`` (default) keeps the vectors NEAREST their centroid —
    prototype selection (clean, representative examples). ``farthest=True``
    inverts the order — boundary/outlier selection (the hard-example mining
    regime). Both are deterministic: rounded-cosine order with vec_id
    tie-break.

    Cells come from :func:`kmeans_centroids` with sim6's exact-oracle
    recipe (hash-ranked seeds, ONE Lloyd step, 6-dp-rounded means) so the
    whole pass sits in the DuckDB hash gate; a production run dials
    ``iters`` up through the same code path (sim5's argument).

    Scale shape: assignment is one streamed corpus x cells score against
    the BROADCAST centroid table collapsed by a min_by hash aggregate
    (never a window over N x cells); the per-cell top-k is a window over
    the skinny (vec_id, cell, ccos) assignment rows — ~24 bytes/row, cell
    partitions bounded by the quantizer (cells ~ sqrt(N) keeps each
    partition ~sqrt(N) rows). A pathologically hot cell concentrates its
    per-cell sort on one task — AQE does NOT split window partitions (its
    skew handling is join-side only); Spark's window-group-limit rewrite
    caps the rows each group actually buffers at ``per_cell``, so the
    exposure is sort-INPUT skew, not memory. The embedding column is
    pruned before the window shuffle.

    ``salt`` is the scale-safe form for that hot-cell exposure: a
    two-phase top-k — phase 1 ranks within ``(cell, vec_id % salt)`` so a
    hot cell's scan spreads over ``salt`` tasks, phase 2 re-ranks only
    the <= salt x per_cell survivors per cell. EXACTLY equivalent to the
    unsalted window (any global top-per_cell row is in its salt-group's
    top-per_cell; deterministic vec_id tie-break in both phases) — only
    the physical shape changes. Measured crossover (PLANS.md dv1 salt
    sweep): the extra shuffle+window makes salting a loss below ~50%-hot
    cells at window-group-limited sort cost; opt in only when
    :func:`index_report` shows balance >> cores.
    """
    base = embeddings.select("vec_id", "embedding")
    cents = kmeans_centroids(embeddings, k=cells, iters=1, round_cents=6)
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "ccos", F.round(_cos_sim_udf()("cent", "embedding"), 6)
    )
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("cell", "ccos"),
                F.struct((-F.col("ccos")).alias("nc"), F.col("cell").alias("c")),
            ).alias("_b")
        )
        .select("vec_id", F.col("_b.cell").alias("cell"), F.col("_b.ccos").alias("ccos"))
    )
    from pyspark.sql import Window

    order = F.asc("ccos") if farthest else F.desc("ccos")
    if salt is not None:
        ws = Window.partitionBy("cell", "_salt").orderBy(order, F.asc("vec_id"))
        assign = (
            assign.withColumn("_salt", F.pmod(F.col("vec_id"), F.lit(salt)))
            .withColumn("_sr", F.row_number().over(ws))
            .where(F.col("_sr") <= per_cell)
            .drop("_salt", "_sr")
        )
    w = Window.partitionBy("cell").orderBy(order, F.asc("vec_id"))
    return (
        assign.withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= per_cell)
        .select("vec_id", "cell", "ccos", "cell_rank")
    )


# dv1's twin reuses _SIM6_SQL's quantizer stages verbatim (hash-ranked
# seeds, one Lloyd step, rounded means), keeps the winning cell's rounded
# cosine, and ranks within cells nearest-first with vec_id tie-break.
_DV1_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
h AS (
  SELECT vec_id, emb,
         row_number() OVER (
           ORDER BY ((xor(vec_id >> 31, vec_id) & 2147483647) * 2654435761) % 1000003 ASC,
                    vec_id ASC) AS rk
  FROM v
),
seeds AS (SELECT vec_id AS cell, emb AS cent FROM h WHERE rk <= 32),
a0 AS (
  SELECT v.vec_id, v.emb, s.cell,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(s.cent, v.emb), 6) DESC,
                                     s.cell ASC) AS crank
  FROM v CROSS JOIN seeds s
),
asg0 AS (SELECT vec_id, emb, cell FROM a0 WHERE crank = 1),
pe AS (
  SELECT cell, i AS pos, round(avg(emb[i]), 6) AS c
  FROM (SELECT cell, emb, unnest(generate_series(1, len(emb))) AS i FROM asg0)
  GROUP BY cell, i
),
m AS (SELECT cell, list(c ORDER BY pos) AS cent FROM pe GROUP BY cell),
cents AS (
  SELECT s.cell, coalesce(m.cent, s.cent) AS cent
  FROM seeds s LEFT JOIN m USING (cell)
),
sc AS (
  SELECT v.vec_id, c.cell,
         round(list_cosine_similarity(c.cent, v.emb), 6) AS ccos,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(c.cent, v.emb), 6) DESC,
                                     c.cell ASC) AS crank
  FROM v CROSS JOIN cents c
),
asg AS (SELECT vec_id, cell, ccos FROM sc WHERE crank = 1),
r AS (
  SELECT *, row_number() OVER (PARTITION BY cell
                               ORDER BY ccos DESC, vec_id ASC) AS cell_rank
  FROM asg
)
SELECT vec_id, cell, ccos, CAST(cell_rank AS BIGINT) AS cell_rank
FROM r WHERE cell_rank <= 8
"""


def save_index(
    embeddings: DataFrame,
    path: str,
    cells: int = 32,
    iters: int = 4,
    quantize: bool = False,
) -> None:
    """Persist an IVF index: k-means centroids (``<path>/centroids``) and
    per-vector cell assignments (``<path>/assignments``, partitioned by
    ``cell``) as parquet — the build-once/query-many split a production ANN
    service runs (PLANS.md: index build is the expensive pass; queries
    should pay only the probe join).

    The partition-by-cell layout IS the 100 TB story: a query probes
    IVF_NPROBE cells per probe vector, so the candidate scan touches only
    those cells' files (partition pruning / dynamic partition pruning on
    the join key), not the corpus. Quantizer parameters mirror sim5's
    defaults so a saved index reproduces ``ivf_topk_kmeans`` exactly.

    ``quantize=True`` stores qz2's int8 codes instead of the float
    embeddings (the IVF+SQ8 composition every production ANN store ships):
    cosine is per-vector-scale-invariant, so the SAME
    ``ivf_topk_prebuilt`` query path ranks the codes unchanged — only the
    stored bytes shrink (3.6x on high-entropy corpora, PLANS.md footprint
    table; approximate ranking, recall vs the float index tested in
    tests/test_similarity.py)."""
    cents = kmeans_centroids(embeddings, k=cells, iters=iters)
    base = embeddings.select("vec_id", "embedding")
    assign = _nearest_cell(base, cents, "cell")
    if quantize:
        assign = _with_int8_codes(assign, cast_to="tinyint")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    assign.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/assignments")


def append_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    append_id: int | None = None,
) -> DataFrame:
    """Incrementally append vectors to a saved IVF index (save_index is
    build-once; a production ingest appends daily batches without
    re-training): assign the new vectors against the SAVED centroids (the
    quantizer stays frozen — re-running k-means would shift cells and
    invalidate the existing layout), append their cell-partitioned parquet
    files, and record per-append drift statistics.

    Drift is the signal that says when a rebuild IS due: per cell, the
    appended count and the mean/min assignment cosine of the new vectors to
    their centroid. A distribution shift shows up as falling assignment
    cosines (new data far from every frozen centroid); rows accumulate in
    ``<path>/drift`` stamped with a monotone ``append_id``, and the full
    drift table is returned. Quantized (IVF+SQ8) layouts are detected from
    the stored element type and the new vectors encoded identically.

    Appended files are plain additional parquet files inside the existing
    ``cell=`` directories — readers (``ivf_topk_prebuilt``) see the union
    with the same partition pruning; a query against the appended index is
    IDENTICAL to one against an index of the union corpus sharing these
    centroids (asserted in tests/test_similarity.py). ``vec_id``
    uniqueness across appends is the caller's contract, as with any
    re-ingest.

    IDEMPOTENT under re-delivery (round-11 verdict task 4): already-
    present vec_ids are skipped via an anti-join against the TOUCHED
    cells' stored ids (frozen centroids assign a vec_id to the same cell
    every time, so the lookup partition-prunes to the batch's cells) —
    re-appending a batch writes zero new rows. With an explicit
    ``append_id`` (the streaming path: pass the micro-batch id) the
    drift row set for that id is written with dynamic partition
    overwrite into its own ``append_id=`` partition, replacing itself
    on retry — data + drift together are then EXACTLY-ONCE under
    foreachBatch's at-least-once replay. Without it (the batch API)
    drift appends under ``max+1`` as before. Drift stats describe the
    incoming batch (recomputable on retry even when every row is
    skipped as already present)."""
    from pyspark.sql.types import ByteType

    cents, assign0 = load_index(spark, path)
    quantized = isinstance(assign0.schema["embedding"].dataType.elementType, ByteType)
    base = new_vectors.select("vec_id", "embedding")
    # Feeds the data write AND the drift aggregate — materialize once
    # (multi-branch rule, CLAUDE.md note 12).
    newa = _nearest_cell(base, cents, "cell").localCheckpoint(eager=False)
    # idempotency: skip ids already stored in the touched cells (partition-
    # pruned lookup; frozen centroids make the cell deterministic per id)
    touched = newa.select("cell").distinct()
    existing = (
        assign0.join(F.broadcast(touched), "cell").select("vec_id").distinct()
    )
    fresh = newa.join(existing, "vec_id", "left_anti")
    to_write = _with_int8_codes(fresh, cast_to="tinyint") if quantized else fresh
    to_write.write.mode("append").partitionBy("cell").parquet(f"{path}/assignments")
    # Only the path-missing case (first append) may fall back to id 0: a
    # TRANSIENT drift-read failure swallowed here would silently restart
    # the monotone append_id sequence and make two different appends share
    # an id (round-7 review finding). AnalysisException is the
    # missing-path error; anything else propagates.
    from pyspark.errors import AnalysisException

    if append_id is not None:
        next_id = int(append_id)
    else:
        try:
            prev = spark.read.parquet(f"{path}/drift")
        except AnalysisException:
            next_id = 0
        else:
            last = prev.agg(F.max("append_id")).collect()[0][0]
            next_id = 0 if last is None else last + 1
    drift = (
        newa.join(F.broadcast(cents), "cell")
        .withColumn("ccos", F.round(_cos_sim_udf()("cent", "embedding"), 6))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_appended"),
            F.round(F.avg("ccos"), 6).alias("avg_assign_cos"),
            F.min("ccos").alias("min_assign_cos"),
        )
        .withColumn("append_id", F.lit(next_id))
    )
    if append_id is not None:
        # replace exactly this append's rows on retry, touch no others
        with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
            drift.coalesce(1).write.mode("overwrite").partitionBy(
                "append_id"
            ).parquet(f"{path}/drift")
    else:
        drift.coalesce(1).write.mode("append").partitionBy("append_id").parquet(
            f"{path}/drift"
        )
    spark.catalog.refreshByPath(f"{path}/drift")
    return spark.read.parquet(f"{path}/drift")


def load_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) back from :func:`save_index`'s layout."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/assignments"),
    )


def index_report(spark: SparkSession, path: str) -> DataFrame:
    """Health report for a saved IVF index — the check an operator runs
    before trusting (or after appending to) an index: one row with
    ``n_vectors``, ``n_cells`` (centroids), ``n_occupied_cells``,
    ``n_empty_cells``, ``max_cell``, ``mean_cell`` (over occupied cells,
    2 dp), and ``balance`` (max/mean, 2 dp — the probe-cost skew: a query
    probing a cell pays that cell's size, so balance ~1 means uniform
    probe latency and balance >> 1 means hot cells dominate; past ~4-5
    rebuild with more iters or more cells, or check append drift).

    Cost: one hash aggregate over the cell PARTITION COLUMN of the
    assignments layout (vec_id is counted, embeddings never read) + the
    k-row centroid frame. Quantized layouts need no special-casing —
    the report never touches vector payloads."""
    cents, assign = load_index(spark, path)
    per_cell = assign.groupBy("cell").agg(F.count("*").alias("n"))
    stats = per_cell.agg(
        F.sum("n").alias("n_vectors"),
        F.count("*").alias("n_occupied_cells"),
        F.max("n").alias("max_cell"),
        F.round(F.avg("n"), 2).alias("mean_cell"),
        F.round(F.max("n") / F.avg("n"), 2).alias("balance"),
    )
    k = cents.select(F.count("*").alias("n_cells"))
    return stats.crossJoin(F.broadcast(k)).select(
        "n_vectors",
        "n_cells",
        "n_occupied_cells",
        (F.col("n_cells") - F.col("n_occupied_cells")).alias("n_empty_cells"),
        "max_cell",
        "mean_cell",
        "balance",
    )


def ivf_topk_prebuilt(
    spark: SparkSession, path: str, n_probes: int = 20, k: int = 3
) -> DataFrame:
    """sim5's query path against a saved index: identical output to
    ``ivf_topk_kmeans`` on the corpus the index was built from, but the
    quantizer build and the N-row assignment pass are replaced by parquet
    scans — probes come from ``assignments`` with the ``vec_id < n_probes``
    filter pushed to the scan, and candidates from the probed cells'
    partitions only."""
    cents, assign = load_index(spark, path)
    probe_scored = (
        assign.select("vec_id", "embedding")
        .where(F.col("vec_id") < n_probes)
        .crossJoin(F.broadcast(cents))
        .withColumn("ccos", F.round(_cos_sim_udf()("cent", "embedding"), 6))
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probe_cells = F.broadcast(
        probe_scored.withColumn("crank", F.row_number().over(wp))
        .where(F.col("crank") <= IVF_NPROBE)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            "cell",
        )
    )
    cand = assign.join(probe_cells, "cell").where(F.col("q_id") != F.col("vec_id"))
    s = cand.withColumn("cos", F.round(_cos_sim_udf()("q_emb", "embedding"), 6)).select(
        "q_id", "vec_id", "cos"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        s.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def ivf_topk(embeddings: DataFrame, n_probes: int = 20, k: int = 3) -> DataFrame:
    """sim4 — IVF approximate top-k (the other scale path next to sim3's
    LSH): assign every vector to its nearest centroid cell (one narrow
    broadcast pass over ~cells rows), probe the query's IVF_NPROBE nearest
    cells, and rank ONLY those cells' vectors by exact cosine.

    Scale shape: centroids broadcast (cells x dim, tiny); assignment is one
    (vec_id, cell) aggregate; the candidate join is probe-cells (broadcast,
    |probes| x nprobe rows) x cell-partitioned corpus — |probes| x N/cells x
    nprobe work, never N^2, and the cell column is the bucketing/partition
    key a 100 TB layout would sort-cluster by. Fully deterministic, so
    checked against an exact DuckDB twin (unlike sim3's seeded projection).
    The scoring pass is materialized inside _ivf_query (multi-branch rule).
    """
    return _ivf_query(embeddings, ivf_centroids(embeddings), "label", n_probes, k)


# --- registry wiring -------------------------------------------------------


def _rademacher_matrix(in_dim: int, out_dim: int, seed: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix from pure integer arithmetic (the
    sp1 Knuth-multiplicative idiom) — generated once in Python and embedded
    as LITERALS in both the Spark plan and the DuckDB oracle, so there is no
    cross-engine hash to keep in sync."""
    return [
        [
            1 if ((i * out_dim + j + seed) * 2654435761 % 1_000_003) % 2 == 0 else -1
            for j in range(out_dim)
        ]
        for i in range(in_dim)
    ]


RP_OUT_DIM = 16
_RP_SEED = 7


def random_projection(
    embeddings: DataFrame, out_dim: int = RP_OUT_DIM, seed: int = _RP_SEED
) -> DataFrame:
    """rp1 — Johnson-Lindenstrauss dimensionality reduction by Rademacher
    (±1) random projection: ``proj = emb @ S / sqrt(out_dim)`` with a
    deterministic sign matrix. The standard pre-step before ANN indexing
    or clustering when the embedding dimension (not the corpus size) is the
    cost driver — a 64→16 projection cuts every downstream dot product,
    centroid update, and index byte 4x while JL keeps pairwise geometry to
    ~1/sqrt(out_dim) distortion (recall/distance-preservation measured in
    tests/test_similarity.py).

    Scale shape: one narrow Arrow-batched pandas-UDF projection (numpy
    matmul per batch — the module's documented fast path), zero shuffles;
    composes in front of save_index/sim5 unchanged since the output is just
    a lower-dim embedding column. Values are rounded to 6dp (note 6) so the
    exact DuckDB twin (same literal matrix, fold-order-independent after
    rounding) can hash-match.

    Like the sign matrix itself, ``in_dim`` is fixed by the model that
    produced the embeddings; the matrix rows must match ``len(emb)``.
    """
    S = _rademacher_matrix(_DIM, out_dim, seed)

    def _proj_fn(v: pd.Series) -> pd.Series:
        M = np.array(S, dtype=np.float64)
        X = np.stack(v.to_numpy()).astype(np.float64)
        P = np.round(X @ M / np.sqrt(M.shape[1]), 6)
        return pd.Series(list(P))

    _proj = pandas_udf(ArrayType(DoubleType()))(_proj_fn)
    return embeddings.select(
        "vec_id", "label", _proj(F.col("embedding")).alias("proj")
    )


def pca_components(
    embeddings: DataFrame, out_dim: int = RP_OUT_DIM
) -> tuple[list[float], list[list[float]]]:
    """Fit the rp2 PCA basis: returns ``(mean, W)`` where W is d x out_dim
    with orthonormal columns (top eigenvectors of the covariance,
    eigenvalue-descending, sign-normalized so each column's
    largest-magnitude entry is positive).

    Scale shape: ONE pass — a ``mapInPandas`` closure emits per-batch
    moment partials (count, sum vector, flattened X^T X; a few KB each),
    which reduce through a (dim-index, value) hash aggregate — d + d^2
    groups, never corpus rows. The d x d covariance then comes to the
    driver for the eigendecomposition (numpy ``eigh`` on a 64x64 matrix —
    the centroid-matrix exception class, PLANS.md rule 8). Corpus vectors
    never leave the executors."""
    import numpy as np

    d_col = embeddings.select(F.size("embedding").alias("d")).first()
    d = int(d_col.d)

    def _moments(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            X = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            yield _pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = embeddings.select("embedding").mapInPandas(
        _moments, schema="n long, s array<double>, ss array<double>"
    )
    # element-wise reduction of the partials: (index, value) hash aggregate
    # over d + d*d groups — partial-count-cardinality input, never corpus
    reduced = (
        parts.select(
            "n", F.posexplode(F.concat("s", "ss")).alias("idx", "val")
        )
        .groupBy("idx")
        .agg(F.sum("val").alias("v"), F.sum("n").alias("nn"))
        .collect()
    )
    # every idx row carries the same total n (sum over all partials)
    n = int(reduced[0].nn)
    flat = [0.0] * (d + d * d)
    for r in reduced:
        flat[r.idx] = r.v
    s = np.array(flat[:d])
    ss = np.array(flat[d:]).reshape(d, d)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:out_dim]
    W = vecs[:, order]
    # sign convention: largest-|.| entry of each column positive
    for j in range(W.shape[1]):
        k = int(np.abs(W[:, j]).argmax())
        if W[k, j] < 0:
            W[:, j] = -W[:, j]
    return mean.tolist(), W.tolist()


def pca_projection(embeddings: DataFrame, out_dim: int = RP_OUT_DIM) -> DataFrame:
    """rp2 — DATA-DRIVEN dimensionality reduction: project onto the top
    ``out_dim`` principal components of the corpus (centered), the
    variance-optimal complement to rp1's data-oblivious JL projection —
    same 4x cut to every downstream dot product and index byte, but the
    retained variance is maximal for the dimension. Fit is
    :func:`pca_components` (one corpus pass); application is the same
    narrow Arrow-batched matmul as rp1 with (mean, W) baked in as closure
    literals. Rows-only on the driver surface: the basis depends on
    float-sum partial order in the last ulp, so cross-engine hashing is
    not meaningful — pytest locks orthonormality, eigenvalue ordering,
    agreement with numpy PCA to 1e-6, and repartition stability."""
    mean, W = pca_components(embeddings, out_dim)

    def _proj_fn(v: pd.Series) -> pd.Series:
        M = np.array(W, dtype=np.float64)
        mu = np.array(mean, dtype=np.float64)
        X = np.stack(v.to_numpy()).astype(np.float64)
        P = np.round((X - mu) @ M, 6)
        return pd.Series(list(P))

    _proj = pandas_udf(ArrayType(DoubleType()))(_proj_fn)
    return embeddings.select(
        "vec_id", "label", _proj(F.col("embedding")).alias("proj")
    )


def _rp1_sql(out_dim: int = RP_OUT_DIM, seed: int = _RP_SEED) -> str:
    m = _rademacher_matrix(_DIM, out_dim, seed)
    lit = "[" + ", ".join("[" + ", ".join(str(x) for x in row) + "]" for row in m) + "]"
    return f"""
WITH s AS (SELECT {lit} AS m),
v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT vec_id, label,
       [round(list_sum([emb[i] * m[i][j]
                        for i in generate_series(1, len(emb))])
              / sqrt({out_dim}.0), 6)
        for j in generate_series(1, {out_dim})] AS proj
FROM v CROSS JOIN s
"""


_RP1_SQL = _rp1_sql()


def cluster_quality(embeddings: DataFrame, k: int = 32) -> DataFrame:
    """cl1 — clustering-quality report over the sim6 quantizer (one exact
    Lloyd step, rounded centroids): per cell ``(cell, n, mean_own_cos,
    mean_margin, nn_cent_cos)`` — membership count, mean cosine to the own
    centroid, mean (own - runner-up) assignment margin (the centroid-based
    silhouette surrogate: small margin = points sitting on a cell border),
    and the nearest-other-centroid cosine (high = the two cells should
    probably merge). The embedding-governance audit a pipeline runs before
    trusting an IVF/SemDeDup partitioning.

    Scale: one broadcast-centroid crossJoin streamed into a per-vector
    top-2 window (WindowGroupLimit bounds the buffer at 2) + one cell
    aggregate; the centroid-separation stage is k x k on the driver-sized
    centroid frame. Rounded-before-use cosines (note 6) make the oracle
    exact; the means round at 6 dp after aggregation (sum-order last-ulp
    noise sits ~7 orders below the rounding step).
    """
    from pyspark.sql import Window

    cents = kmeans_centroids(embeddings, k=k, iters=1, round_cents=6)
    base = embeddings.select("vec_id", "embedding")
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "ccos", F.round(_cos_sim_udf()("cent", "embedding"), 6)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    top2 = scored.withColumn("crank", F.row_number().over(w)).where(F.col("crank") <= 2)
    per_vec = top2.groupBy("vec_id").agg(
        F.max(F.when(F.col("crank") == 1, F.col("cell"))).alias("cell"),
        F.max(F.when(F.col("crank") == 1, F.col("ccos"))).alias("own"),
        F.max(F.when(F.col("crank") == 2, F.col("ccos"))).alias("second"),
    )
    rep = per_vec.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("own"), 6).alias("mean_own_cos"),
        F.round(F.avg(F.col("own") - F.col("second")), 6).alias("mean_margin"),
    )
    other = cents.select(F.col("cell").alias("ocell"), F.col("cent").alias("ocent"))
    cc = (
        cents.crossJoin(F.broadcast(other))
        .where(F.col("cell") != F.col("ocell"))
        .withColumn("ccos", F.round(_cos_sim_udf()("cent", "ocent"), 6))
        .groupBy("cell")
        .agg(F.max("ccos").alias("nn_cent_cos"))
    )
    return rep.join(F.broadcast(cc), "cell").orderBy("cell")


# cl1's twin reuses _SIM6_SQL's quantizer stages verbatim (seeds -> one
# rounded Lloyd step -> cents), then folds the per-vector top-2 assignment
# into the report aggregates.
_CL1_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
h AS (
  SELECT vec_id, emb,
         row_number() OVER (
           ORDER BY ((xor(vec_id >> 31, vec_id) & 2147483647) * 2654435761) % 1000003 ASC,
                    vec_id ASC) AS rk
  FROM v
),
seeds AS (SELECT vec_id AS cell, emb AS cent FROM h WHERE rk <= 32),
a0 AS (
  SELECT v.vec_id, v.emb, s.cell,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(s.cent, v.emb), 6) DESC,
                                     s.cell ASC) AS crank
  FROM v CROSS JOIN seeds s
),
asg0 AS (SELECT vec_id, emb, cell FROM a0 WHERE crank = 1),
pe AS (
  SELECT cell, i AS pos, round(avg(emb[i]), 6) AS c
  FROM (SELECT cell, emb, unnest(generate_series(1, len(emb))) AS i FROM asg0)
  GROUP BY cell, i
),
m AS (SELECT cell, list(c ORDER BY pos) AS cent FROM pe GROUP BY cell),
cents AS (
  SELECT s.cell, coalesce(m.cent, s.cent) AS cent
  FROM seeds s LEFT JOIN m USING (cell)
),
sc AS (
  SELECT v.vec_id, c.cell,
         round(list_cosine_similarity(c.cent, v.emb), 6) AS ccos,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(c.cent, v.emb), 6) DESC,
                                     c.cell ASC) AS crank
  FROM v CROSS JOIN cents c
),
pv AS (
  SELECT vec_id,
         max(CASE WHEN crank = 1 THEN cell END) AS cell,
         max(CASE WHEN crank = 1 THEN ccos END) AS own,
         max(CASE WHEN crank = 2 THEN ccos END) AS second
  FROM sc WHERE crank <= 2 GROUP BY vec_id
),
rep AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n,
         round(avg(own), 6) AS mean_own_cos,
         round(avg(own - second), 6) AS mean_margin
  FROM pv GROUP BY cell
),
cc AS (
  SELECT a.cell, max(round(list_cosine_similarity(a.cent, b.cent), 6)) AS nn_cent_cos
  FROM cents a JOIN cents b ON a.cell <> b.cell GROUP BY a.cell
)
SELECT rep.cell, rep.n, rep.mean_own_cos, rep.mean_margin, cc.nn_cent_cos
FROM rep JOIN cc ON cc.cell = rep.cell
ORDER BY rep.cell
"""


def build_queries():
    def q(fn, **kw):
        def run(spark: SparkSession, sf: str) -> DataFrame:
            return fn(tables.load(spark, sf, "embeddings"), **kw)

        return run

    return {
        "sim1_cosine_topk": (q(cosine_topk), _SIM1_SQL),
        "sim2_embedding_near_dups": (q(embedding_near_dups), _SIM2_SQL),
        "hn1_hard_negatives": (q(hard_negatives), _HN1_SQL),
        "hn2_semi_hard_negatives": (q(semi_hard_negatives), _HN2_SQL),
        # LSH buckets depend on a seeded-numpy projection only Spark-side:
        # rows-only driver check; recall asserted in tests/test_similarity.py.
        "sim3_ann_topk_lsh": (q(ann_topk_lsh), None),
        "sim4_ivf_topk": (q(ivf_topk), _SIM4_SQL),
        # k-means quantizer: Lloyd iterations have no SQL twin -> rows-only;
        # recall vs exact + determinism asserted in tests/test_similarity.py.
        "sim5_ivf_kmeans_topk": (q(ivf_topk_kmeans), None),
        # graph walk + Lloyd quantizer: no SQL twin -> rows-only; recall vs
        # exact sim1 + planted clusters + graph invariants in pytest.
        "gx1_graph_topk": (q(graph_topk), None),
        # ev1: grade the IVF tier against brute force in-engine — pred is
        # sim4's exact chain, truth is sim1's at k=3, metrics are joins +
        # aggregates; the oracle embeds both chains as nested CTEs.
        "ev1_retrieval_metrics": (
            lambda spark, sf: retrieval_metrics(
                ivf_topk(tables.load(spark, sf, "embeddings")),
                cosine_topk(tables.load(spark, sf, "embeddings"), k=3),
            ),
            _EV1_SQL.format(sim4=_SIM4_SQL),
        ),
        # ev2: the statistical half of the eval harness — IVF (pred A) vs
        # IVF-PQ (pred B) against the brute-force truth, integer hit-count
        # wins/losses and the exact sign-test p; all three chains embed as
        # nested CTEs in the oracle.
        "ev2_ranker_sign_test": (
            lambda spark, sf: ranker_sign_test(
                ivf_topk(tables.load(spark, sf, "embeddings")),
                ivf_pq_topk(tables.load(spark, sf, "embeddings")),
                cosine_topk(tables.load(spark, sf, "embeddings"), k=3),
            ),
            _EV2_SQL,
        ),
        # ev3: ev2 with the probe set widened to 60 queries, so the
        # non-tie count clears 20 and the NO-CEILING log-space exact
        # sign-test branch (round-11 verdict task 3) runs inside the
        # three-scale oracle gate — the DuckDB twin mirrors the fold as
        # a recursive CTE with the identical ascending-i double order.
        "ev3_sign_test_wide": (
            lambda spark, sf: ranker_sign_test(
                ivf_topk(tables.load(spark, sf, "embeddings"), n_probes=60),
                ivf_pq_topk(tables.load(spark, sf, "embeddings"), n_probes=60),
                cosine_topk(tables.load(spark, sf, "embeddings"), n_probes=60, k=3),
            ),
            _ev2_sql(60),
        ),
        # ev4: effect size for the same comparison — deterministic
        # percentile-bootstrap CI on the mean hit-count difference
        # (portable-hash resamples, integer sums, discrete quantiles).
        "ev4_bootstrap_ci": (
            lambda spark, sf: ranker_bootstrap_ci(
                ivf_topk(tables.load(spark, sf, "embeddings")),
                ivf_pq_topk(tables.load(spark, sf, "embeddings")),
                cosine_topk(tables.load(spark, sf, "embeddings"), k=3),
            ),
            _ev4_sql(),
        ),
        # fixed-1-iteration Lloyd: the k-means code path WITH an exact twin.
        "sim6_ivf_kmeans1_topk": (q(ivf_topk_kmeans1), _SIM6_SQL),
        "cl1_cluster_quality": (q(cluster_quality), _CL1_SQL),
        "qz1_quantization_report": (q(quantization_report), _QZ1_SQL),
        "rp1_random_projection": (q(random_projection), _RP1_SQL),
        # PCA basis depends on float-sum partial order in the last ulp ->
        # rows-only; pytest locks orthonormality, eigenvalue ordering,
        # 1e-6 agreement with numpy PCA, and repartition stability.
        "rp2_pca_projection": (q(pca_projection), None),
        "qz2_quantized_topk": (q(quantized_topk), _QZ2_SQL),
        "qz3_pq_topk": (q(pq_topk), _QZ3_SQL),
        "dv1_diversity_sample": (q(diversity_sample), _DV1_SQL),
        "qz4_ivf_pq_topk": (q(ivf_pq_topk), _QZ4_SQL),
        "qz5_refined_topk": (q(refined_topk), _QZ5_SQL),
        "qz6_binary_topk": (q(binary_topk), _QZ6_SQL),
        "rrf1_hybrid_fusion": (
            lambda spark, sf: rrf_fusion(
                tables.load(spark, sf, "documents"),
                tables.load(spark, sf, "embeddings"),
            ),
            _RRF1_SQL,
        ),
        # ANN-backed fusion: the dense arm's ADC ranks quantize through
        # PQ codes -> rows-only driver check; equivalence of the fusion
        # algebra and recall vs the brute-force twin (>= 0.9 on planted
        # clusters) are pytest-asserted in tests/test_similarity.py.
        "rrf2_hybrid_fusion_ann": (
            lambda spark, sf: rrf_fusion_ann(
                tables.load(spark, sf, "documents"),
                tables.load(spark, sf, "embeddings"),
            ),
            None,
        ),
        # SemDeDup: k-means cells + UDF cosines -> rows-only driver check;
        # ground truth is the planted-corpus recall suite
        # (tests/test_semantic_dedup.py). min_cos=0.3 on the near-orthogonal
        # synthetic embeddings yields non-trivial groups (max corpus cosine
        # ~0.51); real near-dup corpora run the 0.9+ default.
        "sd1_semantic_dedup": (q(semantic_dedup, min_cos=0.3), None),
    }


_SIM4_SQL = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
pe AS (
  SELECT label, i AS pos, round(avg(emb[i]), 6) AS a
  FROM (SELECT label, emb, unnest(generate_series(1, len(emb))) AS i FROM v)
  GROUP BY label, i
),
c AS (SELECT label, list(a ORDER BY pos) AS cent FROM pe GROUP BY label),
sc AS (
  SELECT v.vec_id, v.emb, c.label,
         round(list_cosine_similarity(c.cent, v.emb), 6) AS ccos,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(c.cent, v.emb), 6) DESC,
                                     c.label ASC) AS crank
  FROM v CROSS JOIN c
),
asg AS (SELECT vec_id, label AS cell, emb FROM sc WHERE crank = 1),
pc AS (SELECT vec_id AS q_id, emb AS q_emb, label AS cell
       FROM sc WHERE vec_id < 20 AND crank <= 2),
s AS (
  SELECT pc.q_id, a.vec_id, round(list_cosine_similarity(pc.q_emb, a.emb), 6) AS cos
  FROM pc JOIN asg a USING (cell)
  WHERE a.vec_id <> pc.q_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3
"""


# sim6: _SIM4_SQL's query shape with the quantizer replaced by one Lloyd
# step — hash-ranked seeds, argmax assignment (ties to smallest cell),
# 6-decimal-rounded per-cell means, empty cells keeping their seed vector.
_SIM6_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
h AS (
  SELECT vec_id, emb,
         row_number() OVER (
           ORDER BY ((xor(vec_id >> 31, vec_id) & 2147483647) * 2654435761) % 1000003 ASC,
                    vec_id ASC) AS rk
  FROM v
),
seeds AS (SELECT vec_id AS cell, emb AS cent FROM h WHERE rk <= 32),
a0 AS (
  SELECT v.vec_id, v.emb, s.cell,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(s.cent, v.emb), 6) DESC,
                                     s.cell ASC) AS crank
  FROM v CROSS JOIN seeds s
),
asg0 AS (SELECT vec_id, emb, cell FROM a0 WHERE crank = 1),
pe AS (
  SELECT cell, i AS pos, round(avg(emb[i]), 6) AS c
  FROM (SELECT cell, emb, unnest(generate_series(1, len(emb))) AS i FROM asg0)
  GROUP BY cell, i
),
m AS (SELECT cell, list(c ORDER BY pos) AS cent FROM pe GROUP BY cell),
cents AS (
  SELECT s.cell, coalesce(m.cent, s.cent) AS cent
  FROM seeds s LEFT JOIN m USING (cell)
),
sc AS (
  SELECT v.vec_id, v.emb, c.cell,
         round(list_cosine_similarity(c.cent, v.emb), 6) AS ccos,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(c.cent, v.emb), 6) DESC,
                                     c.cell ASC) AS crank
  FROM v CROSS JOIN cents c
),
asg AS (SELECT vec_id, cell, emb FROM sc WHERE crank = 1),
pc AS (SELECT vec_id AS q_id, emb AS q_emb, cell
       FROM sc WHERE vec_id < 20 AND crank <= 2),
s AS (
  SELECT pc.q_id, a.vec_id, round(list_cosine_similarity(pc.q_emb, a.emb), 6) AS cos
  FROM pc JOIN asg a USING (cell)
  WHERE a.vec_id <> pc.q_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3
"""


_SIM1_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < 20),
s AS (
  SELECT p.q_id, v.vec_id, round(list_cosine_similarity(p.q_emb, v.emb), 6) AS cos
  FROM p JOIN v ON p.q_id <> v.vec_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""

_SIM2_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (SELECT vec_id AS a_id, emb AS a_emb FROM v WHERE vec_id < 100)
SELECT p.a_id, v.vec_id AS b_id,
       round(list_cosine_similarity(p.a_emb, v.emb), 6) AS cos
FROM p JOIN v ON p.a_id < v.vec_id
WHERE round(list_cosine_similarity(p.a_emb, v.emb), 6) >= 0.35
"""


# --- gx1: graph ANN (HNSW-lite — per-IVF-cell kNN graphs + beam search) ------

GX_M = 8  # out-degree of each cell's kNN graph
GX_EF = 24  # beam width (ef) of the greedy search
GX_PROBE_CELLS = 3  # coarse cells probed per query
GX_SPILL = 1  # cells each vector joins (spill>1 = overlapping shards)
GX_ENTRIES = 1  # beam-search entry points per cell


_GX_GRAPH_SCHEMA = (
    "vec_id bigint, cell bigint, embedding array<float>, "
    "nbrs array<bigint>, is_entry boolean"
)


def _cell_graph_builder(m: int, ne: int):
    """The per-cell graph build task shared by :func:`nsw_cell_graph` and
    :func:`append_graph` (an appended cell is REBUILT from its combined
    members, so append equals a frozen-centroid rebuild bit-for-bit).
    Returned as a factory-local closure — executors can't import this
    package (CLAUDE.md note 4), so the function must ship by value."""

    def build(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = np.round(Xn @ Xn.T, 6)
        np.fill_diagonal(sims, -np.inf)
        cent = np.asarray(pdf["cent"].iloc[0], dtype=np.float64)
        cn = cent / (np.linalg.norm(cent) or 1.0)
        ccos = np.round(Xn @ cn, 6)
        rank_order = np.lexsort((ids, -ccos))  # centroid-cos rank chain
        deg = min(m, n - 1)
        if deg <= 0:
            nbrs = [[] for _ in range(n)]
        else:
            # stable argsort on -sims: equal cosines keep ascending vec_id
            order = np.argsort(-sims, axis=1, kind="stable")[:, :deg]
            # rank-chain connectivity edges: every member also links to
            # its predecessor/successor in (ccos desc, vec_id) order, so a
            # cell's graph is CONNECTED even when the quantizer merged two
            # well-separated clusters into one cell (pure kNN edges there
            # form per-cluster components the beam can never leave —
            # measured recall pinned at the reachable fraction until this)
            pos = np.empty(n, dtype=np.int64)
            pos[rank_order] = np.arange(n)
            nbrs = []
            for i in range(n):
                row = ids[order[i]].tolist()
                p = pos[i]
                for q in (p - 1, p + 1):
                    if 0 <= q < n:
                        cand = int(ids[rank_order[q]])
                        if cand not in row and cand != int(ids[i]):
                            row.append(cand)
                nbrs.append(row)
        entries = set(rank_order[: max(1, ne)].tolist())
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].to_numpy(),
                "embedding": pdf["embedding"].to_numpy(),
                "nbrs": nbrs,
                "is_entry": [i in entries for i in range(n)],
            }
        )

    return build


def nsw_cell_graph(
    embeddings: DataFrame,
    centroids: DataFrame | None = None,
    cells: int = 32,
    m_edges: int = GX_M,
    spill: int = GX_SPILL,
    n_entries: int = GX_ENTRIES,
) -> DataFrame:
    """gx1 build side — the graph tier the IVF/PQ ladder lacked: a
    navigable-small-world-style kNN graph built INSIDE each IVF cell
    (Malkov & Yashunin's HNSW base layer, partitioned the DiskANN way:
    shard the corpus by a coarse quantizer, graph each shard
    independently). One ``applyInPandas`` task per cell computes the exact
    within-cell kNN graph (one c x c matmul — cell size is bounded by the
    coarse quantizer, so per-task memory and the c^2 term are capped by
    design) and flags the cell's entry point (the vector nearest its
    centroid). Returns ``(vec_id, cell, embedding, nbrs array<bigint>,
    is_entry)`` — a disk-persistable artifact like the PQ codebooks
    (build-once/query-many).

    Determinism: neighbor lists rank by 6-decimal-rounded cosine with
    vec_id tie-break (stable argsort over vec_id-sorted rows); entry
    points tie to the smallest vec_id. No randomness anywhere, so the
    graph is repartition-invariant.

    ``spill`` assigns each vector to its top-``spill`` cells (DiskANN's
    overlapping shards / ScaNN's spilled assignment): on corpora with no
    cluster structure — uniform random embeddings are the worst case —
    a single-cell assignment caps recall at whatever fraction of true
    neighbors happens to share probed cells, and spilling multiplies
    that coverage at spill-times index size (measured on a uniform
    corpus: spill=3 + probe_cells=8 reaches recall>=0.9 where the
    defaults sit at ~0.33 — tests/test_similarity.py). ``n_entries``
    flags the top-``n_entries`` vectors nearest each centroid as beam
    seeds (multi-entry starts hedge local minima in large cells).
    """
    base = embeddings.select("vec_id", "embedding")
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, k=cells).localCheckpoint(eager=True)
    )
    spill = int(spill)
    if spill <= 1:
        asg0 = _nearest_cell(base, cents, "cell")
    else:
        from pyspark.sql import Window

        scored = base.crossJoin(F.broadcast(cents)).withColumn(
            "ccos", F.round(_cos_sim_udf()("cent", "embedding"), 6)
        )
        ws = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
        asg0 = (
            scored.withColumn("_cr", F.row_number().over(ws))
            .where(F.col("_cr") <= spill)
            .select("vec_id", "cell", "embedding")
        )
    asg = asg0.join(F.broadcast(cents), "cell")
    m = int(m_edges)
    ne = int(n_entries)

    return asg.groupBy("cell").applyInPandas(
        _cell_graph_builder(m, ne),
        _GX_GRAPH_SCHEMA,
    )


def graph_topk(
    embeddings: DataFrame,
    n_probes: int = 20,
    k: int = 3,
    probe_cells: int = GX_PROBE_CELLS,
    beam: int = GX_EF,
    cells: int = 32,
    centroids: DataFrame | None = None,
    graph: DataFrame | None = None,
    spill: int = GX_SPILL,
    n_entries: int = GX_ENTRIES,
) -> DataFrame:
    """gx1 — graph-ANN top-k: greedy best-first beam search (the HNSW/
    DiskANN query rule) restricted to each probed cell's kNN graph. Each
    probe walks from the cell's entry point, expanding the best unexpanded
    candidate's neighbors and keeping an ``ef``-deep result beam; the walk
    touches O(ef * out_degree) vectors instead of scanning the cell — the
    high-recall/low-touch regime the round-9 verdict named as the missing
    industry-default tier (qz5 is its re-rank half without the walk).

    Plan: probes pick ``probe_cells`` nearest centroids (broadcast, like
    _ivf_query), then ONE cogrouped applyInPandas per cell runs every
    walk assigned to that cell over Arrow-shipped columns; a final k-deep
    window ranks the per-cell beams globally. All cosines are exact
    (rounded to 6, vec_id tie-break) — the graph only limits which
    candidates get scored, so results are a subset of sim1's exact ranking
    (recall asserted against it in tests).

    Rows-only driver check: the Lloyd quantizer + the walk itself are not
    SQL-expressible; ground truth is pytest (planted-cluster recall vs
    exact sim1, determinism, graph-shape invariants).

    Pass ``centroids``/``graph`` to query a prebuilt index (the artifacts
    are plain DataFrames — persist like the PQ codebooks); when building
    inline they must share one centroid table, which is why the default
    builds it here and hands it to :func:`nsw_cell_graph`.
    """
    if graph is not None and centroids is None:
        raise ValueError(
            "graph_topk: a prebuilt `graph` must come with the `centroids` "
            "table it was built against — rebuilding a default quantizer "
            "here would probe cell ids that don't match the graph's cell "
            "keys and silently degrade recall (the note-36 prebuilt-"
            "artifact mismatch class). Pass both artifacts (e.g. from "
            "save_graph_index/load_graph_index)."
        )
    base = embeddings.select("vec_id", "embedding")
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, k=cells).localCheckpoint(eager=True)
    )
    g = (
        graph
        if graph is not None
        else nsw_cell_graph(
            embeddings, centroids=cents, spill=spill, n_entries=n_entries
        )
    )
    probe_scored = (
        base.where(F.col("vec_id") < n_probes)
        .crossJoin(F.broadcast(cents))
        .withColumn("ccos", F.round(_cos_sim_udf()("cent", "embedding"), 6))
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probe_asg = (
        probe_scored.withColumn("crank", F.row_number().over(wp))
        .where(F.col("crank") <= probe_cells)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            "cell",
        )
    )
    ef = int(beam)

    def walk(left, right):
        import heapq

        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "q_id": pd.Series([], dtype="int64"),
                "vec_id": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        right = right.sort_values("vec_id")
        ids = right["vec_id"].to_numpy()
        X = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        idx_of = {int(v): i for i, v in enumerate(ids)}
        adj = [[idx_of[int(d)] for d in row] for row in right["nbrs"]]
        entries = np.flatnonzero(right["is_entry"].to_numpy())
        starts = [int(e) for e in entries] if len(entries) else [0]
        out_q, out_v, out_c = [], [], []
        for q_id, q_emb in zip(left["q_id"].to_numpy(), left["q_emb"]):
            qv = np.asarray(q_emb, dtype=np.float64)
            qn = qv / (np.linalg.norm(qv) or 1.0)
            visited = set(starts)
            cand, best = [], []
            for st in starts:  # multi-entry beam seeding
                s0 = round(float(Xn[st] @ qn), 6)
                heapq.heappush(cand, (-s0, st))
                heapq.heappush(best, (s0, -int(ids[st]), st))
            # min-heap: worst kept first
            while cand:
                negs, i = heapq.heappop(cand)
                if len(best) >= ef and -negs < best[0][0]:
                    break  # best unexpanded candidate is worse than the beam
                for j in adj[i]:
                    if j in visited:
                        continue
                    visited.add(j)
                    sj = round(float(Xn[j] @ qn), 6)
                    if len(best) < ef or sj > best[0][0]:
                        heapq.heappush(cand, (-sj, j))
                        heapq.heappush(best, (sj, -int(ids[j]), j))
                        if len(best) > ef:
                            heapq.heappop(best)
            for s, negid, _i in best:
                if -negid == int(q_id):
                    continue  # sim1 contract: never return the probe itself
                out_q.append(int(q_id))
                out_v.append(-negid)
                out_c.append(s)
        return pd.DataFrame(
            {
                "q_id": pd.Series(out_q, dtype="int64"),
                "vec_id": pd.Series(out_v, dtype="int64"),
                "cos": pd.Series(out_c, dtype="float64"),
            }
        )

    walked = (
        probe_asg.groupBy("cell")
        .cogroup(g.groupBy("cell"))
        .applyInPandas(walk, "q_id bigint, vec_id bigint, cos double")
        # a spilled vector can surface from several probed cells with the
        # same (rounded) cosine — dedup at result-set cardinality before
        # ranking so top-k rows stay unique per vec_id
        .groupBy("q_id", "vec_id")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        walked.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def save_graph_index(
    embeddings: DataFrame,
    path: str,
    cells: int = 32,
    iters: int = 4,
    m_edges: int = GX_M,
    spill: int = GX_SPILL,
    n_entries: int = GX_ENTRIES,
) -> None:
    """Persist the gx1 graph index: k-means centroids
    (``<path>/centroids``) and the per-cell kNN graph (``<path>/graph``,
    partitioned by ``cell``) — the build-once/query-many split
    :func:`save_index` gives the IVF tier, for the graph tier. Query with
    ``graph_topk(emb, centroids=idx["centroids"], graph=idx["graph"])``;
    the partition-by-cell layout means a query's probed cells prune to
    their own files. Build parameters (m_edges/spill/n_entries) persist
    in the artifact's ``meta`` file and are read back on append (note-36
    stance: the artifact carries its own stride)."""
    cents = kmeans_centroids(embeddings, k=cells, iters=iters).localCheckpoint(
        eager=True
    )
    g = nsw_cell_graph(
        embeddings,
        centroids=cents,
        m_edges=m_edges,
        spill=spill,
        n_entries=n_entries,
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    g.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/graph")
    spark = embeddings.sparkSession
    # single-slice local frame (tables.local_rows): the old
    # createDataFrame+coalesce(1) cost ~5 s per save draining 32 Python-RDD
    # slices through one task (measured, r14 optimization round)
    tables.local_rows(
        spark,
        [(int(m_edges), int(spill), int(n_entries))],
        "m_edges int, spill int, n_entries int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_graph_index(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """{"centroids", "graph"} back from :func:`save_graph_index`'s layout
    — exactly the two artifacts :func:`graph_topk` requires together (it
    raises on a graph without its centroids)."""
    return {
        "centroids": spark.read.parquet(f"{path}/centroids"),
        "graph": spark.read.parquet(f"{path}/graph"),
    }


def append_graph(spark: SparkSession, path: str, new_vectors: DataFrame) -> DataFrame:
    """Incrementally insert vectors into a saved graph index (the graph
    parity of :func:`append_index`): assign the new vectors against the
    SAVED centroids (the quantizer stays frozen — retraining would shift
    every cell and invalidate the layout), then REBUILD exactly the
    affected cells from their combined members with the same per-cell
    build task and rewrite only those ``cell=`` partitions (dynamic
    partition overwrite — the "local edge rewire" is a bounded per-cell
    O(c^2) matmul, untouched cells' files are never read or written).

    Because cell membership under frozen centroids is identical either
    way, the appended artifact is BIT-IDENTICAL to
    ``nsw_cell_graph(old UNION new, centroids=frozen)`` — asserted in
    tests, with query-recall parity vs a fully retrained rebuild graded
    by the ev1 metrics. Build parameters come from the artifact's own
    ``meta`` file, never from a caller kwarg, so a mismatched parameter
    can't silently corrupt the layout (note 36). ``vec_id`` uniqueness
    across appends is the caller's contract.

    IDEMPOTENT under re-delivery (round-11 verdict task 4, shared with
    append_index): ids already present in the candidate cells are
    anti-joined away — frozen centroids assign deterministically, so a
    retried batch finds every id in place, the fresh set comes back
    empty, and the rebuild is skipped entirely (the graph is returned
    unchanged). This is what makes :class:`StreamingGraphAppender`
    exactly-once under foreachBatch's at-least-once replay.
    """
    idx = load_graph_index(spark, path)
    cents = idx["centroids"].localCheckpoint(eager=True)
    graph = idx["graph"]
    meta = spark.read.parquet(f"{path}/meta").first()
    m, spill, ne = int(meta.m_edges), int(meta.spill), int(meta.n_entries)

    base = new_vectors.select("vec_id", "embedding")
    if spill <= 1:
        newa = _nearest_cell(base, cents, "cell")
    else:
        from pyspark.sql import Window

        scored = base.crossJoin(F.broadcast(cents)).withColumn(
            "ccos", F.round(_cos_sim_udf()("cent", "embedding"), 6)
        )
        ws = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
        newa = (
            scored.withColumn("_cr", F.row_number().over(ws))
            .where(F.col("_cr") <= spill)
            .select("vec_id", "cell", "embedding")
        )
    # feeds the id-skip anti-join, the affected-cell prune AND the
    # rebuild input (note 12)
    newa = newa.join(F.broadcast(cents), "cell").localCheckpoint(eager=False)
    # idempotency: drop ids the graph already holds in the batch's cells
    # (cell assignment under frozen centroids is deterministic, so a
    # replayed batch maps to the same cells and skips completely)
    cand_cells = newa.select("cell").distinct()
    present = graph.join(F.broadcast(cand_cells), "cell").select("vec_id").distinct()
    fresh = newa.join(present, "vec_id", "left_anti").localCheckpoint(eager=False)
    if fresh.isEmpty():
        return graph
    affected = fresh.select("cell").distinct()
    # prune the passive side to affected cells (note 11) — broadcast
    # semi-join on the handful of touched cell ids
    old_members = graph.join(F.broadcast(affected), "cell").select(
        "vec_id", "cell", "embedding"
    ).join(F.broadcast(cents), "cell")
    combined = old_members.unionByName(
        fresh.select("vec_id", "cell", "embedding", "cent")
    )
    rebuilt = combined.groupBy("cell").applyInPandas(
        _cell_graph_builder(m, ne), _GX_GRAPH_SCHEMA
    )
    with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        rebuilt.write.mode("overwrite").partitionBy("cell").parquet(
            f"{path}/graph"
        )
    # the overwritten partitions invalidate the session's cached file
    # listing for this path (note 28)
    spark.catalog.refreshByPath(f"{path}/graph")
    return spark.read.parquet(f"{path}/graph")


def ranker_sign_test(
    pred_a: DataFrame, pred_b: DataFrame, truth: DataFrame, k: int = 3
) -> DataFrame:
    """ev2 — paired statistical comparison of two rankers against one
    ground-truth top-k: per-query hit counts (the integer numerator of
    recall@k, so the comparison never touches floating point), win/tie/
    loss tallies over the shared query set, and the EXACT two-sided sign
    test p-value — the standard "is ranker A actually better or is this
    noise" question ev1's per-query metrics leave open. One row out:
    ``(n_queries, n_wins, n_losses, n_ties, p_sign)``; wins count
    queries where A hits strictly more truth items than B.

    The p-value is the exact binomial tail: with ``nn = wins + losses``
    (ties dropped, the standard sign-test treatment) and ``m = min(wins,
    losses)``, ``p = min(1, 2 * sum_{i<=m} C(nn, i) / 2^nn)``. Through
    nn = 20 it is computed with INTEGER binomials via ``factorial``
    (bit-exact on both engines). Past 20 (where 64-bit factorial
    overflows) the SAME exact tail is evaluated in log space with a
    backward-ratio fold: ``ln C(nn,m)/2^nn`` accumulates term ratios
    ``(nn-i+1)/i`` and the remaining tail terms enter as the descending
    ratio series ``K = 1 + r_1 + r_1 r_2 + ...`` (every ratio < 1 since
    m <= nn/2, so K <= m+1 — no overflow, no underflow until p itself
    underflows to a 6-dp zero). No ceiling: a thousand-query eval set
    grades in-engine; determinism comes from a FIXED fold order (both
    engines sum ascending i in IEEE doubles) plus the repo-wide 6-dp
    round before comparison. All inputs are any frames with ``(q_id,
    vec_id, rank)``; rows with rank > k are ignored.

    Cost: three result-set-cardinality joins and one single-row
    aggregate — nothing touches the corpus (ev1's scale shape).
    """
    t = truth.where(F.col("rank") <= k).select("q_id", "vec_id")
    tq = t.select("q_id").distinct()

    def hitcount(pred, name):
        return (
            pred.where(F.col("rank") <= k)
            .select("q_id", "vec_id")
            .join(t, ["q_id", "vec_id"])
            .groupBy("q_id")
            .agg(F.count("*").alias(name))
        )

    j = (
        tq.join(hitcount(pred_a, "h_a"), "q_id", "left")
        .join(hitcount(pred_b, "h_b"), "q_id", "left")
        .select(
            "q_id",
            F.coalesce("h_a", F.lit(0)).alias("h_a"),
            F.coalesce("h_b", F.lit(0)).alias("h_b"),
        )
    )
    s = j.agg(
        F.count("*").alias("n_queries"),
        F.sum((F.col("h_a") > F.col("h_b")).cast("long")).alias("n_wins"),
        F.sum((F.col("h_a") < F.col("h_b")).cast("long")).alias("n_losses"),
        F.sum((F.col("h_a") == F.col("h_b")).cast("long")).alias("n_ties"),
    )
    s2 = s.withColumn("nn", F.col("n_wins") + F.col("n_losses")).withColumn(
        "m", F.least(F.col("n_wins"), F.col("n_losses"))
    )
    tail = F.expr(
        "aggregate(sequence(0, int(least(n_wins, n_losses))), 0L,"
        " (acc, i) -> acc + factorial(int(n_wins + n_losses))"
        " div (factorial(i) * factorial(int(n_wins + n_losses) - i)))"
    )
    p_small = F.least(
        F.lit(1.0),
        F.round(
            F.lit(2.0) * tail.cast("double") / F.pow(F.lit(2.0), F.col("nn").cast("double")),
            6,
        ),
    )
    # log-space exact tail for nn > 20 — the fold order below is mirrored
    # verbatim by the DuckDB oracle's recursive CTE (ascending i, same
    # expression shapes), so both engines run the identical IEEE-double
    # operation sequence before the 6-dp round
    p_large = F.expr(
        "least(CAST(1.0 AS DOUBLE), round("
        " aggregate("
        "   filter(sequence(0L, m), x -> x > 0L),"
        "   named_struct("
        "     'lt', CAST(0.0 AS DOUBLE),"
        "     'ratio', CAST(1.0 AS DOUBLE),"
        "     'ksum', CAST(0.0 AS DOUBLE)),"
        "   (a, i) -> named_struct("
        "     'lt', a.lt + ln(CAST(nn - i + 1 AS DOUBLE) / CAST(i AS DOUBLE)),"
        "     'ratio', a.ratio * (CAST(m - i + 1 AS DOUBLE)"
        "                         / CAST(nn - m + i AS DOUBLE)),"
        "     'ksum', a.ksum + a.ratio * (CAST(m - i + 1 AS DOUBLE)"
        "                                 / CAST(nn - m + i AS DOUBLE))),"
        "   a -> 2.0 * exp(CAST(nn AS DOUBLE) * ln(0.5) + a.lt)"
        "        * (1.0 + a.ksum)"
        " ), 6))"
    )
    p = (
        F.when(F.col("nn") == 0, F.lit(1.0))
        .when(F.col("nn") <= 20, p_small)
        .otherwise(p_large)
    )
    return s2.select(
        "n_queries",
        "n_wins",
        "n_losses",
        "n_ties",
        p.alias("p_sign"),
    )


# Poisson(1) CDF cutpoints for the deterministic Poisson-bootstrap weight
# (weights capped at len+1 = 8; P(X > 7) ~ 1e-5 at lambda=1). LITERALS so
# both engines compare u against byte-identical doubles.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def ranker_bootstrap_ci(
    pred_a: DataFrame,
    pred_b: DataFrame,
    truth: DataFrame,
    k: int = 3,
    n_replicates: int = 200,
    alpha: float = 0.05,
) -> DataFrame:
    """ev4 — deterministic POISSON-bootstrap confidence interval for the
    mean per-query hit-count difference between two rankers (the
    effect-SIZE companion to ev2's sign-test significance: "A beats B"
    is only actionable with "by how much, plus-or-minus"). One row out:
    ``(n_queries, n_replicates, mean_diff, ci_lo, ci_hi)`` — mean_diff is
    the observed mean of ``h_a - h_b`` over the shared truth query set
    and [ci_lo, ci_hi] the percentile bootstrap interval at level
    ``1 - alpha``.

    The resampling scheme is the Poisson bootstrap (Hanley & MacGibbon
    2006; the per-row-weight form production systems use on distributed
    data): replicate ``r`` weighs query ``q`` by a Poisson(1)-distributed
    integer instead of drawing indices — so there is NO global row
    numbering and NO resample join anywhere in the plan; each diff row
    expands to its B weights in place and one aggregate per replicate
    finishes the job (a partitionless row_number would serialize the
    query set through one reducer — the invariant test_plans locks
    repo-wide).

    Determinism / cross-engine exactness: no RNG — the weight comes from
    inverting the Poisson(1) CDF at ``u(r, q) = portable_hash(r, q) /
    1000003`` (the library's masked multiplicative family; double-mod
    keeps every product under the ANSI bigint bound), per-replicate
    sums are INTEGERS, and the interval endpoints are
    ``percentile_disc`` values — a discrete quantile IS a data value
    (note 41) — so Spark and DuckDB produce identical doubles before
    the 6-dp round. Mean uses the fixed denominator Q (the standard
    Poisson-bootstrap normalization).

    Cost model: everything runs at result-set cardinality (ev1's
    stance) — Q x B weight rows of two integers, one hash aggregate,
    one single-row quantile. Nothing touches the corpus.
    """
    B = int(n_replicates)
    lo_q, hi_q = alpha / 2.0, 1.0 - alpha / 2.0
    t = truth.where(F.col("rank") <= k).select("q_id", "vec_id")
    tq = t.select("q_id").distinct()

    def hitcount(pred, name):
        return (
            pred.where(F.col("rank") <= k)
            .select("q_id", "vec_id")
            .join(t, ["q_id", "vec_id"])
            .groupBy("q_id")
            .agg(F.count("*").alias(name))
        )

    j = (
        tq.join(hitcount(pred_a, "h_a"), "q_id", "left")
        .join(hitcount(pred_b, "h_b"), "q_id", "left")
        .select(
            "q_id",
            F.coalesce("h_a", F.lit(0)).alias("h_a"),
            F.coalesce("h_b", F.lit(0)).alias("h_b"),
        )
    )
    d = j.select("q_id", (F.col("h_a") - F.col("h_b")).alias("d")).localCheckpoint(
        eager=False  # feeds the totals AND the replicate expansion (note 12)
    )
    qc = d.agg(F.count("*").alias("q"), F.sum("d").alias("sum_obs"))
    mixed = "((q_id >> 31) ^ q_id) & 2147483647"
    u = (
        f"((({mixed}) * 211 + r) % 1000003) * 2654435761 % 1000003"
        f" / CAST(1000003 AS DOUBLE)"
    )
    w = (
        f"CASE WHEN {u} < {_POIS1_CDF[0]!r} THEN 0"
        + "".join(
            f" WHEN {u} < {c!r} THEN {i + 1}"
            for i, c in enumerate(_POIS1_CDF[1:])
        )
        + f" ELSE {len(_POIS1_CDF)} END"
    )
    rep = (
        d.select("q_id", "d", F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("r"))
        .select("r", (F.expr(w) * F.col("d")).alias("wd"))
        .groupBy("r")
        .agg(F.sum("wd").alias("sum_d"))
    )
    ci = rep.agg(
        F.expr(f"percentile_disc({lo_q}) WITHIN GROUP (ORDER BY sum_d)").alias("lo"),
        F.expr(f"percentile_disc({hi_q}) WITHIN GROUP (ORDER BY sum_d)").alias("hi"),
    )
    return qc.crossJoin(ci).select(
        F.col("q").cast("bigint").alias("n_queries"),
        F.lit(B).cast("bigint").alias("n_replicates"),
        F.round(F.col("sum_obs") / F.col("q"), 6).alias("mean_diff"),
        F.round(F.col("lo") / F.col("q"), 6).alias("ci_lo"),
        F.round(F.col("hi") / F.col("q"), 6).alias("ci_hi"),
    )


# --- ev1: in-engine retrieval evaluation (recall@k / MRR@k / nDCG@k) ---------


def retrieval_metrics(pred: DataFrame, truth: DataFrame, k: int = 3) -> DataFrame:
    """ev1 — retrieval evaluation as an engine operator: per-query
    recall@k, MRR@k and nDCG@k of a predicted ranking against a
    ground-truth top-k (binary relevance: an item is relevant iff it
    appears in the truth top-k for that query). This is the measurement
    half every ANN tier here (sim3/sim4/qz*/gx1) is judged by in pytest,
    promoted to a first-class operator so an engine user can score their
    own index the way the tests do — e.g. ``retrieval_metrics(
    ivf_topk(emb), cosine_topk(emb, k=3))`` grades IVF against brute
    force in one job.

    Inputs are any frames with ``(q_id, vec_id, rank)`` (extra columns
    ignored; rows with rank > k dropped). Output one row per query:
    ``(q_id, n_truth, n_hit, recall_at_k, mrr_at_k, ndcg_at_k)`` — all
    metrics rounded to 6 decimals (repo rule 6). Queries present in
    truth but absent from pred score zeros.

    Plan shape: one equi-join at result-set cardinality (|queries| x k —
    metadata-sized next to any corpus), two hash aggregates, and a
    per-row IDCG fold over a <= k element sequence. Nothing here touches
    the corpus; cost scales with the query set, not N.
    """
    p = pred.where(F.col("rank") <= k).select("q_id", "vec_id", "rank")
    t = truth.where(F.col("rank") <= k).select("q_id", "vec_id")
    nt = t.groupBy("q_id").agg(F.count("*").alias("n_truth"))
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))  # noqa: E731
    hits = p.join(t, ["q_id", "vec_id"])
    agg = hits.groupBy("q_id").agg(
        F.count("*").alias("n_hit"),
        F.min("rank").alias("_first"),
        F.sum(F.lit(1.0) / log2(F.col("rank") + F.lit(1.0))).alias("_dcg"),
    )
    idcg = F.expr(
        "aggregate(sequence(1, cast(n_truth as int)), cast(0.0 as double),"
        " (acc, i) -> acc + 1.0 / (ln(i + 1) / ln(2)))"
    )
    return (
        nt.join(agg, "q_id", "left")
        .select(
            "q_id",
            "n_truth",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth"), 6
            ).alias("recall_at_k"),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("_first"), F.lit(0.0)), 6
            ).alias("mrr_at_k"),
            F.round(F.coalesce(F.col("_dcg"), F.lit(0.0)) / idcg, 6).alias(
                "ndcg_at_k"
            ),
        )
    )


# ev1 oracle: pred = the sim4 IVF chain verbatim (nested-CTE subquery),
# truth = the brute top-3 (sim1's chain at k=3), metrics = one join + two
# aggregates + a generate_series IDCG — ln ratios for log2 on both engines,
# all metrics rounded to 6 before compare.
_EV1_TRUTH_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE vec_id < 20),
s AS (
  SELECT p.q_id, v.vec_id, round(list_cosine_similarity(p.q_emb, v.emb), 6) AS cos
  FROM p JOIN v ON p.q_id <> v.vec_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT q_id, vec_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3
"""

_EV1_SQL = f"""
WITH pred AS (SELECT * FROM ({{sim4}})),
truth AS (SELECT * FROM ({_EV1_TRUTH_SQL})),
nt AS (SELECT q_id, count(*) AS n_truth FROM truth GROUP BY q_id),
hits AS (
  SELECT p.q_id, p.rank FROM pred p JOIN truth t USING (q_id, vec_id)
),
agg AS (
  SELECT q_id, count(*) AS n_hit, min(rank) AS first_rank,
         sum(1.0 / (ln(rank + 1) / ln(2))) AS dcg
  FROM hits GROUP BY q_id
),
idcg AS (
  SELECT q_id, sum(1.0 / (ln(i + 1) / ln(2))) AS v
  FROM (SELECT q_id, unnest(generate_series(1, CAST(n_truth AS INT))) AS i FROM nt)
  GROUP BY q_id
)
SELECT nt.q_id, nt.n_truth,
       CAST(coalesce(agg.n_hit, 0) AS BIGINT) AS n_hit,
       round(coalesce(agg.n_hit, 0) / nt.n_truth, 6) AS recall_at_k,
       round(coalesce(1.0 / agg.first_rank, 0.0), 6) AS mrr_at_k,
       round(coalesce(agg.dcg, 0.0) / idcg.v, 6) AS ndcg_at_k
FROM nt LEFT JOIN agg USING (q_id) JOIN idcg USING (q_id)
"""

# ev2: both ranker chains + the truth chain as nested CTEs; win/loss on
# integer hit counts; p via exact integer binomials through nn = 20
# (factorial is exact through 20! on both engines) and via the SAME
# exact tail in log space past it — a recursive CTE running the
# identical ascending-i double fold as the Spark expression (same
# operation order, 6-dp round), so the no-ceiling branch stays inside
# the exact-oracle gate.
def _ev2_sql(n_probes: int = 20) -> str:
    """The ev2 oracle with all three ranker chains' probe sets widened to
    ``n_probes`` (the chains hardcode the default probe filter
    ``vec_id < 20``; a literal replace keeps them in lockstep with the
    Spark calls' n_probes argument)."""
    rep = lambda sql: sql.replace("vec_id < 20", f"vec_id < {n_probes}")  # noqa: E731
    return f"""
WITH RECURSIVE pred_a AS (SELECT * FROM ({rep(_SIM4_SQL)})),
pred_b AS (SELECT * FROM ({rep(_QZ4_SQL)})),
truth AS (SELECT * FROM ({rep(_EV1_TRUTH_SQL)})),
tq AS (SELECT DISTINCT q_id FROM truth),
ha AS (SELECT p.q_id, count(*) AS h FROM pred_a p JOIN truth t
       USING (q_id, vec_id) WHERE p.rank <= 3 GROUP BY p.q_id),
hb AS (SELECT p.q_id, count(*) AS h FROM pred_b p JOIN truth t
       USING (q_id, vec_id) WHERE p.rank <= 3 GROUP BY p.q_id),
j AS (SELECT tq.q_id, coalesce(ha.h, 0) AS h_a, coalesce(hb.h, 0) AS h_b
      FROM tq LEFT JOIN ha USING (q_id) LEFT JOIN hb USING (q_id)),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_queries,
             CAST(coalesce(sum(CASE WHEN h_a > h_b THEN 1 END), 0) AS BIGINT) AS n_wins,
             CAST(coalesce(sum(CASE WHEN h_a < h_b THEN 1 END), 0) AS BIGINT) AS n_losses,
             CAST(coalesce(sum(CASE WHEN h_a = h_b THEN 1 END), 0) AS BIGINT) AS n_ties
      FROM j),
s2 AS (SELECT *, n_wins + n_losses AS nn, least(n_wins, n_losses) AS m FROM s),
series AS (SELECT unnest(generate_series(0, 20)) AS i),
tl AS (
  SELECT sum(factorial(CAST(s.n_wins + s.n_losses AS INT))
             // (factorial(CAST(series.i AS INT))
                 * factorial(CAST(s.n_wins + s.n_losses - series.i AS INT)))) AS v
  FROM s CROSS JOIN series
  WHERE s.n_wins + s.n_losses <= 20
    AND series.i <= least(s.n_wins, s.n_losses)
),
fold(i, lt, ratio, ksum) AS (
  SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
         CAST(0.0 AS DOUBLE)
  UNION ALL
  SELECT f.i + 1,
         f.lt + ln(CAST(s2.nn - (f.i + 1) + 1 AS DOUBLE)
                   / CAST(f.i + 1 AS DOUBLE)),
         f.ratio * (CAST(s2.m - (f.i + 1) + 1 AS DOUBLE)
                    / CAST(s2.nn - s2.m + (f.i + 1) AS DOUBLE)),
         f.ksum + f.ratio * (CAST(s2.m - (f.i + 1) + 1 AS DOUBLE)
                             / CAST(s2.nn - s2.m + (f.i + 1) AS DOUBLE))
  FROM fold f, s2 WHERE s2.nn > 20 AND f.i < s2.m
),
plarge AS (
  SELECT least(CAST(1.0 AS DOUBLE),
               round(2.0 * exp(CAST(s2.nn AS DOUBLE) * ln(0.5) + f.lt)
                     * (1.0 + f.ksum), 6)) AS v
  FROM fold f, s2 WHERE f.i = s2.m
)
SELECT n_queries, n_wins, n_losses, n_ties,
       CASE WHEN nn = 0 THEN 1.0
            WHEN nn <= 20 THEN least(1.0, round(2.0 * (SELECT v FROM tl)
                                                / pow(2.0, nn), 6))
            ELSE (SELECT v FROM plarge)
       END AS p_sign
FROM s2
"""


_EV2_SQL = _ev2_sql()


# ev4: the same three ranker chains; per-query integer diffs, the
# portable-hash Poisson(1) weights (identical double literals on both
# engines), integer per-replicate sums, discrete quantiles (note 41).
def _ev4_sql(n_probes: int = 20, n_replicates: int = 200) -> str:
    b = int(n_replicates)
    rep = lambda sql: sql.replace("vec_id < 20", f"vec_id < {n_probes}")  # noqa: E731
    u = (
        "(((xor(q_id >> 31, q_id) & 2147483647) * 211 + r) % 1000003)"
        " * 2654435761 % 1000003 / CAST(1000003 AS DOUBLE)"
    )
    w = (
        f"CASE WHEN {u} < {_POIS1_CDF[0]!r} THEN 0"
        + "".join(
            f" WHEN {u} < {c!r} THEN {i + 1}" for i, c in enumerate(_POIS1_CDF[1:])
        )
        + f" ELSE {len(_POIS1_CDF)} END"
    )
    return f"""
WITH pred_a AS (SELECT * FROM ({rep(_SIM4_SQL)})),
pred_b AS (SELECT * FROM ({rep(_QZ4_SQL)})),
truth AS (SELECT * FROM ({rep(_EV1_TRUTH_SQL)})),
tq AS (SELECT DISTINCT q_id FROM truth),
ha AS (SELECT p.q_id, count(*) AS h FROM pred_a p JOIN truth t
       USING (q_id, vec_id) WHERE p.rank <= 3 GROUP BY p.q_id),
hb AS (SELECT p.q_id, count(*) AS h FROM pred_b p JOIN truth t
       USING (q_id, vec_id) WHERE p.rank <= 3 GROUP BY p.q_id),
jj AS (SELECT tq.q_id, coalesce(ha.h, 0) AS h_a, coalesce(hb.h, 0) AS h_b
       FROM tq LEFT JOIN ha USING (q_id) LEFT JOIN hb USING (q_id)),
d AS (SELECT q_id, h_a - h_b AS d FROM jj),
qc AS (SELECT CAST(count(*) AS BIGINT) AS q,
              CAST(sum(d) AS BIGINT) AS sum_obs FROM d),
rep0 AS (
  SELECT r, ({w}) * d.d AS wd
  FROM d CROSS JOIN (SELECT unnest(generate_series(0, {b - 1})) AS r)
),
rp AS (SELECT r, CAST(sum(wd) AS BIGINT) AS sum_d FROM rep0 GROUP BY r),
ci AS (SELECT quantile_disc(sum_d, 0.025) AS lo,
              quantile_disc(sum_d, 0.975) AS hi FROM rp)
SELECT qc.q AS n_queries, CAST({b} AS BIGINT) AS n_replicates,
       round(sum_obs / qc.q, 6) AS mean_diff,
       round(ci.lo / qc.q, 6) AS ci_lo,
       round(ci.hi / qc.q, 6) AS ci_hi
FROM qc CROSS JOIN ci
"""

