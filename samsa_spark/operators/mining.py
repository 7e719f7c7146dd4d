"""Pattern-mining / graph-analytics / IR operators the reference engine has
no counterpart for (SURVEY.md §2.3 absence list — "iterative algorithms"
and the training-data extension surface):

- fp1  frequent co-purchase pairs with association-rule lift (apriori-pruned
  market-basket mining, the classic MLlib FPGrowth use case re-expressed as
  pure DataFrame algebra);
- pr1  weighted PageRank over the customer<->supplier purchase graph
  (fixed-iteration power method — the canonical *iterative* DataFrame
  algorithm beyond dd6's connected components);
- w2v1 skip-gram (center, context) training-pair extraction with unigram^0.75
  negative-sampling weights (the word2vec data-prep stage);
- ph1  exact phrase search over positional postings (the IR counterpart of
  bm1's bag-of-words ranking: term-filtered postings + consecutive-position
  equi-joins).

All four are SQL-expressible and carry exact DuckDB oracles.

Scale shapes:

- fp1 never self-joins the basket table: kept items are re-assembled into
  per-basket sorted arrays (basket size is bounded — TPC-H max 13 distinct
  parts) and pairs come from an in-task array comb2, so the only shuffles
  are the two keyed aggregates, both with map-side combine. The apriori
  item prune is a MEAN-RELATIVE frequency floor (integer-exact — CLAUDE.md
  note 29; see the function docstring for why it is mean-relative and not
  basket-fraction-relative here) applied before any pair exists.
- pr1 materializes the normalized edge list once (localCheckpoint — it
  feeds all five iterations, note 12) and broadcasts the rank vector into
  every iteration (node count ~ 1% of edge count here; at cluster scale the
  rank side stays broadcast-able far longer than the edge side is small).
  Each iteration is one map-side-combining aggregate over edges; dangling
  mass cannot exist because the graph is symmetrized.
- w2v1 enumerates contexts with an in-row array `get` per offset (no
  token self-join on the Spark side) and aggregates (center, context)
  counts with map-side combine; vocabulary-factorized output (note 29's
  bounded-cardinality argument: the corpus vocab, not the corpus, sizes
  the result).
- ph1 filters postings to the phrase's terms BEFORE any shuffle (a tiny
  fraction of corpus tokens) and chains (doc_id, pos) equi-joins — never a
  LIKE scan over full text at query time.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from samsa_spark import tables


# --------------------------------------------------------------------------
# fp1 — frequent co-purchase pairs + association-rule lift
# --------------------------------------------------------------------------

# Same cliff class as BROADCAST_MAX_NODES below (note 55): a (partkey,
# count) dim row is ~tens of bytes, so 2M items is a comfortably
# broadcastable few-hundred-MB worst case; above it the catalog has grown
# past what any executor should hold resident.
BROADCAST_MAX_ITEMS = 2_000_000


def _pair_supports(
    lineitem: DataFrame,
    avg_ratio_num: int,
    avg_ratio_den: int,
    broadcast_max_items: int | None = None,
) -> DataFrame:
    """Shared fp1/ar1 core: apriori-pruned frequent-pair supports
    ``(item_a, item_b, pair_count, count_a, count_b, nb)`` with
    ``item_a < item_b`` — see :func:`copurchase_rules` for the floor and
    plan rationale (this is its body up to the measure projection).

    The kept-item dim frame grows with the catalog (the mean-relative
    floor keeps a stable QUANTILE of items, not a constant), so its
    broadcast is SIZE-CONDITIONAL like pr1/lp1's node frames (note 55):
    broadcast while total distinct items <= ``broadcast_max_items``
    (default :data:`BROADCAST_MAX_ITEMS`; the total upper-bounds the kept
    subset and ``items`` is already materialized, so the probe is one
    cheap count), shuffle-hash build side above it."""
    if broadcast_max_items is None:
        broadcast_max_items = BROADCAST_MAX_ITEMS
    b = lineitem.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=True)
    nb = b.agg(F.countDistinct("l_orderkey").alias("nb"))
    items = (
        b.groupBy("l_partkey").agg(F.count("*").alias("c")).localCheckpoint(eager=True)
    )
    tot = items.agg(
        F.count("*").alias("n_items"), F.sum("c").cast("bigint").alias("occ")
    )
    small = (
        broadcast_max_items > 0 and items.count() <= broadcast_max_items
    )
    keep = (
        items.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nb))
        .where(
            F.lit(avg_ratio_den) * F.col("c") * F.col("n_items")
            >= F.lit(avg_ratio_num) * F.col("occ")
        )
        .select("l_partkey", "c", "nb")
    )
    kb = b.join(_node_side(keep.select("l_partkey"), small), "l_partkey", "left_semi")
    baskets = kb.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    # comb2 inside the task: slice(items, i+2, ...) is every element after
    # position i (transform's i is 0-based, slice start is 1-based).
    pair_structs = F.flatten(
        F.expr(
            "transform(items, (x, i) -> "
            "transform(slice(items, i + 2, size(items)), y -> struct(x AS item_a, y AS item_b)))"
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count("*").alias("pair_count"))
    )
    dim = keep.select(
        F.col("l_partkey"), F.col("c").cast("bigint").alias("cnt"), F.col("nb")
    )
    return (
        pairs.join(
            _node_side(dim.select(F.col("l_partkey").alias("item_a"), F.col("cnt").alias("count_a"), "nb"), small),
            "item_a",
        )
        .join(
            _node_side(dim.select(F.col("l_partkey").alias("item_b"), F.col("cnt").alias("count_b")), small),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            F.col("pair_count").cast("bigint").alias("pair_count"),
            "count_a",
            "count_b",
            "nb",
        )
    )


def copurchase_rules(
    lineitem: DataFrame,
    avg_ratio_num: int = 6,
    avg_ratio_den: int = 5,
    top_n: int = 50,
    broadcast_max_items: int | None = None,
) -> DataFrame:
    """fp1 — apriori-pruned frequent-pair mining over order baskets with
    association-rule lift: ``(item_a, item_b, pair_count, count_a, count_b,
    lift)``, the ``top_n`` most frequent pairs (ties broken by item ids).

    A basket is an order's DISTINCT part set. Items below the MEAN-relative
    frequency floor — keep iff ``den * cnt * n_items >= num * total_item
    occurrences`` (i.e. cnt >= (num/den) x the average item frequency,
    integer-exact per the note-29 discipline) — are pruned BEFORE pair
    generation: the apriori step that makes pair mining feasible at scale,
    since pairs of infrequent items can never be frequent. The floor is
    mean-relative rather than basket-count-relative because the item
    UNIVERSE grows with the data here (TPC-H parts scale with sf): a fixed
    fraction-of-baskets support goes degenerate as the catalog widens (the
    first fp1 cut returned 0 rows at sf0.1 exactly that way), while the
    over-the-mean band keeps a stable quantile of items at every scale.
    Kept items are grouped back into per-basket sorted arrays and pairs
    come from an in-task comb2 over each array (bounded by basket size),
    then one combining aggregate counts pair support.

    ``lift = n_baskets * pair_count / (count_a * count_b)`` — > 1 means the
    items co-occur more than independence predicts. Evaluated in the exact
    double-op order the oracle uses, rounded to 6 dp (note 6).

    (Plan notes for the shared core live on :func:`_pair_supports`: b feeds
    three branches and items two more — Spark gives no ReusedExchange
    across aggregate branches (note 12), so both materialize once; b is
    (order, part) pairs — a few MB at gate scales, and at cluster scale a
    persisted frame you'd cache anyway.)
    """
    out = _pair_supports(
        lineitem, avg_ratio_num, avg_ratio_den, broadcast_max_items
    ).select(
        "item_a",
        "item_b",
        "pair_count",
        "count_a",
        "count_b",
        # exact left-to-right double-op order replicated in the oracle
        F.round(
            F.col("nb").cast("double") * F.col("pair_count") / F.col("count_a") / F.col("count_b"),
            6,
        ).alias("lift"),
    )
    return out.orderBy(F.desc("pair_count"), "item_a", "item_b").limit(top_n)


def association_rules(
    lineitem: DataFrame,
    avg_ratio_num: int = 6,
    avg_ratio_den: int = 5,
    top_n: int = 50,
    broadcast_max_items: int | None = None,
) -> DataFrame:
    """ar1 — DIRECTED association rules over fp1's frequent pairs:
    ``(antecedent, consequent, pair_count, confidence, lift, conviction)``,
    the ``top_n`` rules by confidence (ties -> smallest antecedent, then
    consequent). Each undirected pair yields both orientations;

    - ``confidence = pair_count / count(antecedent)`` — P(cons | ante);
    - ``lift`` as in fp1 (symmetric);
    - ``conviction = (1 - supp(cons)) / (1 - confidence)`` — how much more
      often the antecedent appears WITHOUT the consequent under
      independence than observed; NULL for confidence = 1 rules (note 53:
      a zero denominator throws under ANSI — guarded, and the oracle
      CASEs the same way).

    All measures are computed from exact BIGINT supports in a fixed
    left-to-right double-op order and rounded to 6 dp BEFORE the
    confidence ranking (note 6 discipline), so the top-n cut is
    boundary-stable cross-engine. Scale shape = fp1's (the pair table is
    the apriori-pruned aggregate; directionalizing doubles rule rows,
    never touches the corpus again)."""
    sup = _pair_supports(lineitem, avg_ratio_num, avg_ratio_den, broadcast_max_items)
    fwd = sup.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_count",
        F.col("count_a").alias("count_ante"),
        F.col("count_b").alias("count_cons"),
        "nb",
    )
    rev = sup.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        "pair_count",
        F.col("count_b").alias("count_ante"),
        F.col("count_a").alias("count_cons"),
        "nb",
    )
    rules = fwd.unionByName(rev)
    conf = F.col("pair_count").cast("double") / F.col("count_ante")
    conviction = (
        F.lit(1.0) - F.col("count_cons").cast("double") / F.col("nb")
    ) / (F.lit(1.0) - conf)
    out = rules.select(
        "antecedent",
        "consequent",
        "pair_count",
        F.round(conf, 6).alias("confidence"),
        F.round(
            F.col("nb").cast("double") * F.col("pair_count") / F.col("count_ante") / F.col("count_cons"),
            6,
        ).alias("lift"),
        F.when(F.col("pair_count") < F.col("count_ante"), F.round(conviction, 6)).alias(
            "conviction"
        ),
    )
    return out.orderBy(F.desc("confidence"), "antecedent", "consequent").limit(top_n)


_AR1_SQL = """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM b),
items AS (SELECT l_partkey, count(*) AS c FROM b GROUP BY l_partkey),
tot AS (SELECT count(*) AS n_items, CAST(sum(c) AS BIGINT) AS occ FROM items),
keep AS (SELECT l_partkey, c FROM items, tot WHERE 5 * c * n_items >= 6 * occ),
kb AS (SELECT b.l_orderkey, b.l_partkey FROM b JOIN keep USING (l_partkey)),
pairs AS (
  SELECT x.l_partkey AS item_a, y.l_partkey AS item_b, count(*) AS pc
  FROM kb x JOIN kb y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2),
sup AS (
  SELECT item_a, item_b, CAST(pc AS BIGINT) AS pair_count,
         CAST(ka.c AS BIGINT) AS count_a, CAST(kb2.c AS BIGINT) AS count_b,
         (SELECT nb FROM n) AS nb
  FROM pairs
  JOIN keep ka ON ka.l_partkey = item_a
  JOIN keep kb2 ON kb2.l_partkey = item_b),
rules AS (
  SELECT item_a AS antecedent, item_b AS consequent, pair_count,
         count_a AS count_ante, count_b AS count_cons, nb FROM sup
  UNION ALL
  SELECT item_b, item_a, pair_count, count_b, count_a, nb FROM sup)
SELECT antecedent, consequent, pair_count,
       round(CAST(pair_count AS DOUBLE) / count_ante, 6) AS confidence,
       round(CAST(nb AS DOUBLE) * pair_count / count_ante / count_cons, 6) AS lift,
       CASE WHEN pair_count < count_ante
            THEN round((1.0 - CAST(count_cons AS DOUBLE) / nb)
                       / (1.0 - CAST(pair_count AS DOUBLE) / count_ante), 6)
       END AS conviction
FROM rules
ORDER BY confidence DESC, antecedent, consequent
LIMIT 50
"""


_FP1_SQL = """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM b),
items AS (SELECT l_partkey, count(*) AS c FROM b GROUP BY l_partkey),
tot AS (SELECT count(*) AS n_items, CAST(sum(c) AS BIGINT) AS occ FROM items),
keep AS (SELECT l_partkey, c FROM items, tot WHERE 5 * c * n_items >= 6 * occ),
kb AS (SELECT b.l_orderkey, b.l_partkey FROM b JOIN keep USING (l_partkey)),
pairs AS (
  SELECT x.l_partkey AS item_a, y.l_partkey AS item_b, count(*) AS pc
  FROM kb x JOIN kb y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2)
SELECT item_a, item_b, CAST(pc AS BIGINT) AS pair_count,
       CAST(ka.c AS BIGINT) AS count_a, CAST(kb2.c AS BIGINT) AS count_b,
       round(CAST((SELECT nb FROM n) AS DOUBLE) * pc / CAST(ka.c AS BIGINT) / CAST(kb2.c AS BIGINT), 6) AS lift
FROM pairs
JOIN keep ka ON ka.l_partkey = item_a
JOIN keep kb2 ON kb2.l_partkey = item_b
ORDER BY pair_count DESC, item_a, item_b
LIMIT 50
"""


# --------------------------------------------------------------------------
# shared purchase-graph build (pr1 / lp1)
# --------------------------------------------------------------------------

def _purchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Symmetrized weighted customer<->supplier purchase graph as
    ``(src, dst, w)`` with BIGINT node ids (customer -> 2k, supplier ->
    2k+1; weight = lineitem count between the pair). The aggregated edge
    frame is localCheckpoint-ed — every consumer fans it into several
    branches/iterations (note 12)."""
    li = lineitem.select("l_orderkey", "l_suppkey")
    od = orders.select("o_orderkey", "o_custkey")
    e0 = (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count("*").alias("w"))
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
            "w",
        )
        .localCheckpoint(eager=True)
    )
    return e0.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"), "w").unionByName(
        e0.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"), "w")
    )


def _node_label(col: str = "node") -> F.Column:
    """Readable 'c:<custkey>' / 's:<suppkey>' label for a BIGINT node id."""
    return F.when(
        F.col(col) % 2 == 0, F.concat(F.lit("c:"), F.expr(f"CAST({col} DIV 2 AS STRING)"))
    ).otherwise(F.concat(F.lit("s:"), F.expr(f"CAST(({col} - 1) DIV 2 AS STRING)")))


# --------------------------------------------------------------------------
# pr1 — weighted PageRank over the customer<->supplier purchase graph
# --------------------------------------------------------------------------

# Node-cardinality frames (rank vector, outweights, LPA labels) are broadcast
# into the per-iteration edge join only below this node count. ~2M nodes x
# ~24 B/row ≈ 50 MB built + shipped per broadcast — comfortably inside
# executor heaps; past it the node universe GROWS with the data (customers +
# suppliers scale with sf), so a forced broadcast is an OOM cliff at 100x and
# the join must fall back to a co-partitioned shuffle. The fallback hints
# shuffle_hash with the node frame as build side: node rows are ~1% of edge
# rows here, and a hash join skips the sort a merge join would impose on the
# edge side every iteration.
BROADCAST_MAX_NODES = 2_000_000

# Size-conditional DRIVER fast path for the fixed-iteration graph loops
# (note 59 / the dedup DRIVER_CC_MAX_NODES pattern): at or below these
# bounds the whole power/label iteration runs as numpy on the collected
# edge list — the distributed loop pays ~0.7 s of fixed stage overhead PER
# ITERATION (checkpoint-scan + join + combining aggregate [+ window])
# regardless of graph size, which dominates wall time at gate scale
# (pr1: 16k nodes / 1.17M edge rows, iterations ≈ 4 s of a 6 s floor).
# Above either cap the r13 broadcast/shuffle regimes run unchanged — node
# AND edge cardinality grow with the data, so a 100 TB graph never lands
# on the driver. 4M edge rows x 24 B ≈ 100 MB of Arrow-transferred
# columns: safe inside the external driver's vanilla 1 GiB heap (note 48).
DRIVER_GRAPH_MAX_NODES = 200_000
DRIVER_GRAPH_MAX_EDGE_ROWS = 4_000_000


def _node_side(df: DataFrame, small: bool) -> DataFrame:
    """The node-cardinality side of a per-iteration edge join: broadcast in
    the small regime, shuffle-hash build side in the big one."""
    return F.broadcast(df) if small else df.hint("shuffle_hash")


def _round6_half_up(x: float) -> float:
    """Replica of Spark's ``round(double, 6)``: HALF_UP on the double's
    shortest decimal form, which is what Scala's ``BigDecimal(d)`` takes
    (``Double.toString``), not its exact binary value, so 0.1234565 rounds
    up to 0.123457 although the double lies just below the half."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _label_py(node: int) -> str:
    """Python twin of :func:`_node_label`."""
    return f"c:{node // 2}" if node % 2 == 0 else f"s:{(node - 1) // 2}"


def _driver_pagerank(spark, e: DataFrame, n: int, iterations: int, damping: float):
    """The pr1 power iteration on the driver: same per-edge share division,
    same per-iteration update formula, numpy accumulation order instead of
    partition order for the per-node sums (ranks round at 6 dp, and the
    r15 parity check found the outputs identical to the distributed loop at
    all three test scales)."""
    import numpy as np

    pdf = tables.arrow_to_pandas(e)
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    w = pdf["w"].to_numpy(np.float64)
    nodes = np.unique(dst)  # == unique src: the graph is symmetrized
    sidx = np.searchsorted(nodes, src)
    didx = np.searchsorted(nodes, dst)
    ow = np.zeros(len(nodes))
    np.add.at(ow, sidx, w)
    share = w / ow[sidx]
    r = np.full(len(nodes), 1.0 / n)
    for _ in range(iterations):
        s = np.zeros(len(nodes))
        np.add.at(s, didx, r[sidx] * share)
        r = (1.0 - damping) / n + damping * s
    rows = sorted(
        ((_label_py(int(v)), _round6_half_up(float(rk))) for v, rk in zip(nodes, r)),
        key=lambda t: (-t[1], t[0]),
    )
    return tables.local_rows(spark, rows, "node string, rank double")


def _driver_lpa(spark, e: DataFrame, iterations: int):
    """The lp1 synchronous label propagation on the driver: all-integer
    (edge weights are counts), so the per-iteration argmax is EXACTLY the
    distributed window's (sum(w) DESC, label ASC) top-1 — no float order
    sensitivity at all."""
    import numpy as np

    pdf = tables.arrow_to_pandas(e)
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    w = pdf["w"].to_numpy(np.int64)
    nodes = np.unique(dst)
    nn = len(nodes)
    sidx = np.searchsorted(nodes, src)
    didx = np.searchsorted(nodes, dst)
    # label of node i is nodes[labidx[i]]; label VALUE order == label index
    # order because nodes is sorted ascending
    labidx = np.arange(nn, dtype=np.int64)
    for _ in range(iterations):
        key = didx * nn + labidx[sidx]
        uk, inv = np.unique(key, return_inverse=True)
        m = np.zeros(len(uk), np.int64)
        np.add.at(m, inv, w)
        d = uk // nn
        lb = uk % nn
        order = np.lexsort((lb, -m, d))  # by dst, then m DESC, then label ASC
        sd = d[order]
        first = np.ones(len(sd), bool)
        first[1:] = sd[1:] != sd[:-1]
        sel = order[first]
        # every node is a dst (symmetric graph), so this is a full update
        labidx = labidx.copy()
        labidx[d[sel]] = lb[sel]
    sizes = np.zeros(nn, np.int64)
    np.add.at(sizes, labidx, 1)
    rows = sorted(
        (
            (_label_py(int(nodes[i])), _label_py(int(nodes[labidx[i]])), int(sizes[labidx[i]]))
            for i in range(nn)
        ),
        key=lambda t: t[0],
    )
    return tables.local_rows(
        spark, rows, "node string, community string, community_size bigint"
    )


def pagerank(
    orders: DataFrame,
    lineitem: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    broadcast_max_nodes: int | None = BROADCAST_MAX_NODES,
    driver_max_nodes: int | None = None,
) -> DataFrame:
    """pr1 — weighted PageRank, fixed-iteration power method:
    ``(node, rank)`` over the symmetrized customer<->supplier purchase
    graph (edge weight = lineitem count between the pair; nodes are
    ``c:<custkey>`` / ``s:<suppkey>``).

    Symmetrizing removes dangling nodes by construction (every node's
    in-set equals its out-set), so the update is exactly

        r'(v) = (1 - d)/N + d * sum_in r(u) * w(u,v)/outw(u)

    from a uniform start. The normalized edge list is localCheckpoint-ed
    once (it feeds every iteration — note 12). The rank vector joins the
    edge list SIZE-CONDITIONALLY (``broadcast_max_nodes``, None = never
    broadcast): nodes grow with the data, so the broadcast that wins at
    gate scale is an OOM cliff at 100x — above the threshold the edge list
    is repartitioned on ``src`` once (localCheckpoint preserves the
    partitioning, so no edge-side shuffle recurs per iteration) and each
    iteration shuffles only the rank vector. Either regime: one combining
    aggregate per iteration. Ranks are rounded to 6 dp only at the end
    (note 6); the oracle unrolls the same iterations as CTEs with the
    identical double-op order.
    """
    # Internal node ids stay BIGINT (customer -> 2k, supplier -> 2k+1): the
    # per-iteration joins and aggregates run on longs, and the readable
    # 'c:<k>' / 's:<k>' label is minted only in the final projection.
    e = _purchase_edges(orders, lineitem)
    n = e.select("dst").distinct().count()
    if driver_max_nodes is None:
        driver_max_nodes = DRIVER_GRAPH_MAX_NODES
    # Driver fast path (note 59; 0 disables): the fixed-iteration power
    # method at or below the node/edge caps runs as numpy on the collected
    # edge list — a dozen per-iteration stages fewer; above either cap the
    # size-conditional broadcast/shuffle regimes below run unchanged.
    if (
        driver_max_nodes > 0
        and n <= driver_max_nodes
        and e.count() <= DRIVER_GRAPH_MAX_EDGE_ROWS
    ):
        return _driver_pagerank(orders.sparkSession, e, n, iterations, damping)
    small = broadcast_max_nodes is not None and n <= broadcast_max_nodes
    # outw is node-cardinality — same regime rule as the rank vector.
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    esh = e.join(_node_side(outw, small), "src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("ow").cast("double")).alias("share")
    )
    if not small:
        esh = esh.repartition("src")
    esh = esh.localCheckpoint(eager=True)
    r = esh.select("dst").distinct().select(F.col("dst").alias("node"), F.lit(1.0 / n).alias("r"))
    for _ in range(iterations):
        contrib = (
            esh.join(_node_side(r, small), esh.src == r.node)
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("share")).alias("s"))
        )
        r = contrib.select(
            F.col("dst").alias("node"),
            (F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("s")).alias("r"),
        )
    return (
        r.select(_node_label().alias("node"), F.round("r", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
    )


def _pr1_sql(iterations: int = 5) -> str:
    head = """
WITH e0 AS (
  SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
         's:' || CAST(l_suppkey AS VARCHAR) AS dst, count(*) AS w
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
e AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
o AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
esh AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS share
        FROM e JOIN o ON o.src = e.src),
nd AS (SELECT DISTINCT dst AS node FROM esh),
n AS (SELECT count(*) AS cnt FROM nd),
r0 AS (SELECT node, 1.0 / (SELECT cnt FROM n) AS r FROM nd)"""
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f""",
s{i} AS (SELECT esh.dst AS node, sum(r{i-1}.r * esh.share) AS s
        FROM esh JOIN r{i-1} ON r{i-1}.node = esh.src GROUP BY esh.dst),
r{i} AS (SELECT node, 0.15 / (SELECT cnt FROM n) + 0.85 * s AS r FROM s{i})"""
        )
    tail = f"""
SELECT node, round(r, 6) AS rank FROM r{iterations}
ORDER BY rank DESC, node
"""
    return head + "".join(iters) + tail


_PR1_SQL = _pr1_sql()


# --------------------------------------------------------------------------
# lp1 — synchronous label propagation (community detection)
# --------------------------------------------------------------------------

def label_propagation(
    orders: DataFrame,
    lineitem: DataFrame,
    iterations: int = 3,
    broadcast_max_nodes: int | None = BROADCAST_MAX_NODES,
    driver_max_nodes: int | None = None,
) -> DataFrame:
    """lp1 — synchronous weighted label propagation over the purchase
    graph: ``(node, community, community_size)``. Every node starts as its
    own community; each iteration it adopts the label with the greatest
    incident edge weight (ties -> smallest label — the deterministic LPA
    variant), all nodes updating simultaneously.

    Unlike pr1 the whole computation is INTEGER: edge weights are counts,
    the argmax is a row_number over (sum(w) DESC, label ASC), so the
    oracle parity is exact with no rounding discipline needed. Per
    iteration: one join of the node-cardinality label frame into the edge
    list — broadcast only under ``broadcast_max_nodes`` (nodes grow with
    the data; see pr1 — above the threshold the edge list is repartitioned
    on ``src`` once and each iteration shuffles only the label frame) —
    then one combining (dst, label) aggregate and one per-dst top-1
    window (WindowGroupLimit caps buffering at 1 — note 37's bounded-scan
    argument). Fixed iteration count, synchronous updates — the only LPA
    form that is deterministic enough to sit behind an exact oracle.
    """
    e = _purchase_edges(orders, lineitem)
    labels = e.select("dst").distinct().select(
        F.col("dst").alias("node"), F.col("dst").alias("label")
    )
    n = labels.count()
    if driver_max_nodes is None:
        driver_max_nodes = DRIVER_GRAPH_MAX_NODES
    # Driver fast path (note 59; 0 disables) — all-integer, so EXACTLY the
    # distributed window's top-1; see _driver_lpa.
    if (
        driver_max_nodes > 0
        and n <= driver_max_nodes
        and e.count() <= DRIVER_GRAPH_MAX_EDGE_ROWS
    ):
        return _driver_lpa(orders.sparkSession, e, iterations)
    small = broadcast_max_nodes is not None and n <= broadcast_max_nodes
    if not small:
        e = e.repartition("src").localCheckpoint(eager=True)
    from pyspark.sql import Window

    for _ in range(iterations):
        mass = (
            e.join(_node_side(labels, small), e.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("m"))
        )
        top = Window.partitionBy("dst").orderBy(F.desc("m"), F.asc("label"))
        labels = (
            mass.withColumn("rn", F.row_number().over(top))
            .where(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), "label")
        )
    sized = labels.withColumn(
        "community_size", F.count("*").over(Window.partitionBy("label")).cast("bigint")
    )
    return sized.select(
        _node_label("node").alias("node"),
        _node_label("label").alias("community"),
        "community_size",
    ).orderBy("node")


def _lp1_sql(iterations: int = 3) -> str:
    head = """
WITH e0 AS (
  SELECT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode, count(*) AS w
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
e AS (SELECT cnode AS src, snode AS dst, w FROM e0
      UNION ALL SELECT snode AS src, cnode AS dst, w FROM e0),
l0 AS (SELECT DISTINCT dst AS node, dst AS label FROM e)"""
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f""",
g{i} AS (SELECT e.dst, l.label, sum(e.w) AS m
        FROM e JOIN l{i-1} l ON l.node = e.src GROUP BY e.dst, l.label),
l{i} AS (SELECT dst AS node, label FROM (
          SELECT dst, label, row_number() OVER (PARTITION BY dst ORDER BY m DESC, label) AS rn
          FROM g{i}) WHERE rn = 1)"""
        )
    tail = f""",
sized AS (SELECT node, label, count(*) OVER (PARTITION BY label) AS community_size FROM l{iterations})
SELECT CASE WHEN node % 2 = 0 THEN 'c:' || CAST(node // 2 AS VARCHAR)
            ELSE 's:' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
       CASE WHEN label % 2 = 0 THEN 'c:' || CAST(label // 2 AS VARCHAR)
            ELSE 's:' || CAST((label - 1) // 2 AS VARCHAR) END AS community,
       CAST(community_size AS BIGINT) AS community_size
FROM sized ORDER BY node
"""
    return head + "".join(iters) + tail


_LP1_SQL = _lp1_sql()


# --------------------------------------------------------------------------
# w2v1 — skip-gram training pairs with negative-sampling weights
# --------------------------------------------------------------------------

def skipgram_pairs(documents: DataFrame, window: int = 2, top_n: int = 100) -> DataFrame:
    """w2v1 — word2vec data prep: ``(center, context, pair_count,
    ctx_ns_weight)``, the ``top_n`` most frequent skip-gram pairs with the
    context token's unigram^0.75 negative-sampling weight.

    Contexts are enumerated in-row (``get(toks, pos + off)`` for
    ``off in ±1..±window`` — 0-based, null out of range, never a token
    self-join), then one combining aggregate counts pairs.

    The ^0.75 is computed as ``sqrt(sqrt(c^3))`` — sqrt is correctly
    rounded under IEEE 754 on both engines, unlike ``pow`` which may
    differ in the last ulp; c^3 stays double-exact for any plausible
    corpus vocabulary count (< 2^17.6 would be needed to overflow 2^53
    only past 200k occurrences^3 — the triple product here is formed in
    doubles from counts far below that bound at gate scales).
    """
    d = documents.select("doc_id", F.split("text", " ").alias("toks"))
    ex = d.select(F.posexplode("toks").alias("pos", "center"), "toks")
    offs = [o for o in range(-window, window + 1) if o != 0]
    ctx = F.array(*[F.get("toks", F.col("pos") + o) for o in offs])
    pairs = (
        ex.select("center", F.explode(ctx).alias("context"))
        .where(F.col("context").isNotNull())
        .groupBy("center", "context")
        .agg(F.count("*").alias("pair_count"))
    )
    vocab = ex.groupBy("center").agg(F.count("*").alias("c"))
    pw = vocab.select(
        F.col("center").alias("tok"),
        F.sqrt(F.sqrt(F.col("c").cast("double") * F.col("c") * F.col("c"))).alias("p"),
    )
    z = pw.agg(F.sum("p").alias("z"))
    w = pw.crossJoin(F.broadcast(z)).select(
        "tok", F.round(F.col("p") / F.col("z"), 6).alias("ctx_ns_weight")
    )
    out = pairs.join(F.broadcast(w), pairs.context == w.tok).select(
        "center",
        "context",
        F.col("pair_count").cast("bigint").alias("pair_count"),
        "ctx_ns_weight",
    )
    return out.orderBy(F.desc("pair_count"), "center", "context").limit(top_n)


_W2V1_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
u AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toks),
off(o) AS (VALUES (-2), (-1), (1), (2)),
cand AS (SELECT u.doc_id, u.tok AS center, u.pos + off.o AS cpos FROM u, off),
pairs AS (
  SELECT cand.center, b.tok AS context, count(*) AS pc
  FROM cand JOIN u b ON b.doc_id = cand.doc_id AND b.pos = cand.cpos
  GROUP BY 1, 2),
vocab AS (SELECT tok, count(*) AS c FROM u GROUP BY tok),
pw AS (SELECT tok, sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) AS p FROM vocab),
z AS (SELECT sum(p) AS z FROM pw)
SELECT center, context, CAST(pc AS BIGINT) AS pair_count,
       round(pw.p / (SELECT z FROM z), 6) AS ctx_ns_weight
FROM pairs JOIN pw ON pw.tok = context
ORDER BY pair_count DESC, center, context
LIMIT 100
"""


# --------------------------------------------------------------------------
# gw1 — DeepWalk-style deterministic random-walk corpus (graph-embedding prep)
# --------------------------------------------------------------------------

def deepwalk_corpus(
    orders: DataFrame,
    lineitem: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 2,
) -> DataFrame:
    """gw1 — the DeepWalk/node2vec data-prep stage (Perozzi et al. 2014):
    ``walks_per_node`` fixed-length walks from every node of the purchase
    graph, as ``(start, walk_id, walk)`` with the walk an array of node
    labels. The emitted corpus is exactly what w2v1's skip-gram extractor
    consumes — sentence = walk.

    Walks are DETERMINISTIC (so a DuckDB twin replays them step by step):
    the next hop from ``cur`` at ``step`` in walk ``wid`` is
    ``nbrs[((cur * 2654435761 + wid * 40503 + step * 104729) & 2^31-1)
    % |nbrs|]`` over the SORTED distinct neighbor array — integer
    arithmetic masked below any overflow (note 2), no RNG state.

    Scale shape: the frontier is nodes x walks_per_node rows for the whole
    run (never edge-shaped); each of the ``walk_len`` steps is one
    equi-join against the adjacency frame, whose payload is the edge list
    packed per node (tc1's bound: the array rides the join instead of a
    row per neighbor). At cluster scale both sides hash-partition on the
    node key; nothing here is quadratic.
    """
    e = _purchase_edges(orders, lineitem)
    # adjacency feeds every step's join (note 12) — and the checkpoint's
    # fresh lineage keeps the repeated self-referencing joins unambiguous
    adj = (
        e.groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    walks = F.array(*[F.lit(w) for w in range(walks_per_node)])
    cur = adj.select(F.col("src").alias("start")).select(
        "start",
        F.explode(walks).alias("wid"),
        F.col("start").alias("cur"),
        F.array(F.col("start")).alias("path"),
    )
    for step in range(walk_len):
        idx = (
            (F.col("cur") * 2654435761 + F.col("wid") * 40503 + F.lit(step) * 104729)
            .bitwiseAND(F.lit(2147483647))
            % F.size("nbrs")
        )
        cur = (
            cur.join(adj, cur.cur == adj.src)
            .select(
                "start",
                "wid",
                F.get("nbrs", idx.cast("int")).alias("nxt"),
                F.concat("path", F.array(F.get("nbrs", idx.cast("int")))).alias("path"),
            )
            .select("start", "wid", F.col("nxt").alias("cur"), "path")
        )
    # the walk is emitted as the space-joined "sentence" (exactly what a
    # word2vec trainer or w2v1 consumes), which also keeps every output
    # column scalar for the driver's value-hash
    lbl = "CASE WHEN x % 2 = 0 THEN 'c:' || CAST(x DIV 2 AS STRING) ELSE 's:' || CAST((x - 1) DIV 2 AS STRING) END"
    return cur.select(
        _node_label("start").alias("start"),
        F.col("wid").cast("bigint").alias("walk_id"),
        F.expr(f"array_join(transform(path, x -> {lbl}), ' ')").alias("walk"),
    ).orderBy("start", "walk_id")


def _gw1_sql(walk_len: int = 4, walks_per_node: int = 2) -> str:
    head = f"""
WITH e0 AS (
  SELECT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
e AS (SELECT cnode AS src, snode AS dst FROM e0
      UNION ALL SELECT snode AS src, cnode AS dst FROM e0),
adj AS (SELECT src, list_sort(list(DISTINCT dst)) AS nbrs FROM e GROUP BY src),
wid(wid) AS (VALUES {", ".join(f"({w})" for w in range(walks_per_node))}),
s0 AS (SELECT src AS start, wid, src AS cur, [src] AS path FROM adj, wid)"""
    steps = []
    for i in range(walk_len):
        steps.append(
            f""",
s{i+1} AS (
  SELECT start, wid,
         nbrs[CAST(((cur * 2654435761 + wid * 40503 + {i} * 104729) & 2147483647)
              % len(nbrs) AS BIGINT) + 1] AS cur,
         list_append(path,
           nbrs[CAST(((cur * 2654435761 + wid * 40503 + {i} * 104729) & 2147483647)
                % len(nbrs) AS BIGINT) + 1]) AS path
  FROM s{i} JOIN adj ON adj.src = s{i}.cur)"""
        )
    tail = f"""
SELECT CASE WHEN start % 2 = 0 THEN 'c:' || CAST(start // 2 AS VARCHAR)
            ELSE 's:' || CAST((start - 1) // 2 AS VARCHAR) END AS start,
       CAST(wid AS BIGINT) AS walk_id,
       array_to_string(list_transform(path, x -> CASE WHEN x % 2 = 0 THEN 'c:' || CAST(x // 2 AS VARCHAR)
                                      ELSE 's:' || CAST((x - 1) // 2 AS VARCHAR) END), ' ') AS walk
FROM s{walk_len}
ORDER BY start, walk_id
"""
    return head + "".join(steps) + tail


_GW1_SQL = _gw1_sql()


# --------------------------------------------------------------------------
# tc1 — degree-oriented triangle census of the co-purchase graph
# --------------------------------------------------------------------------

def triangle_stats(lineitem: DataFrame) -> DataFrame:
    r"""tc1 — global triangle census of the part co-purchase graph (edge =
    two parts sharing a basket): one row ``(n_nodes, n_edges, n_wedges,
    n_triangles, global_clustering)`` with ``global_clustering =
    3 * triangles / wedges`` (transitivity).

    Scale shape: the ONLY known-safe distributed triangle plan — orient
    every edge from its lower (degree, id) endpoint to the higher, so each
    triangle is counted exactly once (from the edge between its two
    lowest corners) and per-node work is bounded by the ORIENTED
    out-degree (<= ~sqrt(2m) by construction; hub nodes never enumerate
    their neighbor pairs). The count is the EDGE-ITERATOR form: per
    oriented edge (u, v), |N_out(u) /\ N_out(v)| via array_intersect of
    the sorted out-adjacency arrays — the O(sum odeg^2) work rides INSIDE
    array payloads instead of materializing one row per wedge (the first
    cut's wedge join shipped 41M rows at sf0.1 and 410M at 10x, where it
    spilled past the 32-partition layout and went 2x superlinear;
    measured in PLANS.md). Edges and the oriented list are each
    materialized once (note 12). All-integer except the final
    transitivity ratio (round 6, note 6).
    """
    b = lineitem.select("l_orderkey", "l_partkey").distinct()
    baskets = b.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    pair_structs = F.flatten(
        F.expr(
            "transform(items, (x, i) -> "
            "transform(slice(items, i + 2, size(items)), y -> struct(x AS a, y AS c)))"
        )
    )
    e = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.c").alias("c"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("c").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    da = F.broadcast(deg.select(F.col("n").alias("a"), F.col("deg").alias("dega")))
    dc = F.broadcast(deg.select(F.col("n").alias("c"), F.col("deg").alias("degc")))
    ed = e.join(da, "a").join(dc, "c")
    ka = F.struct(F.col("dega").alias("d"), F.col("a").alias("n"))
    kc = F.struct(F.col("degc").alias("d"), F.col("c").alias("n"))
    o = (
        ed.select(
            F.when(ka < kc, F.col("a")).otherwise(F.col("c")).alias("src"),
            F.when(ka < kc, F.col("c")).otherwise(F.col("a")).alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    adj = o.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    au = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv"))
    ev = o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    # a sink v (no out-edges) is dropped by the inner join — it cannot
    # close a triangle from this edge anyway
    tri = (
        ev.join(au, "u")
        .join(av, "v")
        .select(F.size(F.array_intersect("nu", "nv")).alias("t"))
        .agg(F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_triangles"))
    )
    stats = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        # coalesce: sum over an edge-free graph's empty degree table is NULL
        F.coalesce(F.sum(F.expr("deg * (deg - 1) DIV 2")), F.lit(0))
        .cast("bigint")
        .alias("n_wedges"),
    )
    ecnt = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # explicit wedge-free guard: ANSI Spark raises divideByZero here
            # (a transitivity of a wedge-free graph is undefined anyway)
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    (F.col("n_triangles") * 3).cast("double")
                    / F.col("n_wedges").cast("double"),
                    6,
                ),
            ).alias("global_clustering"),
        )
    )


_TC1_SQL = """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS c
      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
d AS (SELECT n, count(*) AS deg
      FROM (SELECT a AS n FROM e UNION ALL SELECT c FROM e) GROUP BY n),
o AS (SELECT CASE WHEN (da.deg, e.a) < (dc.deg, e.c) THEN e.a ELSE e.c END AS src,
             CASE WHEN (da.deg, e.a) < (dc.deg, e.c) THEN e.c ELSE e.a END AS dst,
             CASE WHEN (da.deg, e.a) < (dc.deg, e.c) THEN dc.deg ELSE da.deg END AS ddeg
      FROM e JOIN d da ON da.n = e.a JOIN d dc ON dc.n = e.c),
w AS (SELECT o1.dst AS u, o2.dst AS v
      FROM o o1 JOIN o o2 ON o1.src = o2.src
      WHERE (o1.ddeg, o1.dst) < (o2.ddeg, o2.dst)),
t AS (SELECT count(*) AS n_triangles FROM w JOIN o ON o.src = w.u AND o.dst = w.v),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(coalesce(sum(CAST(deg AS BIGINT) * (deg - 1) // 2), 0) AS BIGINT) AS n_wedges
      FROM d),
ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT s.n_nodes, ec.n_edges, s.n_wedges,
       CAST(t.n_triangles AS BIGINT) AS n_triangles,
       round(CAST(t.n_triangles * 3 AS DOUBLE) / CAST(s.n_wedges AS DOUBLE), 6) AS global_clustering
FROM s, ec, t
"""


# --------------------------------------------------------------------------
# sq1 — sequential-pattern support on first occurrences (adoption order)
# --------------------------------------------------------------------------

def adoption_order_support(events: DataFrame) -> DataFrame:
    """sq1 — sequential pattern mining, the 2-element funnel form: for every
    ordered event-type pair (a, b), the number of users whose FIRST ``a``
    precedes their FIRST ``b`` — ``(type_a, type_b, support,
    support_frac)``. The order-of-adoption statistic (AprioriAll/SPADE's
    length-2 sequence support, restricted to first occurrences so a user
    counts once per pattern).

    Scale shape: first occurrences are one map-side-combining (user, type)
    aggregate; the pattern join is per-user with at most |event types| rows
    per side — output is bounded by users x T^2 with T a domain constant,
    never by event volume. Ordering uses (ts_us, event_id) exactly like
    every state operator (CLAUDE.md note 1); ties between two types'
    firsts cannot happen because event_id is unique and strictly ordered.
    """
    ev = events.select("user_id", "event_type", "ts_us", "event_id")
    firsts = ev.groupBy("user_id", "event_type").agg(
        F.min(F.struct("ts_us", "event_id")).alias("f")
    )
    nu = events.select("user_id").distinct().count()
    return adoption_support_from_firsts(firsts, nu)


def adoption_support_from_firsts(firsts: DataFrame, n_users: int) -> DataFrame:
    """sq1's pattern-join half over a prepared first-occurrence table
    ``(user_id, event_type, f struct<ts_us, event_id>)`` — shared with the
    streaming form (st11), whose state store IS that table."""
    nu = n_users
    a = firsts.select(
        "user_id", F.col("event_type").alias("type_a"), F.col("f").alias("fa")
    )
    b = firsts.select(
        "user_id", F.col("event_type").alias("type_b"), F.col("f").alias("fb")
    )
    j = a.join(b, "user_id").where(
        (F.col("type_a") != F.col("type_b"))
        & (
            (F.col("fa.ts_us") < F.col("fb.ts_us"))
            | (
                (F.col("fa.ts_us") == F.col("fb.ts_us"))
                & (F.col("fa.event_id") < F.col("fb.event_id"))
            )
        )
    )
    return (
        j.groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("support"))
        .select(
            "type_a",
            "type_b",
            "support",
            F.round(F.col("support").cast("double") / F.lit(float(nu)), 6).alias(
                "support_frac"
            ),
        )
        .orderBy("type_a", "type_b")
    )


# DuckDB twin: first occurrence per (user, type) via min over the
# (ts_us, event_id) pair — note 22: tuple arg_min doesn't bind, a named
# struct's field order IS its comparison order.
_SQ1_SQL = """
WITH f AS (
  SELECT user_id, event_type, min({'t': epoch_us(ts), 'e': event_id}) AS f
  FROM events GROUP BY user_id, event_type
),
n AS (SELECT count(DISTINCT user_id) AS nu FROM events),
j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM f a JOIN f b ON a.user_id = b.user_id
  WHERE a.event_type <> b.event_type
    AND (a.f.t < b.f.t OR (a.f.t = b.f.t AND a.f.e < b.f.e))
)
SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS support,
       round(CAST(count(*) AS DOUBLE) / (SELECT CAST(nu AS DOUBLE) FROM n), 6) AS support_frac
FROM j GROUP BY type_a, type_b
ORDER BY type_a, type_b
"""


# --------------------------------------------------------------------------
# kx1 — TextRank keyword extraction (PageRank over word co-occurrence)
# --------------------------------------------------------------------------

def textrank_keywords(
    documents: DataFrame,
    window: int = 2,
    iterations: int = 5,
    damping: float = 0.85,
    top_n: int = 20,
) -> DataFrame:
    """kx1 — TextRank (Mihalcea & Tarau 2004), the unsupervised keyword
    extractor: PageRank over the word co-occurrence graph (edge weight =
    co-occurrence count within ``window`` token positions), top ``top_n``
    words — ``(word, rank)``. The corpus-tagging stage a training
    pipeline runs to label document collections with salient terms.

    The co-occurrence enumeration is w2v1's in-row offset form (no token
    self-join); because the offset set is symmetric the graph is
    symmetric, so no dangling mass exists (a word with no neighbor —
    single-token documents only — never enters the graph). The iteration
    machinery is pr1's: normalized edge shares checkpointed once, the
    vocabulary-sized rank vector broadcast per iteration, one combining
    aggregate each. Ranks round at 6 dp only in the final projection
    (note 6); the oracle unrolls the same iterations as CTEs.
    """
    d = documents.select(F.split("text", " ").alias("toks"))
    ex = d.select(F.posexplode("toks").alias("pos", "w"), "toks")
    offs = [o for o in range(-window, window + 1) if o != 0]
    ctx = F.array(*[F.get("toks", F.col("pos") + o) for o in offs])
    e = (
        ex.select(F.col("w").alias("src"), F.explode(ctx).alias("dst"))
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("cnt"))
    )
    outw = e.groupBy("src").agg(F.sum("cnt").alias("ow"))
    esh = (
        e.join(F.broadcast(outw), "src")
        .select(
            "src", "dst",
            (F.col("cnt").cast("double") / F.col("ow").cast("double")).alias("share"),
        )
        .localCheckpoint(eager=True)
    )
    n = esh.select("dst").distinct().count()
    r = esh.select("dst").distinct().select(
        F.col("dst").alias("word"), F.lit(1.0 / n).alias("r")
    )
    for _ in range(iterations):
        contrib = (
            esh.join(F.broadcast(r), esh.src == r.word)
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("share")).alias("s"))
        )
        r = contrib.select(
            F.col("dst").alias("word"),
            (F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("s")).alias("r"),
        )
    return (
        r.select("word", F.round("r", 6).alias("rank"))
        .orderBy(F.desc("rank"), "word")
        .limit(top_n)
    )


def _kx1_sql(iterations: int = 5) -> str:
    head = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
u AS (SELECT t, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toks),
off(o) AS (VALUES (-2), (-1), (1), (2)),
cand AS (SELECT u.t, u.tok AS src, u.pos + off.o AS cpos FROM u, off),
e AS (
  SELECT cand.src, cand.t[cand.cpos] AS dst, count(*) AS cnt
  FROM cand WHERE cand.cpos BETWEEN 1 AND len(cand.t)
  GROUP BY 1, 2),
o AS (SELECT src, sum(cnt) AS ow FROM e GROUP BY src),
esh AS (SELECT e.src, e.dst, CAST(e.cnt AS DOUBLE) / CAST(o.ow AS DOUBLE) AS share
        FROM e JOIN o ON o.src = e.src),
nd AS (SELECT DISTINCT dst AS word FROM esh),
n AS (SELECT count(*) AS cnt FROM nd),
r0 AS (SELECT word, 1.0 / (SELECT cnt FROM n) AS r FROM nd)"""
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f""",
s{i} AS (SELECT esh.dst AS word, sum(r{i-1}.r * esh.share) AS s
        FROM esh JOIN r{i-1} ON r{i-1}.word = esh.src GROUP BY esh.dst),
r{i} AS (SELECT word, 0.15 / (SELECT cnt FROM n) + 0.85 * s AS r FROM s{i})"""
        )
    tail = f"""
SELECT word, round(r, 6) AS rank FROM r{iterations}
ORDER BY rank DESC, word
LIMIT 20
"""
    return head + "".join(iters) + tail


_KX1_SQL = _kx1_sql()


# --------------------------------------------------------------------------
# ph1 — exact phrase search over positional postings
# --------------------------------------------------------------------------

def phrase_search(documents: DataFrame, phrase: str) -> DataFrame:
    """ph1 — exact phrase match via positional postings: ``(doc_id,
    n_matches, first_pos)`` for every document containing ``phrase`` as
    consecutive tokens (0-based token position; overlapping occurrences
    all count — 'key order key order' is two matches of 'key order').

    Postings are filtered to the phrase's terms before any shuffle, then
    the match set is the chained (doc_id, pos) equi-join of term i's
    postings shifted by -i — the standard positional-index AND plan. At
    corpus scale the filtered postings are a vanishing fraction of token
    volume; no LIKE scan of raw text happens at query time.
    """
    terms = phrase.split(" ")
    if not terms or any(not t for t in terms):
        raise ValueError(f"phrase must be non-empty space-separated tokens, got {phrase!r}")
    d = documents.select("doc_id", F.split("text", " ").alias("toks"))
    ex = d.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    m = ex.where(F.col("tok") == terms[0]).select("doc_id", "pos")
    for i, t in enumerate(terms[1:], start=1):
        pi = ex.where(F.col("tok") == t).select("doc_id", (F.col("pos") - i).alias("pos"))
        m = m.join(pi, ["doc_id", "pos"])
    return (
        m.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


# DuckDB positions are 1-based (generate_subscripts), the operator's are
# 0-based posexplode — the -1 at the end reconciles.
_PH1_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
u AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toks),
m AS (
  SELECT a.doc_id, a.pos
  FROM u a JOIN u b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.tok = 'key' AND b.tok = 'order')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(pos) - 1 AS BIGINT) AS first_pos
FROM m GROUP BY doc_id ORDER BY doc_id
"""


def build_queries():
    def _fp1(spark: SparkSession, sf: str) -> DataFrame:
        return copurchase_rules(tables.load(spark, sf, "lineitem"))

    def _ar1(spark: SparkSession, sf: str) -> DataFrame:
        return association_rules(tables.load(spark, sf, "lineitem"))

    def _pr1(spark: SparkSession, sf: str) -> DataFrame:
        # lineitem arrives as one row group (note 5); the edge build is a
        # broadcast join + partial agg that would otherwise run single-task.
        return pagerank(
            tables.load(spark, sf, "orders"),
            tables.load(spark, sf, "lineitem", spread=True),
        )

    def _lp1(spark: SparkSession, sf: str) -> DataFrame:
        return label_propagation(
            tables.load(spark, sf, "orders"),
            tables.load(spark, sf, "lineitem", spread=True),
        )

    def _w2v1(spark: SparkSession, sf: str) -> DataFrame:
        return skipgram_pairs(tables.load(spark, sf, "documents"))

    def _ph1(spark: SparkSession, sf: str) -> DataFrame:
        return phrase_search(tables.load(spark, sf, "documents"), "key order")

    def _sq1(spark: SparkSession, sf: str) -> DataFrame:
        return adoption_order_support(tables.load(spark, sf, "events"))

    def _tc1(spark: SparkSession, sf: str) -> DataFrame:
        return triangle_stats(tables.load(spark, sf, "lineitem"))

    def _gw1(spark: SparkSession, sf: str) -> DataFrame:
        return deepwalk_corpus(
            tables.load(spark, sf, "orders"),
            tables.load(spark, sf, "lineitem", spread=True),
        )

    def _kx1(spark: SparkSession, sf: str) -> DataFrame:
        return textrank_keywords(tables.load(spark, sf, "documents"))

    return {
        "fp1_copurchase_rules": (_fp1, _FP1_SQL),
        "ar1_association_rules": (_ar1, _AR1_SQL),
        "pr1_pagerank": (_pr1, _PR1_SQL),
        "lp1_label_propagation": (_lp1, _LP1_SQL),
        "w2v1_skipgram_pairs": (_w2v1, _W2V1_SQL),
        "ph1_phrase_search": (_ph1, _PH1_SQL),
        "sq1_adoption_order": (_sq1, _SQ1_SQL),
        "tc1_triangle_stats": (_tc1, _TC1_SQL),
        "gw1_deepwalk_corpus": (_gw1, _GW1_SQL),
        "kx1_textrank_keywords": (_kx1, _KX1_SQL),
    }
