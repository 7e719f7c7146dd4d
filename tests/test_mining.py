"""Pattern-mining / graph / IR operators (mining.py): oracle checks plus
hand-computed planted fixtures driving the semantics the clean tables
cannot (apriori prune boundaries, PageRank recurrence, skip-gram window
edges, overlapping phrase occurrences)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL
from tests.oracle import check_query


def test_fp1_oracle_match(spark):
    ok, msg = check_query(spark, "fp1_copurchase_rules", SF_SMALL)
    assert ok, msg


def test_pr1_oracle_match(spark):
    ok, msg = check_query(spark, "pr1_pagerank", SF_SMALL)
    assert ok, msg


def test_w2v1_oracle_match(spark):
    ok, msg = check_query(spark, "w2v1_skipgram_pairs", SF_SMALL)
    assert ok, msg


def test_ph1_oracle_match(spark):
    ok, msg = check_query(spark, "ph1_phrase_search", SF_SMALL)
    assert ok, msg


def test_ar1_oracle_match(spark):
    ok, msg = check_query(spark, "ar1_association_rules", SF_SMALL)
    assert ok, msg


def test_ar1_hand_rules_confidence_lift_conviction(spark):
    """Same planted baskets as the fp1 test (pair (1,2): support 3, both
    item counts 3, 4 baskets): both rule orientations must carry
    confidence 3/3 = 1.0, lift 4*3/(3*3), and NULL conviction (a
    confidence-1 rule has a zero conviction denominator — the note-53
    guard)."""
    from samsa_spark.operators.mining import association_rules

    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 1), (3, 2), (3, 4), (4, 5)],
        "l_orderkey long, l_partkey long",
    )
    rows = association_rules(li).collect()
    assert len(rows) == 2
    got = {(r.antecedent, r.consequent): r for r in rows}
    for key in [(1, 2), (2, 1)]:
        r = got[key]
        assert r.pair_count == 3
        assert r.confidence == 1.0
        assert r.lift == round(4.0 * 3 / 3 / 3, 6)
        assert r.conviction is None


def test_ar1_asymmetric_confidence_and_finite_conviction(spark):
    """Item 2 appears in 4 baskets, item 1 in 3, pair in 3 of 6 baskets:
    rule 1->2 has confidence 1 (NULL conviction) while 2->1 has
    confidence 3/4 and conviction (1 - 3/6) / (1 - 3/4) = 2.0 — the
    directed measures must differ across orientations."""
    from samsa_spark.operators.mining import association_rules

    li = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 2), (4, 2), (5, 7), (6, 8)],
        "l_orderkey long, l_partkey long",
    )
    got = {(r.antecedent, r.consequent): r for r in association_rules(li).collect()}
    assert got[(1, 2)].confidence == 1.0 and got[(1, 2)].conviction is None
    r21 = got[(2, 1)]
    assert r21.confidence == 0.75
    assert r21.conviction == 2.0
    assert got[(1, 2)].lift == r21.lift  # lift is symmetric


def test_fp1_planted_frequent_pair_and_apriori_prune(spark):
    """Hand-checkable baskets: items 1 and 2 (count 3 each) clear the
    1.2x-mean floor (mean = 9/5), items 3/4/5 (count 1) are pruned before
    any pair exists — so the single surviving pair is (1,2) with support 3
    and lift 4*3/(3*3)."""
    from samsa_spark.operators.mining import copurchase_rules

    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 1), (3, 2), (3, 4), (4, 5)],
        "l_orderkey long, l_partkey long",
    )
    rows = copurchase_rules(li).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.item_a, r.item_b, r.pair_count, r.count_a, r.count_b) == (1, 2, 3, 3, 3)
    assert r.lift == round(4.0 * 3 / 3 / 3, 6)


def test_fp1_duplicate_lineitems_are_one_basket_membership(spark):
    """A basket is the order's DISTINCT part set: the same part twice in an
    order must not double pair support."""
    from samsa_spark.operators.mining import copurchase_rules

    li = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 2), (4, 9)],
        "l_orderkey long, l_partkey long",
    )
    rows = copurchase_rules(li).collect()
    assert len(rows) == 1
    assert (rows[0].pair_count, rows[0].count_a, rows[0].count_b) == (3, 3, 3)


def _model_pagerank(edges, iterations=5, damping=0.85):
    """Reference recurrence on a weighted symmetrized edge dict
    {(src, dst): w} with string node labels."""
    sym = {}
    for (s, d), w in edges.items():
        sym[(s, d)] = sym.get((s, d), 0) + w
        sym[(d, s)] = sym.get((d, s), 0) + w
    nodes = sorted({s for s, _ in sym} | {d for _, d in sym})
    outw = {}
    for (s, _), w in sym.items():
        outw[s] = outw.get(s, 0) + w
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        nxt = {v: 0.0 for v in nodes}
        for (s, d), w in sym.items():
            nxt[d] += r[s] * (w / outw[s])
        r = {v: (1 - damping) / n + damping * nxt[v] for v in nodes}
    return {v: round(r[v], 6) for v in nodes}


def test_pr1_hand_graph_matches_python_model(spark):
    """Tiny purchase graph: c1 buys twice from s1 and once from s2, c2 once
    from s1 — engine ranks must equal the Python recurrence bit-for-6dp,
    and total rank mass must stay 1 (symmetric graph has no dangling
    leakage)."""
    from samsa_spark.operators.mining import pagerank

    orders = spark.createDataFrame(
        [(10, 1), (11, 2)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(10, 1), (10, 1), (10, 2), (11, 1)], "l_orderkey long, l_suppkey long"
    )
    got = {r.node: r["rank"] for r in pagerank(orders, lineitem).collect()}
    want = _model_pagerank({("c:1", "s:1"): 2, ("c:1", "s:2"): 1, ("c:2", "s:1"): 1})
    assert got == want
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-5)
    # the heavier-degree pair should outrank the light one
    assert got["s:1"] > got["s:2"] and got["c:1"] > got["c:2"]


def test_pr1_iterations_change_ranks(spark):
    """The power method must actually iterate: 1 and 5 iterations disagree
    on an asymmetric graph."""
    from samsa_spark.operators.mining import pagerank

    orders = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1), (12, 1)], "l_orderkey long, l_suppkey long"
    )
    r1 = {r.node: r["rank"] for r in pagerank(orders, lineitem, iterations=1).collect()}
    r5 = {r.node: r["rank"] for r in pagerank(orders, lineitem, iterations=5).collect()}
    assert r1 != r5


def test_lp1_oracle_match(spark):
    ok, msg = check_query(spark, "lp1_label_propagation", SF_SMALL)
    assert ok, msg


def _model_lpa(edges, iterations=3):
    """Synchronous deterministic LPA on {(src, dst): w} (bigint node ids,
    already symmetrized by the caller)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    lab = {v: v for v in nodes}
    for _ in range(iterations):
        mass = {}
        for (s, d), w in edges.items():
            mass.setdefault(d, {})
            mass[d][lab[s]] = mass[d].get(lab[s], 0) + w
        lab = {v: min(m, key=lambda k: (-m[k], k)) for v, m in mass.items()}
    return lab


def test_lp1_hand_graph_matches_python_model(spark):
    """c1 buys twice from s1, c2 once — sync LPA on the bipartite graph
    (including its characteristic oscillation) must equal the Python model,
    and community sizes must count the final labels."""
    from samsa_spark.operators.mining import label_propagation

    orders = spark.createDataFrame([(10, 1), (11, 2)], "o_orderkey long, o_custkey long")
    lineitem = spark.createDataFrame(
        [(10, 1), (10, 1), (11, 1)], "l_orderkey long, l_suppkey long"
    )
    # bigint graph: c1=2, c2=4, s1=3
    edges = {(2, 3): 2, (3, 2): 2, (4, 3): 1, (3, 4): 1}
    lab = _model_lpa(edges)

    def pretty(v):
        return f"c:{v // 2}" if v % 2 == 0 else f"s:{(v - 1) // 2}"

    want = {pretty(v): pretty(l) for v, l in lab.items()}
    sizes = {}
    for l in want.values():
        sizes[l] = sizes.get(l, 0) + 1
    got = {r.node: (r.community, r.community_size) for r in label_propagation(orders, lineitem).collect()}
    assert got == {v: (l, sizes[l]) for v, l in want.items()}


def test_lp1_equal_mass_tie_takes_smallest_label(spark):
    """s1 sees equal weight from c1 (node 2) and c2 (node 4) — after one
    iteration it must adopt the smaller label."""
    from samsa_spark.operators.mining import label_propagation

    orders = spark.createDataFrame([(10, 1), (11, 2)], "o_orderkey long, o_custkey long")
    lineitem = spark.createDataFrame(
        [(10, 1), (11, 1)], "l_orderkey long, l_suppkey long"
    )
    got = {r.node: r.community for r in label_propagation(orders, lineitem, iterations=1).collect()}
    assert got["s:1"] == "c:1"


def _regime_fixture(spark):
    """A small but multi-community purchase graph for regime-equality runs."""
    orders = spark.createDataFrame(
        [(100 + o, o % 5 + 1) for o in range(20)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(100 + o, (o * 3) % 4 + 1) for o in range(20)]
        + [(100 + o, (o * 7) % 4 + 1) for o in range(0, 20, 2)],
        "l_orderkey long, l_suppkey long",
    )
    return orders, lineitem


def test_pr1_big_regime_plans_shuffle_join_and_matches_broadcast(spark):
    """broadcast_max_nodes=0 forces the beyond-broadcast regime (the node
    universe grows with the data — the round-12 verdict's OOM cliff): the
    per-iteration rank joins must plan WITHOUT a forced broadcast (shuffle
    hash join in the pre-adaptive physical plan) and return the same ranks
    as the broadcast regime — the regime changes transport, not algebra."""
    from samsa_spark.operators.mining import pagerank

    orders, lineitem = _regime_fixture(spark)
    small = {r.node: r["rank"] for r in pagerank(orders, lineitem).collect()}
    # driver_max_nodes=0 disables the r15 driver fast path so the
    # DISTRIBUTED broadcast-vs-shuffle regime contract stays plan-asserted
    big_df = pagerank(orders, lineitem, broadcast_max_nodes=0, driver_max_nodes=0)
    plan = big_df._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    big = {r.node: r["rank"] for r in big_df.collect()}
    assert big == small


def test_lp1_big_regime_plans_shuffle_join_and_matches_broadcast(spark):
    """Same regime contract for LPA — all-integer, so equality is exact."""
    from samsa_spark.operators.mining import label_propagation

    orders, lineitem = _regime_fixture(spark)
    small = {
        r.node: (r.community, r.community_size)
        for r in label_propagation(orders, lineitem).collect()
    }
    big_df = label_propagation(
        orders, lineitem, broadcast_max_nodes=0, driver_max_nodes=0
    )
    plan = big_df._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    big = {r.node: (r.community, r.community_size) for r in big_df.collect()}
    assert big == small


def test_pr1_driver_regime_matches_distributed_loop(spark):
    """The r15 driver fast path (note-59 class) must return EXACTLY the
    distributed power method's rows — same ranks after the 6 dp round,
    same (rank DESC, node) order."""
    from samsa_spark.operators.mining import pagerank

    orders, lineitem = _regime_fixture(spark)
    fast = [tuple(r) for r in pagerank(orders, lineitem).collect()]
    slow = [tuple(r) for r in pagerank(orders, lineitem, driver_max_nodes=0).collect()]
    assert fast == slow


def test_round6_half_up_matches_spark_round_on_boundary_values(spark):
    """The driver regime's rounding replica against Spark's own
    ``round(double, 6)`` on values whose shortest decimal form sits on the
    half: the double's exact binary value lies below it for the first three,
    which rounding the exact value got wrong (0.123456, 0.5, 0.250001, 0.0)."""
    from samsa_spark.operators.mining import _round6_half_up

    xs = [0.1234565, 0.5000005, 0.2500015, 5e-07, 0.0, 1.0, 0.9999995, 1234.5678905, 1e-06, 4.99999e-07]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    want = [r.r for r in df.orderBy("i").select(F.round("x", 6).alias("r")).collect()]
    assert [_round6_half_up(x) for x in xs] == want
    assert want[:4] == [0.123457, 0.500001, 0.250002, 1e-06]


def test_lp1_driver_regime_matches_distributed_loop(spark):
    """All-integer LPA: driver fast path == distributed window top-1,
    exactly (labels, communities, sizes, row order)."""
    from samsa_spark.operators.mining import label_propagation

    orders, lineitem = _regime_fixture(spark)
    fast = [tuple(r) for r in label_propagation(orders, lineitem).collect()]
    slow = [
        tuple(r)
        for r in label_propagation(orders, lineitem, driver_max_nodes=0).collect()
    ]
    assert fast == slow


def test_arrow_to_pandas_restores_the_session_conf(spark):
    """The driver-regime collect turns the Arrow transfer on for its own
    call only: a conf the session never set is unset again afterwards,
    and an explicit ``"false"`` stays ``"false"``."""
    from samsa_spark import tables

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, None)
    df = spark.range(3)
    try:
        spark.conf.unset(key)
        assert tables.arrow_to_pandas(df)["id"].tolist() == [0, 1, 2]
        assert spark.conf.get(key, None) is None
        spark.conf.set(key, "false")
        assert tables.arrow_to_pandas(df)["id"].tolist() == [0, 1, 2]
        assert spark.conf.get(key, None) == "false"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_w2v1_hand_doc(spark):
    """'a b a' with window 2: every (center, context) pair enumerated by
    hand, ns weights = unigram^0.75 via the sqrt(sqrt(c^3)) form."""
    from samsa_spark.operators.mining import skipgram_pairs

    docs = spark.createDataFrame([(0, "a b a")], "doc_id long, text string")
    rows = skipgram_pairs(docs).collect()
    got = {(r.center, r.context): (r.pair_count, r.ctx_ns_weight) for r in rows}
    pa = math.sqrt(math.sqrt(2.0 * 2 * 2))
    pb = math.sqrt(math.sqrt(1.0))
    z = pa + pb
    wa, wb = round(pa / z, 6), round(pb / z, 6)
    assert got == {
        ("a", "b"): (2, wb),
        ("a", "a"): (2, wa),
        ("b", "a"): (2, wa),
    }


def test_w2v1_window_respects_bounds(spark):
    """Tokens 3+ apart never pair (window=2), and out-of-range offsets at
    document edges produce no null contexts."""
    from samsa_spark.operators.mining import skipgram_pairs

    docs = spark.createDataFrame([(0, "a x y z b")], "doc_id long, text string")
    got = {(r.center, r.context) for r in skipgram_pairs(docs).collect()}
    assert ("a", "b") not in got and ("b", "a") not in got
    assert ("a", "x") in got and ("a", "y") in got and ("a", "z") not in got


def test_ph1_overlapping_occurrences_all_count(spark):
    """'key order key order' contains the phrase at token positions 0 AND 2
    — a non-overlapping substring count would report 1."""
    from samsa_spark.operators.mining import phrase_search

    docs = spark.createDataFrame(
        [(0, "key order key order"), (1, "key value order"), (2, "no match here")],
        "doc_id long, text string",
    )
    rows = phrase_search(docs, "key order").collect()
    assert len(rows) == 1
    assert (rows[0].doc_id, rows[0].n_matches, rows[0].first_pos) == (0, 2, 0)


def test_ph1_three_term_phrase(spark):
    from samsa_spark.operators.mining import phrase_search

    docs = spark.createDataFrame(
        [(0, "x a b c y a b"), (1, "a b x c")], "doc_id long, text string"
    )
    rows = phrase_search(docs, "a b c").collect()
    assert len(rows) == 1
    assert (rows[0].doc_id, rows[0].n_matches, rows[0].first_pos) == (0, 1, 1)


def test_sq1_oracle_match(spark):
    ok, msg = check_query(spark, "sq1_adoption_order", SF_SMALL)
    assert ok, msg


def test_sq1_planted_adoption_orders(spark):
    """u1 adopts a then b, u2 adopts b then a, u3 has only a:
    support(a,b)=1, support(b,a)=1; repeated later events never change
    first occurrences; a type a user lacks contributes nothing."""
    from samsa_spark.operators.mining import adoption_order_support

    ev = spark.createDataFrame(
        [
            (1, "a", 1, 100),
            (1, "b", 5, 101),
            (1, "a", 9, 102),  # later repeat, irrelevant
            (2, "b", 2, 200),
            (2, "a", 9, 201),
            (3, "a", 4, 300),
        ],
        "user_id long, event_type string, ts_us long, event_id long",
    )
    got = {(r.type_a, r.type_b): (r.support, r.support_frac) for r in adoption_order_support(ev).collect()}
    assert got == {("a", "b"): (1, round(1 / 3.0, 6)), ("b", "a"): (1, round(1 / 3.0, 6))}


def test_sq1_same_ts_breaks_on_event_id(spark):
    """Two firsts at the same microsecond order by event_id (note-1
    discipline): a(id 10) precedes b(id 11)."""
    from samsa_spark.operators.mining import adoption_order_support

    ev = spark.createDataFrame(
        [(1, "a", 7, 10), (1, "b", 7, 11)],
        "user_id long, event_type string, ts_us long, event_id long",
    )
    got = {(r.type_a, r.type_b): r.support for r in adoption_order_support(ev).collect()}
    assert got == {("a", "b"): 1}


def test_tc1_oracle_match(spark):
    ok, msg = check_query(spark, "tc1_triangle_stats", SF_SMALL)
    assert ok, msg


def test_tc1_hand_graphs(spark):
    """A triangle closed across three 2-item baskets: 3 nodes, 3 edges,
    3 wedges, 1 triangle, transitivity 1. A 4-cycle: 4 wedges, 0
    triangles. One 3-item basket alone also forms a triangle."""
    from samsa_spark.operators.mining import triangle_stats

    tri = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (2, 3), (3, 1), (3, 3)],
        "l_orderkey long, l_partkey long",
    )
    r = triangle_stats(tri).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (3, 3, 3, 1)
    assert r.global_clustering == 1.0

    cyc = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (2, 3), (3, 3), (3, 4), (4, 4), (4, 1)],
        "l_orderkey long, l_partkey long",
    )
    r = triangle_stats(cyc).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 4, 4, 0)
    assert r.global_clustering == 0.0

    one_basket = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (1, 3)], "l_orderkey long, l_partkey long"
    )
    r = triangle_stats(one_basket).collect()[0]
    assert (r.n_edges, r.n_triangles) == (3, 1)


def test_tc1_repeated_copurchase_is_one_edge(spark):
    """The same pair in many baskets is still ONE edge of the graph."""
    from samsa_spark.operators.mining import triangle_stats

    li = spark.createDataFrame(
        [(o, p) for o in range(1, 6) for p in (1, 2)],
        "l_orderkey long, l_partkey long",
    )
    r = triangle_stats(li).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (2, 1, 0, 0)
    # transitivity of a wedge-free graph is undefined -> NULL (ANSI Spark
    # would otherwise raise divideByZero on the constant-folded ratio)
    assert r.global_clustering is None


def test_gw1_oracle_match(spark):
    ok, msg = check_query(spark, "gw1_deepwalk_corpus", SF_SMALL)
    assert ok, msg


def test_gw1_hand_walks_match_python_model(spark):
    """Tiny graph, every walk replayed by a Python model using the same
    hash-step rule over the same sorted adjacency."""
    from samsa_spark.operators.mining import deepwalk_corpus

    orders = spark.createDataFrame([(10, 1), (11, 2)], "o_orderkey long, o_custkey long")
    lineitem = spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1)], "l_orderkey long, l_suppkey long"
    )
    # bigint graph: c1=2, c2=4, s1=3, s2=5; symmetric edges
    adj = {2: [3, 5], 4: [3], 3: [2, 4], 5: [2]}

    def pretty(v):
        return f"c:{v // 2}" if v % 2 == 0 else f"s:{(v - 1) // 2}"

    def model_walk(start, wid, L=4):
        cur, path = start, [start]
        for step in range(L):
            nbrs = adj[cur]
            i = ((cur * 2654435761 + wid * 40503 + step * 104729) & 2147483647) % len(nbrs)
            cur = nbrs[i]
            path.append(cur)
        return " ".join(pretty(x) for x in path)

    got = {
        (r.start, r.walk_id): r.walk
        for r in deepwalk_corpus(orders, lineitem).collect()
    }
    want = {
        (pretty(n), w): model_walk(n, w) for n in adj for w in (0, 1)
    }
    assert got == want


def test_gw1_every_hop_is_an_edge(spark):
    """On the small fixture corpus: every consecutive label pair of every
    walk must be a real edge, and walks start at their start node."""
    from samsa_spark import tables
    from samsa_spark.operators.mining import deepwalk_corpus

    orders = tables.load(spark, SF_SMALL, "orders")
    lineitem = tables.load(spark, SF_SMALL, "lineitem")
    walks = deepwalk_corpus(orders, lineitem, walk_len=3, walks_per_node=1).collect()
    li = lineitem.select("l_orderkey", "l_suppkey")
    od = orders.select("o_orderkey", "o_custkey")
    pairs = (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .collect()
    )
    edges = set()
    for r in pairs:
        a, b = f"c:{r.o_custkey}", f"s:{r.l_suppkey}"
        edges.add((a, b))
        edges.add((b, a))
    assert walks
    for r in walks:
        toks = r.walk.split(" ")
        assert toks[0] == r.start
        for x, y in zip(toks, toks[1:]):
            assert (x, y) in edges


def test_gw1_w2v1_composition(spark):
    """The DeepWalk corpus IS w2v input: skip-gram pairs extracted from the
    walk sentences must all be within 2 graph hops (window=2 over a walk
    path), and the graph's actual edges must appear as pairs."""
    from samsa_spark import tables
    from samsa_spark.operators.mining import deepwalk_corpus, skipgram_pairs

    orders = tables.load(spark, SF_SMALL, "orders")
    lineitem = tables.load(spark, SF_SMALL, "lineitem")
    walks = deepwalk_corpus(orders, lineitem, walk_len=3, walks_per_node=1)
    docs = walks.select(
        F.xxhash64("start", "walk_id").alias("doc_id"), F.col("walk").alias("text")
    )
    pairs = {(r.center, r.context) for r in skipgram_pairs(docs, top_n=10000).collect()}
    assert pairs
    # window=2 on a bipartite walk: odd offsets cross sides (must be real
    # edges), even offsets stay same-side (2-hop, reachable by construction)
    li = lineitem.select("l_orderkey", "l_suppkey")
    od = orders.select("o_orderkey", "o_custkey")
    edges = set()
    for r in (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .collect()
    ):
        edges.add((f"c:{r.o_custkey}", f"s:{r.l_suppkey}"))
        edges.add((f"s:{r.l_suppkey}", f"c:{r.o_custkey}"))
    cross_side = {(c, x) for c, x in pairs if (c[0] == "c") != (x[0] == "c")}
    assert cross_side and cross_side <= edges


def test_kx1_oracle_match(spark):
    ok, msg = check_query(spark, "kx1_textrank_keywords", SF_SMALL)
    assert ok, msg


def test_kx1_hub_word_ranks_first(spark):
    """A word co-occurring with every other word (the salient term) must
    out-rank the leaf words that only ever co-occur with it."""
    from samsa_spark.operators.mining import textrank_keywords

    docs = spark.createDataFrame(
        [(i, f"hub leaf{i}") for i in range(6)], "doc_id long, text string"
    )
    rows = textrank_keywords(docs).collect()
    assert rows[0].word == "hub"
    assert all(rows[0]["rank"] > r["rank"] for r in rows[1:])


def test_kx1_symmetric_pair_splits_evenly(spark):
    """One two-word document: by symmetry both words must end at rank 0.5."""
    from samsa_spark.operators.mining import textrank_keywords

    docs = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    got = {r.word: r["rank"] for r in textrank_keywords(docs).collect()}
    assert got == {"alpha": 0.5, "beta": 0.5}


def test_ph1_rejects_malformed_phrase(spark):
    from samsa_spark.operators.mining import phrase_search

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        phrase_search(docs, "a  b")
