"""Dedup suite: oracle checks for dd1/dd2; brute-force ground-truth recall
checks for the hash-based candidates (dd3 MinHash-LSH, dd4 SimHash)."""

from __future__ import annotations

import itertools

import pytest

from tests.conftest import SF_SMALL
from tests.oracle import check_query


@pytest.mark.parametrize("name", ["dd1_exact_dedup", "dd2_ngram_jaccard", "dc1_decontaminate"])
def test_oracle_match(spark, name):
    ok, msg = check_query(spark, name, SF_SMALL)
    assert ok, msg


def test_decontaminate_flags_planted_leak(spark):
    """A corpus doc that quotes a benchmark doc's text must be flagged with
    the exact distinct-shingle overlap count; disjoint docs must not be."""
    from samsa_spark.operators.dedup import decontaminate

    bench_text = "alpha beta gamma delta epsilon zeta"      # doc 0: 4 shingles
    rows = [
        (0, "en", bench_text),
        (1, "en", "one two three four five six seven"),     # benchmark too (id < 20)
        (20, "en", "prefix alpha beta gamma delta suffix"), # quotes 2 of doc 0's shingles
        (21, "en", "totally unrelated words here indeed"),
        (22, "en", bench_text),                              # verbatim leak: all 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: (r.n_hits, r.contaminated) for r in decontaminate(df).collect()}
    assert got == {20: (2, True), 21: (0, False), 22: (4, True)}


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_minhash_lsh_recall(spark):
    """Every truly-similar pair (Jaccard >= 0.5) must appear among LSH
    candidates; candidate estimates must roughly track true Jaccard."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import minhash_lsh_pairs

    docs = tables.load(spark, SF_SMALL, "documents")
    rows = docs.select("doc_id", "text").collect()
    sh = {r.doc_id: _shingles(r.text) for r in rows}
    truth = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if inter:
            truth[(a, b)] = inter / len(sh[a] | sh[b])
    high = {p for p, j in truth.items() if j >= 0.5}

    cand = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, min_est_jaccard=0.25).collect()
    }
    missed = high - set(cand)
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"
    for p, est in cand.items():
        true_j = truth.get(p, 0.0)
        assert abs(est - true_j) < 0.35, f"estimate far off for {p}: est={est} true={true_j}"


def test_simhash_determinism_and_selfdup(spark):
    """SimHash: identical texts get identical fingerprints; fingerprints are
    stable across runs (pure column arithmetic, no RNG)."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import simhash_fingerprints

    docs = tables.load(spark, SF_SMALL, "documents")
    fp1 = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    fp2 = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert fp1 == fp2
    # duplicate text -> identical simhash: synthesize a dup
    two = docs.limit(1).select("text").collect()[0].text
    dup = spark.createDataFrame([(900001, two), (900002, two)], "doc_id long, text string")
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(dup).collect()}
    assert fps[900001] == fps[900002]


def test_dedup_clusters_oracle(spark):
    ok, msg = check_query(spark, "dd6_dedup_clusters", SF_SMALL)
    assert ok, msg


def test_dedup_clusters_union_find_ground_truth(spark):
    """Label propagation must produce exactly the union-find components of
    the Jaccard pair graph."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    docs = tables.load(spark, SF_SMALL, "documents")
    pairs = [(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, 0.1).collect()]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    for i in all_ids:
        find(i)
    for a, b in pairs:
        union(a, b)
    want = {i: find(i) for i in all_ids}
    got = {r.doc_id: r.canonical_id for r in dedup_clusters(docs, 0.1).collect()}
    assert got == want


def test_decontaminate_shuffle_fallback_matches_broadcast(spark):
    """broadcast_benchmark=False (the beyond-broadcast path, round-5
    verdict #4): with auto-broadcast disabled the equi-join on the shingle
    must become a partitioned shuffle join — never a cartesian/nested-loop
    — and the output must be identical to the broadcast form."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import decontaminate

    docs = tables.load(spark, SF_SMALL, "documents")
    want = sorted(tuple(r) for r in decontaminate(docs).collect())

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fb = decontaminate(docs, broadcast_benchmark=False)
        got = sorted(tuple(r) for r in fb.collect())
        plan = fb._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == want
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the shingle equi-join must run as a shuffle join (either strategy)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_propagate_min_labels_matches_union_find_on_random_graphs(spark):
    """The label-propagation core shared by dd6 and sd1, checked against a
    python union-find on randomized graphs — including shapes that stress
    the loop: chains (diameter > 1 iteration), stars, cycles, and
    singletons."""
    import random

    import pyspark.sql.functions as F

    from samsa_spark.operators.dedup import propagate_min_labels

    rng = random.Random(13)
    for trial in range(4):
        n = 60
        nodes = list(range(n))
        edges = []
        # one long chain to force multiple propagation iterations
        chain = rng.sample(nodes, 12)
        edges += list(zip(chain, chain[1:]))
        # a star and random extra edges (cycles welcome)
        hub = rng.choice(nodes)
        edges += [(hub, rng.choice(nodes)) for _ in range(5)]
        edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(10)]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in nodes}

        nodes_df = spark.createDataFrame([(i,) for i in nodes], "id long")
        edges_df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r.id: r.label
            for r in propagate_min_labels(nodes_df, edges_df, max_iter=20).collect()
        }
        assert got == want, f"trial {trial}: component labels diverged"


# --- dd7/dd8: substring-level (span) dedup ----------------------------------


@pytest.mark.parametrize("name", ["dd7_substring_spans", "dd8_dominated_frac"])
def test_substring_oracle_match(spark, name):
    ok, msg = check_query(spark, name, SF_SMALL)
    assert ok, msg


def _brute_dup_ranges(texts: dict[int, str], k: int):
    """Ground truth for dd7: flag every k-token position whose span occurs
    more than once corpus-wide, merge overlapping/adjacent flags per doc."""
    from collections import Counter

    occ = Counter()
    pos_spans = {}
    for d, t in texts.items():
        toks = t.split(" ")
        spans = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        pos_spans[d] = spans
        occ.update(spans)
    ranges = {}
    for d, spans in pos_spans.items():
        flagged = [i + 1 for i, s in enumerate(spans) if occ[s] > 1]  # 1-based
        merged = []
        for p in flagged:
            if merged and p <= merged[-1][1] - k + 1 + k:  # p <= prev_start_max + k
                merged[-1] = (merged[-1][0], max(merged[-1][1], p + k - 1))
            else:
                merged.append((p, p + k - 1))
        if merged:
            ranges[d] = merged
    return ranges


def test_substring_spans_planted_boilerplate(spark):
    """Two docs sharing an embedded 10-token template (different
    surroundings — the case dd1-dd4 can't catch) must both report exactly
    the template range; a doc repeating a span internally is flagged too;
    clean docs and sub-k overlaps report nothing."""
    from samsa_spark.operators.dedup import substring_dup_spans

    template = "the quick brown fox jumps over the lazy sleeping dog"  # 10 toks
    rows = [
        (1, "en", f"intro one two three {template} outro alpha beta"),
        (2, "en", f"completely different start here {template} and another ending text"),
        (3, "en", "short shared seven token run only x1 y1 z1"),      # 7-token overlap w/ 4
        (4, "en", "short shared seven token run only x2 y2 z2"),      # < k=8: not flagged
        (5, "en", "p q r s t u v w p q r s t u v w"),                 # internal repeat
        (6, "en", "nothing in common with anything else at all here"),
    ]
    texts = {r[0]: r[2] for r in rows}
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {}
    for r in substring_dup_spans(df, min_tokens=8).collect():
        got.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
        assert r.n_tokens == r.span_end - r.span_start + 1
    got = {d: sorted(v) for d, v in got.items()}
    want = _brute_dup_ranges(texts, 8)
    assert got == want
    # the planted template must be inside both carriers' reported ranges
    assert 1 in got and 2 in got and 5 in got
    assert 3 not in got and 4 not in got and 6 not in got


def test_substring_spans_matches_brute_force_on_corpus(spark):
    """dd7 ≡ the brute-force positional-shingle model on the real corpus."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import SPAN_K, substring_dup_spans

    docs = tables.load(spark, SF_SMALL, "documents")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    want = _brute_dup_ranges(texts, SPAN_K)
    got = {}
    for r in substring_dup_spans(docs).collect():
        got.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    got = {d: sorted(v) for d, v in got.items()}
    assert got == want


def test_dominated_fraction_keeps_first_copy(spark):
    """The corpus-first occurrence of a template scores 0 from it; every
    later copy scores the full template length — lowest-(doc,pos) survives."""
    from samsa_spark.operators.dedup import dominated_span_fraction

    template = "a b c d e f g h i j"  # 10 tokens
    rows = [
        (1, "en", f"{template} unique tail one two"),
        (2, "en", f"other head words {template}"),
        (3, "en", "fully distinct text with no repeats whatsoever right"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: (r.dup_tokens, r.dup_frac) for r in dominated_span_fraction(df, 8).collect()}
    assert got[1][0] == 0          # first occurrence: canonical, scores 0
    assert got[2][0] == 10         # later copy: whole template dominated
    assert got[3] == (0, 0.0)


def test_prep_pipeline_substring_stage(spark):
    """pp1's opt-in substring stage drops exactly the docs whose dominated
    fraction clears the threshold, and keeps the canonical copies."""
    import pyspark.sql.functions as F

    from samsa_spark.operators.dedup import dominated_span_fraction
    from samsa_spark.operators.pipeline_ops import prep_pipeline

    template = " ".join(f"tmpl{i}" for i in range(12))
    filler = lambda d: " ".join(f"w{d}x{i}" for i in range(10))  # noqa: E731
    rows = [(d, "en", f"{filler(d)} {template}") for d in range(1, 6)] + [
        (d, "en", " ".join(f"solo{d}n{i}" for i in range(22))) for d in range(6, 11)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # min_chars=1/min_alpha_ratio=0 disable the quality gate so the stage
    # under test is the only filter.
    base = prep_pipeline(df, min_chars=1, min_alpha_ratio=0.0)
    staged = prep_pipeline(
        df, min_chars=1, min_alpha_ratio=0.0, substring_dedup_min_tokens=8,
        substring_max_dup_frac=0.5,
    )
    n_base = sum(r.n_docs for r in base.collect())
    n_staged = sum(r.n_docs for r in staged.collect())
    frac = dominated_span_fraction(df, 8)
    n_heavy = frac.where(F.col("dup_frac") >= 0.5).count()
    assert n_heavy > 0, "planted corpus must contain dominated-heavy docs"
    assert n_base - n_staged == n_heavy


def _brute_strip(texts: dict[int, str], k: int) -> dict[int, str]:
    """Ground truth for dd9: drop tokens inside dominated merged ranges
    (occurrences of a duplicated k-span that are not the corpus-first)."""
    from collections import defaultdict

    occ = defaultdict(list)
    for d in sorted(texts):
        toks = texts[d].split(" ")
        for i in range(len(toks) - k + 1):
            occ[" ".join(toks[i : i + k])].append((d, i + 1))
    out = {}
    for d in sorted(texts):
        toks = texts[d].split(" ")
        dominated = set()
        for i in range(len(toks) - k + 1):
            span = " ".join(toks[i : i + k])
            if len(occ[span]) > 1 and min(occ[span]) != (d, i + 1):
                dominated.update(range(i + 1, i + k + 1))  # token positions 1-based
        out[d] = " ".join(t for j, t in enumerate(toks, start=1) if j not in dominated)
    return out


def test_strip_spans_planted_and_oracle(spark):
    """dd9 rewrite semantics: the first carrier keeps the template, later
    carriers lose exactly it; clean docs come back verbatim; plus the
    exact-oracle check at sf0.001."""
    from samsa_spark.operators.dedup import strip_dominated_spans

    template = "the quick brown fox jumps over the lazy sleeping dog"
    rows = [
        (1, "en", f"intro one two three {template} outro alpha beta"),
        (2, "en", f"completely different start here {template} and another ending text"),
        (3, "en", "nothing in common with anything else at all here"),
    ]
    texts = {r[0]: r[2] for r in rows}
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: r for r in strip_dominated_spans(df, min_tokens=8).collect()}
    want = _brute_strip(texts, 8)
    for d in texts:
        assert got[d].clean_text == want[d], d
        assert got[d].n_doc_tokens == len(texts[d].split(" "))
        assert got[d].n_kept_tokens == len(want[d].split(" ")) if want[d] else got[d].n_kept_tokens == 0
    assert template in got[1].clean_text            # first carrier keeps it
    assert template not in got[2].clean_text        # later carrier stripped
    assert got[3].clean_text == texts[3]            # clean doc verbatim

    ok, msg = check_query(spark, "dd9_strip_spans", SF_SMALL)
    assert ok, msg


def test_strip_spans_matches_brute_force_on_corpus(spark):
    """dd9 ≡ the Python dominated-range model over the real corpus, and is
    consistent with dd8 (kept = total - dominated, doc for doc)."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import (
        SPAN_K,
        dominated_span_fraction,
        strip_dominated_spans,
    )

    docs = tables.load(spark, SF_SMALL, "documents")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    want = _brute_strip(texts, SPAN_K)
    got = {r.doc_id: r for r in strip_dominated_spans(docs).collect()}
    for d, exp in want.items():
        assert got[d].clean_text == exp, d
    frac = {r.doc_id: r for r in dominated_span_fraction(docs).collect()}
    for d in texts:
        assert got[d].n_kept_tokens == frac[d].n_doc_tokens - frac[d].dup_tokens, d


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Small alphabet + short docs: k-span collisions, within-doc repeats,
# overlapping/adjacent island merges, and sub-k docs all occur constantly.
_doc_strategy = st.lists(
    st.lists(st.sampled_from("abc"), min_size=1, max_size=14).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_doc_strategy, k=st.integers(min_value=2, max_value=4))
def test_substring_family_matches_model_on_random_corpora(spark, texts, k):
    """dd7 ranges, dd8 dominated counts, and dd9 rewrites must all agree
    with the brute-force positional-shingle model on random small-alphabet
    corpora (hypothesis shrinks any counterexample)."""
    from samsa_spark.operators.dedup import (
        dominated_span_fraction,
        strip_dominated_spans,
        substring_dup_spans,
    )

    tx = {i + 1: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        [(d, "en", t) for d, t in tx.items()], "doc_id long, lang string, text string"
    )

    want_ranges = _brute_dup_ranges(tx, k)
    got_ranges = {}
    for r in substring_dup_spans(df, min_tokens=k).collect():
        got_ranges.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    assert {d: sorted(v) for d, v in got_ranges.items()} == want_ranges

    want_clean = _brute_strip(tx, k)
    got9 = {r.doc_id: r for r in strip_dominated_spans(df, min_tokens=k).collect()}
    for d in tx:
        assert got9[d].clean_text == want_clean[d], (d, k)

    got8 = {r.doc_id: r for r in dominated_span_fraction(df, min_tokens=k).collect()}
    for d in tx:
        n_dom = len(tx[d].split(" ")) - (
            len(want_clean[d].split(" ")) if want_clean[d] else 0
        )
        assert got8[d].dup_tokens == n_dom, (d, k)


def test_dd10_oracle_match(spark):
    ok, msg = check_query(spark, "dd10_dedup_against", SF_SMALL)
    assert ok, msg


def test_dedup_against_planted_and_fallback(spark):
    """dd10 production form: a snapshot with copies of reference docs gets
    exactly those flagged; broadcast_reference=False must run the sha
    equi-join as a shuffle join (never cartesian) with identical output."""
    import pandas as pd

    from samsa_spark.operators.dedup import dedup_against

    ref = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["seen before", "also seen"]})
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": ["seen before", "brand new", "also seen", "fresh text"],
            }
        )
    )
    got = {r.doc_id: r.in_reference for r in dedup_against(new, reference=ref).collect()}
    assert got == {10: True, 11: False, 12: True, 13: False}

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fb = dedup_against(new, reference=ref, broadcast_reference=False)
        fallback = {r.doc_id: r.in_reference for r in fb.collect()}
        plan = fb._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert fallback == got
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_dd11_oracle_match(spark):
    """Degenerate on the gate corpus (single-line docs, all distinct ->
    zero drops) but still pins the exact split/reassemble roundtrip:
    clean_text must hash-match the original text byte for byte."""
    ok, msg = check_query(spark, "dd11_line_dedup", SF_SMALL)
    assert ok, msg


def test_line_dedup_planted_boilerplate(spark):
    """The C4 rule on a planted multi-line corpus: a footer line occurring
    3x (across trim-variants) is dropped everywhere; a 2x line is kept;
    empty lines are layout and always survive."""
    from samsa_spark.operators.dedup import line_dedup

    footer = "copyright example corp all rights reserved"
    rows = [
        (0, "en", f"unique alpha text\n{footer}\n\nbody continues here"),
        (1, "en", f"other beta words\n  {footer}  \ntwice-seen line"),
        (2, "en", f"{footer}\ntwice-seen line\nfinal unique words"),
        (3, "en", "totally clean document\nwith its own lines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: r for r in line_dedup(df, min_count=3).collect()}
    # footer dropped in all 3 (trim-normalized count = 3); "twice-seen
    # line" (2x) kept; empty line in doc 0 kept; whitespace around doc 1's
    # footer removed WITH the line.
    assert got[0].clean_text == "unique alpha text\n\nbody continues here"
    assert got[1].clean_text == "other beta words\ntwice-seen line"
    assert got[2].clean_text == "twice-seen line\nfinal unique words"
    assert got[3].clean_text == rows[3][2]
    assert {d: (r.n_lines, r.n_dropped_lines) for d, r in got.items()} == {
        0: (4, 1),
        1: (3, 1),
        2: (3, 1),
        3: (2, 0),
    }


def test_line_dedup_duckdb_parity_on_multiline_corpus(spark):
    """Run the registered _DD11_SQL oracle against the SAME planted
    multi-line corpus in DuckDB (where the rule actually fires) and require
    full value parity — the check the single-line gate corpus can't give."""
    import duckdb
    import pandas as pd

    from samsa_spark.operators.dedup import _DD11_SQL, line_dedup
    from tests.oracle import compare

    boiler = "subscribe to our newsletter"
    texts = {
        0: f"{boiler}\nalpha body one\n\n{boiler}",
        1: f"beta body two\n{boiler}\nrepeated pair line",
        2: "repeated pair line\ngamma body three",
        3: "",
        4: f"   {boiler}\ndelta body four\n",
    }
    pdf = pd.DataFrame(
        {"doc_id": list(texts), "lang": "en", "text": list(texts.values())}
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = con.execute(_DD11_SQL).fetchdf()
    df = spark.createDataFrame(pdf)
    ok, msg = compare(line_dedup(df, min_count=3), oracle)
    assert ok, msg
    # and the rule itself: boiler occurs 4x (incl. within-doc repeat and
    # trim variant) -> gone everywhere; the 2x pair line survives.
    got = {r.doc_id: r.clean_text for r in line_dedup(df, min_count=3).collect()}
    assert got[0] == "alpha body one\n"
    assert got[1] == "beta body two\nrepeated pair line"
    assert got[4] == "delta body four\n"
    assert got[3] == ""


def _brute_line_dedup(texts: dict[int, str], min_count: int):
    """Python model of dd11: count trimmed non-empty lines corpus-wide,
    drop lines at/over min_count, rebuild."""
    from collections import Counter

    c = Counter()
    for t in texts.values():
        for line in t.split("\n"):
            if line.strip():
                c[line.strip()] += 1
    out = {}
    for d, t in texts.items():
        lines = t.split("\n")
        kept = [l for l in lines if not (l.strip() and c[l.strip()] >= min_count)]
        out[d] = (len(lines), len(lines) - len(kept), "\n".join(kept))
    return out


# Lines drawn from a 4-word pool over 2-4-line docs: corpus-repeat
# thresholds, trim variants, empty lines, and all-dropped docs all occur.
_line_doc_strategy = st.lists(
    st.lists(
        st.sampled_from(
            ["alpha beta", "gamma delta", " alpha beta ", "", "epsilon zeta eta"]
        ),
        min_size=1,
        max_size=4,
    ).map("\n".join),
    min_size=2,
    max_size=6,
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_line_doc_strategy, mc=st.integers(min_value=2, max_value=4))
def test_line_dedup_matches_model_on_random_corpora(spark, texts, mc):
    """dd11 must agree with the Python line-count model on random corpora
    built from a tiny line pool (trim variants and empty lines included);
    hypothesis shrinks any counterexample."""
    from samsa_spark.operators.dedup import line_dedup

    tx = {i + 1: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        [(d, "en", t) for d, t in tx.items()], "doc_id long, lang string, text string"
    )
    want = _brute_line_dedup(tx, mc)
    got = {
        r.doc_id: (r.n_lines, r.n_dropped_lines, r.clean_text)
        for r in line_dedup(df, min_count=mc).collect()
    }
    assert got == want


def test_dd12_oracle_match(spark):
    from tests.conftest import SF_SMALL
    from tests.oracle import check_query

    ok, msg = check_query(spark, "dd12_containment", SF_SMALL)
    assert ok, msg


def test_dd12_catches_quote_inclusion_jaccard_misses(spark):
    """The operator's reason to exist: a short doc embedded nearly whole
    in a much longer host has containment ~1.0 but Jaccard ~|A|/|B| — so
    dd12 flags the pair at 0.5 while dd2 at the same 0.5 threshold is
    structurally blind to it."""
    from samsa_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    quote = " ".join(f"q{i}" for i in range(12))
    host = quote + " " + " ".join(f"h{i}" for i in range(200))
    rows = [
        (1, quote),
        (2, host),
        (3, " ".join(f"z{i}" for i in range(50))),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r for r in containment_pairs(docs).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.containment_a == 1.0  # every quote shingle inside the host
    assert r.containment_b < 0.1
    jac = {(p.doc_a, p.doc_b) for p in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()}
    assert (1, 2) not in jac


def test_dd13_oracle_match(spark):
    from tests.conftest import SF_SMALL
    from tests.oracle import check_query

    ok, msg = check_query(spark, "dd13_normalized_dedup", SF_SMALL)
    assert ok, msg


def test_dd13_merges_case_punct_variants_dd1_misses(spark):
    """Case/punctuation/spacing variants of one sentence must collapse to
    a single normalized group (n_exact_variants = distinct raw texts)
    while dd1's byte-exact hash keeps them apart."""
    from samsa_spark.operators.dedup import exact_dedup, normalized_dedup

    rows = [
        (1, "Hello, World!  How are you?"),
        (2, "hello world how are you"),
        (3, "HELLO   WORLD -- how ARE you???"),
        (4, "a completely different document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in normalized_dedup(docs).collect()}
    assert got[1].canonical_id == 1 and got[2].canonical_id == 1 and got[3].canonical_id == 1
    assert got[1].n_copies == 3 and got[1].n_exact_variants == 3
    assert got[2].is_dup and got[3].is_dup and not got[1].is_dup
    assert got[4].n_copies == 1 and not got[4].is_dup
    d1 = {r.doc_id: r for r in exact_dedup(docs).collect()}
    assert all(not d1[i].is_dup for i in (1, 2, 3))  # byte-exact sees no dups


# --- dd14: character-level span dedup ----------------------------------------


def test_dd14_oracle_match(spark):
    ok, msg = check_query(spark, "dd14_char_spans", SF_SMALL)
    assert ok, msg


def test_dd14_catches_mid_token_span_dd7_misses(spark):
    """The detection-floor closure dd14 exists for: two docs share a 46-char
    run whose ends fall MID-token and which contains only 6 whole tokens —
    invisible to dd7 at min_tokens=8 (token-aligned floor), found exactly
    by dd14 at min_chars=40, with positions matching Python string search."""
    from samsa_spark.operators.dedup import char_dup_spans, substring_dup_spans

    shared = "abcdefgh tracker=xyz123 utm=999 campaign=fall pixel"
    # embed with different mid-token glue on both sides
    t1 = "intro" + shared + "tail one two three"
    t2 = "zzz" + shared + "qqq other words here"
    filler = [
        (10 + i, f"unique{i} words only here nothing shared at all {i}")
        for i in range(4)
    ]
    docs = spark.createDataFrame(
        [(1, t1), (2, t2)] + filler, "doc_id long, text string"
    )
    assert substring_dup_spans(docs, min_tokens=8).count() == 0
    got = {r.doc_id: r for r in char_dup_spans(docs, min_chars=40).collect()}
    assert set(got) == {1, 2}
    # every doc's reported span must BE the shared run (merged seeds cover
    # the full duplicated range, 1-based inclusive char positions)
    for doc_id, text in ((1, t1), (2, t2)):
        r = got[doc_id]
        start0 = text.index(shared)
        assert r.span_start == start0 + 1
        assert r.span_end == start0 + len(shared)
        assert r.n_chars == len(shared)


def test_dd14_short_docs_and_repartition_determinism(spark):
    """Docs shorter than min_chars emit nothing (no sequence(1,0) descent);
    the output is repartition-invariant."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import char_dup_spans

    tiny = spark.createDataFrame(
        [(1, "short"), (2, "short")], "doc_id long, text string"
    )
    assert char_dup_spans(tiny, min_chars=40).count() == 0
    docs = tables.load(spark, SF_SMALL, "documents")
    a = {tuple(r) for r in char_dup_spans(docs).collect()}
    b = {tuple(r) for r in char_dup_spans(docs.repartition(7)).collect()}
    assert a == b


# --- dd15: quality-aware cluster canonicalization ----------------------------


def test_dd15_oracle_match(spark):
    ok, msg = check_query(spark, "dd15_cluster_canonicalize", SF_SMALL)
    assert ok, msg


def test_dd15_keeps_best_copy_not_first(spark):
    """The reason dd15 exists over dd6's smallest-id canonical: a cluster
    where the LOWEST doc_id is a truncated mirror must keep the longer,
    later copy — and custom quality columns (here: penalize doc 2) must
    flip the keeper accordingly."""
    import pyspark.sql.functions as F

    from samsa_spark.operators.dedup import cluster_canonicalize

    full = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [
            (1, full[: len(full) // 2]),       # truncated mirror, smallest id
            (2, full),                          # full copy
            (3, full + "closing line extra"),  # fullest copy
            (10, "totally unrelated content about something else entirely"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in cluster_canonicalize(docs, min_jaccard=0.3).collect()}
    cluster = {i for i in (1, 2, 3) if got[i].cluster_size == 3}
    assert cluster == {1, 2, 3}, {i: got[i].cluster_size for i in (1, 2, 3)}
    assert all(got[i].keeper_id == 3 for i in (1, 2, 3))  # longest wins, not id 1
    assert got[3].keep and not got[1].keep and not got[2].keep
    assert got[10].keep and got[10].cluster_size == 1  # singleton keeps itself
    # pluggable quality: score doc 2 highest -> keeper flips to 2
    q = F.when(F.col("doc_id") == 2, F.lit(100)).otherwise(F.lit(0))
    got2 = {
        r.doc_id: r
        for r in cluster_canonicalize(docs, min_jaccard=0.3, quality=q).collect()
    }
    assert all(got2[i].keeper_id == 2 for i in (1, 2, 3))


def test_dd15_keep_filter_is_dd6_aware_dedup(spark):
    """Filtering keep must leave exactly one doc per dd6 cluster, covering
    every cluster."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import cluster_canonicalize, dedup_clusters

    docs = tables.load(spark, SF_SMALL, "documents")
    out = cluster_canonicalize(docs).collect()
    kept = [r for r in out if r.keep]
    clusters = {r.canonical_id for r in dedup_clusters(docs).collect()}
    assert {r.canonical_id for r in kept} == clusters
    assert len(kept) == len(clusters)  # exactly one keeper each


def test_dc2_oracle_match(spark):
    ok, msg = check_query(spark, "dc2_decontaminate_bloom", SF_SMALL)
    assert ok, msg


def test_bloom_digest_merge_and_membership_contract(spark):
    """(a) merge(thirds) == whole digest byte-for-byte (the OR-mergeable
    sketch contract cs1-cs3 follow); (b) NO false negatives: every built
    value probes True; (c) the false-positive rate on disjoint values
    stays near the sizing's analytic fpp (well under 5% here)."""
    import numpy as np
    import pyspark.sql.functions as F

    from samsa_spark.operators.dedup import bloom_contains, bloom_digest

    vals = [(f"member shingle {i}",) for i in range(3000)]
    df = spark.createDataFrame(vals, "sh string")
    whole = bloom_digest(df)
    parts = [
        bloom_digest(df.where(F.pmod(F.xxhash64("sh"), F.lit(3)) == i))
        for i in range(3)
    ]
    merged = np.frombuffer(parts[0], dtype=np.uint8)
    for p in parts[1:]:
        merged = merged | np.frombuffer(p, dtype=np.uint8)
    assert merged.tobytes() == whole

    probed = spark.createDataFrame(
        vals + [(f"absent shingle {i}",) for i in range(3000)], "sh string"
    ).withColumn("hit", bloom_contains("sh", whole))
    got = {r.sh: r.hit for r in probed.collect()}
    assert all(got[v] for v, in vals), "a Bloom filter may never miss a member"
    fpr = sum(1 for k, v in got.items() if v and k.startswith("absent")) / 3000
    assert fpr < 0.05, f"false-positive rate {fpr}"


def test_dc2_bloom_prefilter_equivalent_to_plain_dc1_on_planted_leak(spark):
    """The scale claim's correctness half: with planted benchmark leaks the
    Bloom-prefiltered shuffle form returns row-for-row what the broadcast
    form returns (no false negatives + exact confirm join)."""
    from samsa_spark.operators.dedup import decontaminate

    rows = []
    for i in range(20):  # benchmark docs
        rows.append((i, f"eval question {i} about spark joins and shuffles"))
    for i in range(20, 200):  # corpus, every 7th leaks a benchmark span
        if i % 7 == 0:
            rows.append((i, f"filler text eval question {i % 20} about spark joins and shuffles tail"))
        else:
            rows.append((i, f"ordinary training document number {i} with plain content"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {tuple(r) for r in decontaminate(docs).collect()}
    bloomed = {
        tuple(r)
        for r in decontaminate(
            docs, broadcast_benchmark=False, bloom_prefilter=True
        ).collect()
    }
    assert plain == bloomed and len(plain) == 180
    assert any(r[2] for r in plain), "planted leaks must be flagged"


def test_dd16_oracle_match(spark):
    ok, msg = check_query(spark, "dd16_prefix_jaccard", SF_SMALL)
    assert ok, msg


def test_dd16_equals_dd2_at_threshold_and_prunes_candidates(spark):
    """The prefix filter is LOSSLESS: dd16's output must equal dd2's
    filtered at the same threshold, row for row — while generating
    strictly fewer candidate pairs than dd2's full co-occurrence join
    materializes (the reason the algorithm exists)."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
        shingle_postings,
    )

    docs = tables.load(spark, SF_SMALL, "documents")
    t = 0.5
    want = {
        tuple(r)
        for r in ngram_jaccard_pairs(docs).where(F.col("jaccard") >= t).collect()
    }
    got = {tuple(r) for r in prefix_jaccard_pairs(docs, min_jaccard=t).collect()}
    assert got == want and len(got) > 0

    # candidate reduction: prefix-join pairs << full co-occurrence pairs
    post = shingle_postings(docs).select("doc_id", F.xxhash64("sh").alias("sh_h"))
    dft = post.groupBy("sh_h").agg(F.count("*").alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "sh_h")
    ranked = (
        post.join(dft, "sh_h")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    )
    pref = ranked.where(
        F.col("pos") <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1
    ).select("doc_id", "sh_h")

    def pairs(frame):
        a, b = frame.alias("a"), frame.alias("b")
        return (
            a.join(
                b,
                (F.col("a.sh_h") == F.col("b.sh_h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )

    full = pairs(post)
    pruned = pairs(pref)
    assert pruned < full * 0.2, (pruned, full)
    # and the candidate set still covers every qualifying pair
    assert pruned >= len(got)


def test_dd16_prefix_length_theorem_on_planted_pairs(spark):
    """Hand-planted docs straddling the threshold: a pair at jaccard just
    above t must survive, a pair below t must not appear, and permuting
    word order (same shingle SET not guaranteed) never creates false
    positives."""
    from samsa_spark.operators.dedup import prefix_jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"          # high overlap with base
    far = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "doc_id long, text string"
    )
    got = {(r.doc_a, r.doc_b): r.jaccard for r in prefix_jaccard_pairs(docs, 0.5).collect()}
    assert (0, 1) in got and got[(0, 1)] >= 0.5
    assert all(2 not in k for k in got)


# --- dc3: span-level decontamination strip -------------------------------------


def test_dc3_oracle_match(spark):
    ok, msg = check_query(spark, "dc3_strip_contaminated_spans", SF_SMALL)
    assert ok, msg


def test_dc3_planted_leak_stripped_exactly(spark):
    """A corpus doc embedding a 45-char benchmark passage loses exactly
    that passage (plus nothing else); clean docs come back verbatim; a
    fully-leaked doc comes back empty."""
    from samsa_spark.operators.dedup import strip_contaminated_spans

    leak = "the quick brown foxes jump over the lazy dogs"
    assert len(leak) == 45  # > the min_chars=40 window below
    bench_doc = "benchmark question: " + leak + " benchmark answer text"
    t_leaky = "lead-in words " + leak + " trailing corpus words"
    t_clean = "entirely original corpus text with no benchmark overlap at all"
    docs = spark.createDataFrame(
        [(1, bench_doc), (100, t_leaky), (101, t_clean), (102, leak)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in strip_contaminated_spans(docs, min_chars=40).collect()
    }
    assert set(got) == {100, 101, 102}
    assert got[101].clean_text == t_clean  # verbatim
    assert got[101].n_kept_chars == len(t_clean)
    assert got[102].clean_text == "" and got[102].n_kept_chars == 0
    # the leaky doc keeps its lead-in and tail; the maximal stripped range
    # is the shared run INCLUDING the shared space padding on both sides
    r = got[100]
    assert leak not in r.clean_text
    assert r.clean_text.startswith("lead-in words")
    assert r.clean_text.endswith("trailing corpus words")
    assert r.n_chars == len(t_leaky)
    assert r.n_kept_chars == len(r.clean_text) < len(t_leaky)


def test_dc3_every_corpus_doc_returned_and_benchmark_excluded(spark):
    from samsa_spark import tables
    from samsa_spark.operators.dedup import strip_contaminated_spans

    docs = tables.load(spark, SF_SMALL, "documents")
    out = strip_contaminated_spans(docs)
    n_corpus = docs.where("doc_id >= 20").count()
    assert out.count() == n_corpus
    assert out.where("doc_id < 20").count() == 0
    # invariant: kept never exceeds original
    assert out.where("n_kept_chars > n_chars").count() == 0


def test_dc3_model_check_random_corpora(spark):
    """Exact-equality model check: on dense-repeat random corpora (2-letter
    alphabet, so benchmark/corpus window collisions are everywhere) the
    stripped text equals an independent Python rebuild — union of leaked
    k-windows, island-merged, gaps concatenated."""
    import random

    from samsa_spark.operators.dedup import strip_contaminated_spans

    k = 6
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        texts = {
            d: "".join(rng.choice("ab") for _ in range(rng.randint(10, 70)))
            for d in list(range(0, 3)) + list(range(20, 28))
        }
        bench_windows = set()
        for d, t in texts.items():
            if d < 20:
                for i in range(len(t) - k + 1):
                    bench_windows.add(t[i : i + k])

        def model_clean(t):
            covered = [False] * len(t)
            for i in range(len(t) - k + 1):
                if t[i : i + k] in bench_windows:
                    for j in range(i, i + k):
                        covered[j] = True
            return "".join(c for c, cov in zip(t, covered) if not cov)

        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            r.doc_id: r.clean_text
            for r in strip_contaminated_spans(docs, min_chars=k).collect()
        }
        want = {d: model_clean(t) for d, t in texts.items() if d >= 20}
        assert got == want, f"seed {seed}"


# --- dd19: incremental exact-Jaccard dedup index --------------------------------


def test_dd19_oracle_match(spark):
    ok, msg = check_query(spark, "dd19_incremental_dedup", SF_SMALL)
    assert ok, msg


def test_dd19_equals_batch_form_on_union(spark):
    """The incremental path's exactness contract: dedup_against_index over
    a frozen-order index equals prefix_jaccard_pairs on the union corpus,
    restricted to pairs touching the batch — prefix filtering is lossless
    under ANY single total order, so the frozen save-time order changes
    selectivity but never the verified output."""
    import tempfile

    from samsa_spark import tables
    from samsa_spark.operators.dedup import (
        dedup_against_index,
        prefix_jaccard_pairs,
        save_dedup_index,
    )

    docs = tables.load(spark, SF_SMALL, "documents")
    idx = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 2 = 1")
    p = tempfile.mkdtemp(prefix="dd19-eq-")
    save_dedup_index(idx, p)
    got = {tuple(r) for r in dedup_against_index(spark, p, batch).collect()}
    want = {
        tuple(r)
        for r in prefix_jaccard_pairs(docs).collect()
        if r.doc_a % 2 == 1 or r.doc_b % 2 == 1
    }
    assert got == want and got


def test_dd19_append_matches_fresh_rebuild(spark):
    """append_dedup_index keeps the index exact: after appending batch 1,
    querying batch 2 returns EXACTLY what a fresh index built over
    (corpus UNION batch 1) returns — the frozen df order differs from the
    rebuild's, but verified outputs are order-invariant. Drift rows
    accumulate with monotone append ids."""
    import tempfile

    from samsa_spark import tables
    from samsa_spark.operators.dedup import (
        append_dedup_index,
        dedup_against_index,
        save_dedup_index,
    )

    docs = tables.load(spark, SF_SMALL, "documents")
    base = docs.where("doc_id % 3 = 0")
    b1 = docs.where("doc_id % 3 = 1")
    b2 = docs.where("doc_id % 3 = 2")
    p1 = tempfile.mkdtemp(prefix="dd19-app-")
    save_dedup_index(base, p1)
    drift = append_dedup_index(spark, p1, b1)
    assert {r.append_id for r in drift.collect()} == {0}
    assert drift.where("unseen_fraction < 0 OR unseen_fraction > 1").count() == 0
    got = {tuple(r) for r in dedup_against_index(spark, p1, b2).collect()}
    p2 = tempfile.mkdtemp(prefix="dd19-fresh-")
    save_dedup_index(docs.where("doc_id % 3 != 2"), p2)
    want = {tuple(r) for r in dedup_against_index(spark, p2, b2).collect()}
    assert got == want and got
    drift2 = append_dedup_index(spark, p1, b2)
    assert {r.append_id for r in drift2.collect()} == {0, 1}


def test_dd19_index_keeps_postings_in_one_ranked_table(spark, tmp_path):
    """save_dedup_index and append_dedup_index keep the postings in ONE
    table: no ``ranked`` directory, and one ``sets`` row per doc whose
    ``ranked_shs`` is its shingle-hash set in the frozen ``(df, sh_h)``
    order (a shingle unseen at save time ranks at df=0)."""
    import os

    import pyspark.sql.functions as F

    from samsa_spark.operators.dedup import (
        append_dedup_index,
        save_dedup_index,
        shingle_postings,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y"), (3, "a b c d e f g h")],
        "doc_id long, text string",
    )
    p = str(tmp_path / "dd")
    save_dedup_index(docs.where("doc_id < 3"), p)
    assert sorted(os.listdir(p)) == ["df", "sets"]
    append_dedup_index(spark, p, docs.where("doc_id = 3"))
    assert sorted(os.listdir(p)) == ["df", "drift", "sets"]

    sets = spark.read.parquet(f"{p}/sets")
    assert sets.columns == ["doc_id", "n_sh", "ranked_shs"]
    df = {r.sh_h: r.df for r in spark.read.parquet(f"{p}/df").collect()}
    shs = {
        r.doc_id: r.hs
        for r in shingle_postings(docs)
        .groupBy("doc_id")
        .agg(F.collect_list(F.xxhash64("sh")).alias("hs"))
        .collect()
    }
    got = {r.doc_id: (r.n_sh, r.ranked_shs) for r in sets.collect()}
    want = {
        d: (len(hs), sorted(hs, key=lambda h: (df.get(h, 0), h)))
        for d, hs in shs.items()
    }
    assert got == want
    assert any(h not in df for h in got[3][1])  # doc 3 brings unseen shingles


def test_dd19_old_two_table_layout_fails_loudly(spark, tmp_path):
    """An index in the old layout (per-posting ``ranked`` rows beside
    unordered ``sets.shs`` arrays) must raise, not serve wrong prefixes:
    the query and the append fail at analysis, and the append writes
    nothing."""
    import os

    from pyspark.errors import AnalysisException

    from samsa_spark import index
    from samsa_spark.operators.dedup import SHINGLE_K, dedup_against_index

    p = str(tmp_path / "old")
    spark.createDataFrame([(11, 1), (12, 2)], "sh_h long, df long").write.parquet(
        f"{p}/df"
    )
    spark.createDataFrame(
        [(1, 11, 1, 2), (1, 12, 2, 2)], "doc_id long, sh_h long, pos int, n_sh long"
    ).write.parquet(f"{p}/ranked")
    spark.createDataFrame(
        [(1, [12, 11], 2)], "doc_id long, shs array<bigint>, n_sh long"
    ).write.parquet(f"{p}/sets")
    index._write_meta(spark, p, "dedup", shingle_k=SHINGLE_K)
    before = sorted(os.listdir(f"{p}/sets"))
    batch = spark.createDataFrame([(2, "a b c d e f")], "doc_id long, text string")

    for call in (
        lambda: index.query_dedup(spark, p, batch).collect(),
        lambda: dedup_against_index(spark, p, batch).collect(),
        lambda: index.append_dedup(spark, p, batch).collect(),
    ):
        with pytest.raises(AnalysisException, match="ranked_shs"):
            call()
    assert sorted(os.listdir(f"{p}/sets")) == before
    assert not os.path.exists(f"{p}/drift")


# --- dd17: exact suffix-array span dedup --------------------------------------


def test_dd17_oracle_match(spark):
    ok, msg = check_query(spark, "dd17_exact_spans", SF_SMALL)
    assert ok, msg


def test_dd17_catches_sub_window_span_dd14_misses(spark):
    """The floor-closure gate from the round-9 verdict: two docs share a
    30-char run — BELOW dd14's 40-char rolling window, so dd14 at its
    default provably returns nothing — and dd17 (suffix array, default
    min_chars=24) reports it exactly, positions matching Python search."""
    from samsa_spark.operators.dedup import char_dup_spans, suffix_dup_spans

    shared = "tracker=xyz123 utm=999 pix=77"  # 29 chars < 40
    assert len(shared) == 29
    t1 = "intro words here " + shared + " tail one two"
    t2 = "completely different lead " + shared + " other ending"
    filler = [  # every token carries i: no >=24-char run shared between fillers
        (10 + i, f"w{i}a{i} x{i}b{i} y{i}c{i} z{i}d{i} q{i}e{i} r{i}f{i}")
        for i in range(4)
    ]
    docs = spark.createDataFrame(
        [(1, t1), (2, t2)] + filler, "doc_id long, text string"
    )
    assert char_dup_spans(docs).count() == 0  # dd14 default: invisible
    got = {r.doc_id: r for r in suffix_dup_spans(docs).collect()}
    assert set(got) == {1, 2}
    # the maximal shared run includes the space padding on both sides of
    # `shared` (both docs embed it as " <shared> "), so expect that extent
    for doc_id, text in ((1, t1), (2, t2)):
        r = got[doc_id]
        start0 = text.index(" " + shared + " ")
        assert r.span_start == start0 + 1
        assert r.span_end == start0 + len(shared) + 2
        assert r.n_chars == len(shared) + 2


def _dd17_model(texts, k):
    """Independent ground truth: union of duplicated k-char windows
    (corpus-wide occurrence >= 2, overlap counting), merged
    overlap-or-touch — provably equal to the union of all repeated
    substrings >= k (the window-cover argument)."""
    from collections import Counter

    grams = Counter()
    for t in texts.values():
        for i in range(len(t) - k + 1):
            grams[t[i : i + k]] += 1
    out = set()
    for d, t in texts.items():
        spans = []
        for i in range(len(t) - k + 1):
            if grams[t[i : i + k]] < 2:
                continue
            if spans and i <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], i + k - 1)
            else:
                spans.append([i, i + k - 1])
        for s, e in spans:
            out.add((d, s + 1, e + 1, e - s + 1))
    return out


def test_dd17_model_check_random_corpora(spark):
    """Exact-equality model check on dense-repeat random corpora (2-letter
    alphabet forces heavy within- and cross-doc repetition, overlapping
    self-repeats included), plus an all-unique corpus (empty output)."""
    import random

    from samsa_spark.operators.dedup import suffix_dup_spans

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        texts = {
            d: "".join(rng.choice("ab") for _ in range(rng.randint(20, 80)))
            for d in range(6)
        }
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {tuple(r) for r in suffix_dup_spans(docs, min_chars=6).collect()}
        assert got == _dd17_model(texts, 6), f"seed {seed}"
        # chunk_bytes=25: several chunks, so most duplicate pairs cross a
        # chunk boundary and the equality exercises the anchor bridge
        multi = {
            tuple(r)
            for r in suffix_dup_spans(docs, min_chars=6, chunk_bytes=25).collect()
        }
        assert multi == _dd17_model(texts, 6), f"seed {seed} multi-chunk"
    unique = {  # no >=24-char run shared across docs (every token carries d)
        d: f"t{d}a{d} u{d}b{d} v{d}c{d} w{d}e{d} y{d}f{d} z{d}g{d} s{d}h{d}"
        for d in range(3)
    }
    docs = spark.createDataFrame(list(unique.items()), "doc_id long, text string")
    assert suffix_dup_spans(docs, min_chars=24).count() == 0


def test_dd17_cross_chunk_bridge(spark):
    """The round-10 verdict's planted gate: a 29-char duplicate whose two
    docs live in DIFFERENT chunks. The pre-round-11 chunked dd17 (exact
    only within a chunk) provably missed this by construction — with
    chunk_bytes below a single doc's length, cumulative-size binning puts
    every doc in its own chunk, so no within-chunk pass can pair them —
    and the anchor bridge catches it with exact extents."""
    from samsa_spark.operators.dedup import suffix_dup_spans

    shared = "tracker=xyz123 utm=999 pix=77"  # 29 chars
    assert len(shared) == 29
    t1 = "alpha filler one two three " + shared + " omega end bit"
    t2 = "totally unrelated lead-in wording " + shared + " closer words"
    docs = spark.createDataFrame([(0, t1), (7, t2)], "doc_id long, text string")
    # chunk_bytes=8 << any doc length: every doc is its own chunk
    got = {
        r.doc_id: r
        for r in suffix_dup_spans(docs, min_chars=24, chunk_bytes=8).collect()
    }
    assert set(got) == {0, 7}
    for doc_id, text in ((0, t1), (7, t2)):
        r = got[doc_id]
        start0 = text.index(" " + shared + " ")
        assert r.span_start == start0 + 1
        assert r.span_end == start0 + len(shared) + 2
        assert r.n_chars == len(shared) + 2


def test_dd17_multibyte_cross_chunk(spark):
    """Codepoint semantics: a duplicated span containing multibyte
    characters (CJK + accents) crossing a chunk boundary gets exact
    CODEPOINT extents — the utf-32 suffix-array/anchor path and Spark/
    DuckDB string positions must agree on non-ASCII text."""
    from samsa_spark.operators.dedup import suffix_dup_spans

    shared = "数据清洗很重要 déduplication exacte"
    assert len(shared) == 28  # codepoints, > the min_chars=24 below
    t1 = "prefix one " + shared + " tail côté A"
    t2 = "another léad " + shared + " end côté B"
    docs = spark.createDataFrame([(0, t1), (9, t2)], "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in suffix_dup_spans(docs, min_chars=24, chunk_bytes=8).collect()
    }
    assert set(got) == {0, 9}
    for doc_id, text in ((0, t1), (9, t2)):
        r = got[doc_id]
        start0 = text.index(" " + shared + " ")
        assert r.span_start == start0 + 1
        assert r.span_end == start0 + len(shared) + 2


def test_dd17_full_duplicate_docs_across_chunks(spark):
    """Whole-doc duplicates are reported full-extent whether the copies
    share a chunk or not (the bridge's segment-stitch + full-coverage
    path), and the result is chunk_bytes-invariant."""
    from samsa_spark.operators.dedup import suffix_dup_spans

    doc = "this exact boilerplate paragraph repeats verbatim in both docs"
    n = len(doc)
    for cb in (8, n, 1 << 30):  # own-chunk / boundary / single-chunk
        docs = spark.createDataFrame(
            [(0, doc), (1, doc)], "doc_id long, text string"
        )
        got = {
            r.doc_id: r
            for r in suffix_dup_spans(docs, min_chars=24, chunk_bytes=cb).collect()
        }
        assert set(got) == {0, 1}, f"chunk_bytes={cb}"
        assert all(
            r.span_start == 1 and r.span_end == n and r.n_chars == n
            for r in got.values()
        ), f"chunk_bytes={cb}"


def test_dd17_determinism_and_nul_rejection(spark):
    """Repartition-invariant output on the fixture corpus; NUL characters
    in input raise the documented actionable error."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from samsa_spark import tables
    from samsa_spark.operators.dedup import suffix_dup_spans

    docs = tables.load(spark, SF_SMALL, "documents")
    a = {tuple(r) for r in suffix_dup_spans(docs).collect()}
    b = {tuple(r) for r in suffix_dup_spans(docs.repartition(7)).collect()}
    assert a == b and a
    bad = spark.createDataFrame(
        [(1, "has a \x00 nul and is long enough to chunk-scan properly ok"),
         (2, "has a \x00 nul and is long enough to chunk-scan properly ok")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="NUL|PythonException") as ei:
        suffix_dup_spans(bad).count()
    assert "NUL character" in str(ei.value)


# --- dd18: winnowed (minimizer-sampled) span dedup ----------------------------


def test_dd18_oracle_match(spark):
    ok, msg = check_query(spark, "dd18_winnow_spans", SF_SMALL)
    assert ok, msg


def _dd18_model(texts, k, w):
    """Independent pure-Python winnowing (Schleimer et al. 2003): per
    window of w gram positions keep the (md5, pos)-min gram, count anchor
    fingerprints corpus-wide, merge duplicated anchors into islands."""
    import hashlib
    from collections import Counter

    per_doc = {}
    for d, t in texts.items():
        n = len(t) - k + 1
        fs = [hashlib.md5(t[i : i + k].encode()).hexdigest() for i in range(max(n, 0))]
        sel = set()
        for s in range(0, n - w + 1):
            sel.add(min(range(s, s + w), key=lambda i: (fs[i], i)))
        per_doc[d] = [(i, fs[i]) for i in sorted(sel)]
    cnt = Counter(f for lst in per_doc.values() for _, f in lst)
    out = set()
    for d, lst in per_doc.items():
        islands = []  # [first_pos0, last_pos0, n_anchors]
        for i, f in lst:
            if cnt[f] < 2:
                continue
            if islands and i <= islands[-1][1] + k:
                islands[-1][1] = i
                islands[-1][2] += 1
            else:
                islands.append([i, i, 1])
        for i0, i1, c in islands:
            out.add((d, i0 + 1, i1 + k, i1 + k - i0, c))
    return out


def test_dd18_model_check_random_corpora(spark):
    """Exact-equality vs the independent Python winnower on dense-repeat
    random corpora (3-letter alphabet, heavy overlap) across seeds."""
    import random

    from samsa_spark.operators.dedup import winnow_dup_spans

    for seed in (4, 5, 6):
        rng = random.Random(seed)
        texts = {
            d: "".join(rng.choice("abc") for _ in range(rng.randint(30, 120)))
            for d in range(6)
        }
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {tuple(r) for r in winnow_dup_spans(docs, min_chars=5, window=4).collect()}
        assert got == _dd18_model(texts, 5, 4), f"seed {seed}"


def test_dd18_guarantee_at_threshold(spark):
    """The winnowing theorem made concrete: a planted shared run of exactly
    k + w - 1 chars (23 at the defaults — sub-dd14-floor) must be detected
    on BOTH docs, wherever it sits, because it contains one full minimizer
    window and both copies pick the same gram content."""
    from samsa_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
        char_dup_spans,
        winnow_dup_spans,
    )

    shared = "boilerplate-fragment-23c"[: WINNOW_K + WINNOW_W - 1]
    assert len(shared) == WINNOW_K + WINNOW_W - 1 == 23
    t1 = "m0n1 o2p3 q4r5 s6t7 head " + shared + " u8v9 w0x1 y2z3 tailone"
    t2 = "completely-other-lead-in " + shared + " different-trailer-here"
    filler = [
        (10 + i, f"a{i}b{i} c{i}d{i} e{i}f{i} g{i}h{i} j{i}k{i} l{i}m{i}")
        for i in range(4)
    ]
    docs = spark.createDataFrame(
        [(1, t1), (2, t2)] + filler, "doc_id long, text string"
    )
    assert char_dup_spans(docs).count() == 0  # below dd14's default floor
    got = winnow_dup_spans(docs).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2}
    # every reported span must lie inside the planted run (the only
    # duplicated content), and each doc must report at least one
    for doc_id, text in ((1, t1), (2, t2)):
        lo = text.index(shared) + 1
        hi = lo + len(shared) - 1
        spans = by_doc[doc_id]
        assert spans
        for r in spans:
            # ±1: both docs pad the run with spaces, so the true duplicated
            # region is one char wider on each side
            assert lo - 1 <= r.span_start <= r.span_end <= hi + 1
    # anchor-sampling honesty: detection, not full-extent coverage, is the
    # contract — dd17/dd14 give extents


def test_dd18_determinism_and_density(spark):
    """Repartition-invariant; and the minimizer sampling really is sparse —
    on the fixture corpus the anchor posting count stays under 40% of the
    every-position count dd14 would shuffle (expected ~2/(w+1) ~ 22%)."""
    import hashlib

    from samsa_spark import tables
    from samsa_spark.operators.dedup import WINNOW_K, WINNOW_W, winnow_dup_spans

    docs = tables.load(spark, SF_SMALL, "documents")
    a = {tuple(r) for r in winnow_dup_spans(docs).collect()}
    b = {tuple(r) for r in winnow_dup_spans(docs.repartition(7)).collect()}
    assert a == b and a
    rows = docs.select("doc_id", "text").collect()
    total_pos = sum(max(len(r.text) - WINNOW_K + 1, 0) for r in rows)
    n_anchors = 0
    for r in rows:
        n = len(r.text) - WINNOW_K + 1
        fs = [
            hashlib.md5(r.text[i : i + WINNOW_K].encode()).hexdigest()
            for i in range(max(n, 0))
        ]
        sel = set()
        for s in range(0, n - WINNOW_W + 1):
            sel.add(min(range(s, s + WINNOW_W), key=lambda i: (fs[i], i)))
        n_anchors += len(sel)
    assert n_anchors / total_pos < 0.40


def test_dd17_equals_dd14_at_same_window_single_chunk(spark):
    """Cross-IMPLEMENTATION invariant: dd14 (every-position xxhash postings
    + island merge) and dd17 (per-chunk suffix array + LCP) compute the
    same coverage semantics — the union of repeated >=k-char substrings
    merged into maximal ranges (the window-cover argument in dd17's
    docstring). On a single-chunk corpus at the SAME k they must agree
    row-for-row (modulo dd14's extra n_spans column): two algorithmically
    independent paths to identical output, on both the fixture corpus and
    dense random text."""
    import random

    from samsa_spark import tables
    from samsa_spark.operators.dedup import char_dup_spans, suffix_dup_spans

    docs = tables.load(spark, SF_SMALL, "documents")
    a = {
        (r.doc_id, r.span_start, r.span_end, r.n_chars)
        for r in char_dup_spans(docs, min_chars=40).collect()
    }
    b = {tuple(r) for r in suffix_dup_spans(docs, min_chars=40, chunk_bytes=1 << 30).collect()}
    assert a == b and a
    rng = random.Random(11)
    texts = [
        (d, "".join(rng.choice("ab") for _ in range(rng.randint(30, 90))))
        for d in range(8)
    ]
    tiny = spark.createDataFrame(texts, "doc_id long, text string")
    a2 = {
        (r.doc_id, r.span_start, r.span_end, r.n_chars)
        for r in char_dup_spans(tiny, min_chars=7).collect()
    }
    b2 = {tuple(r) for r in suffix_dup_spans(tiny, min_chars=7, chunk_bytes=1 << 30).collect()}
    assert a2 == b2


def test_dd18_anchors_are_subset_of_dd14_coverage(spark):
    """Containment invariant: every dd18 anchor island is a genuine
    duplicated region, so at the same k it must lie INSIDE some dd14
    island (dd14 = the full coverage union, dd18 = a minimizer sample of
    the same flagged positions)."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import WINNOW_K, char_dup_spans, winnow_dup_spans

    docs = tables.load(spark, SF_SMALL, "documents")
    full = {}
    for r in char_dup_spans(docs, min_chars=WINNOW_K).collect():
        full.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for r in winnow_dup_spans(docs).collect():
        spans = full.get(r.doc_id, [])
        assert any(s <= r.span_start and r.span_end <= e for s, e in spans), (
            r.doc_id,
            r.span_start,
            r.span_end,
        )


def test_prefix_ceil_fp_exact_boundary_pair(spark):
    """Round-11 advice regression: ceil(t*n_sh) must be computed FP-exactly.
    With t=0.8 and n_sh=5, 0.8*5 floats to 4.000000000000001, a raw ceil
    gives 5 and the prefix shrinks to 1 element — dropping this planted
    subset pair (jaccard exactly 0.8: A's 4 shingles all inside B's 5,
    where B's one unique shingle has df smaller than every shared one and
    monopolizes a length-1 prefix). Both dd16 and dd19 must find it."""
    import tempfile

    from samsa_spark.operators.dedup import (
        dedup_against_index,
        prefix_jaccard_pairs,
        save_dedup_index,
    )

    a = "a b c d e f"        # 4 shingles
    b = "a b c d e f g"      # 5 shingles = A's 4 + "e f g"
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    got = prefix_jaccard_pairs(docs, min_jaccard=0.8).collect()
    assert [(r.doc_a, r.doc_b, r.n_inter, r.jaccard) for r in got] == [(1, 2, 4, 0.8)]

    # incremental form: index holds A, the batch brings B (B's unique
    # shingle has frozen df=0, so it leads B's ranked order — exactly the
    # arrangement where a one-short prefix loses the pair)
    p = tempfile.mkdtemp(prefix="dd19-ceil-")
    save_dedup_index(docs.where("doc_id = 1"), p)
    inc = dedup_against_index(
        spark, p, docs.where("doc_id = 2"), min_jaccard=0.8
    ).collect()
    assert [(r.doc_a, r.doc_b, r.n_inter, r.jaccard) for r in inc] == [(1, 2, 4, 0.8)]


def test_dd17_mega_hot_boilerplate(spark):
    """The round-11 verdict's residual skew case: ONE boilerplate string
    duplicated across many docs and many chunks. The hot filter must route
    it without building an O(occurrences) aggregate row (two-step
    countDistinct + join), the bridge must collapse the identical contexts
    to one suffix-array representative, and every copy must still report
    the exact span. bridge_buckets=None exercises the auto-sizing path."""
    from samsa_spark.operators.dedup import suffix_dup_spans

    boiler = "COPYRIGHT 2024 EXAMPLE CORP ALL RIGHTS RESERVED."
    assert len(boiler) == 48
    rows = []
    for i in range(60):
        filler = f"u{i}q{i} v{i}r{i} w{i}s{i} x{i}t{i} y{i}z{i}"
        rows.append((i, filler + " " + boiler + " " + f"tail{i}end{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # tiny chunks force nearly every copy into its own chunk
    got = {r.doc_id: r for r in suffix_dup_spans(docs, chunk_bytes=128).collect()}
    assert set(got) == set(range(60))
    for i in range(60):
        text = rows[i][1]
        s0 = text.index(boiler)  # expected island: " <boiler> " with pads
        r = got[i]
        sub = text[r.span_start - 1 : r.span_end]
        assert boiler in sub, (i, sub)
        assert r.span_start - 1 <= s0 and s0 + len(boiler) <= r.span_end, (i, r)


def test_dc3_beyond_broadcast_fallback_equivalent_and_hash_routed(spark):
    """Round-11 verdict task 2: dc3's broadcast_benchmark=False regime must
    (a) return EXACTLY the broadcast path's output (Bloom prefilter has no
    false negatives; hash routing only adds candidates the string verify
    kills), and (b) never ship a raw window string through the corpus-side
    exchange — every Exchange whose input carries the posting position
    must carry the 8-byte hash, not the 25-char window."""
    from samsa_spark import tables
    from samsa_spark.operators.dedup import strip_contaminated_spans

    docs = tables.load(spark, SF_SMALL, "documents")
    want = {
        (r.doc_id, r.n_chars, r.n_kept_chars, r.clean_text)
        for r in strip_contaminated_spans(docs).collect()
    }
    fb = strip_contaminated_spans(docs, broadcast_benchmark=False)
    got = {
        (r.doc_id, r.n_chars, r.n_kept_chars, r.clean_text) for r in fb.collect()
    }
    assert got == want and got

    import re

    p = fb._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # formatted explain: each node prints "(n) <Node>" then "Input [n]:
    # [cols]". No SHUFFLE exchange may carry the raw window string — the
    # only place w crosses executors is the contamination-sized verify
    # BroadcastExchange. (The corpus-survivor side routes as (doc_id,
    # pos, h); whether Spark shuffles or broadcasts it by size, w never
    # rides along.)
    lines = p.split("\n")
    shuffles = 0
    for i, ln in enumerate(lines):
        if not re.match(r"^\(\d+\) Exchange\b", ln.strip()):
            continue  # plain Exchange = shuffle; BroadcastExchange exempt
        shuffles += 1
        inp = lines[i + 1]
        assert inp.lstrip().startswith("Input"), inp
        assert "w#" not in inp, inp
    assert shuffles >= 1, "expected at least one shuffle exchange in the plan"


def test_dc4_oracle_match(spark):
    from tests.oracle import check_query

    ok, msg = check_query(spark, "dc4_contamination_report", SF_SMALL)
    assert ok, msg


def test_dc4_planted_leak_fractions(spark):
    """Benchmark-side report with hand-computable fractions: a fully
    quoted eval item reports leaked_frac 1.0 and counts both quoting
    corpus docs; a partially quoted one reports exactly its leaked
    window count; a clean one reports zeros; a too-short one reports
    n_windows 0 and frac 0.0. Explicit benchmark frame (production
    form)."""
    from samsa_spark.operators.dedup import CHAR_SPAN_K, contamination_report

    k = CHAR_SPAN_K  # 40
    secret = "the quick brown fox jumps over the lazy dog tonight"  # 51 chars
    leak2 = "every good boy deserves fudge and the cat sat quietly"  # 54 chars
    partial = leak2 + " plus an unquoted unique tail z9"
    bench = spark.createDataFrame(
        [
            (0, secret),
            (1, partial),
            (2, "completely clean benchmark item nothing quotes this one"),
            (3, "tiny"),
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (100, "intro " + secret + " outro"),     # full quote
            (101, "other lead-in " + secret),        # full quote again
            (102, "xx " + leak2 + "#yy"),            # quotes only leak2 (distinct continuation so the boundary window cannot leak)
            (103, "unrelated corpus text entirely here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.bench_id: (r.n_windows, r.n_corpus_docs, r.n_leaked_windows, r.leaked_frac)
        for r in contamination_report(corpus, benchmark=bench).collect()
    }
    nw0 = len(secret) - k + 1
    assert got[0] == (nw0, 2, nw0, 1.0)
    # partial: corpus doc 102 quotes leak2 whole -> the bench windows
    # fully inside leak2 leak (positions 1..len(leak2)-k+1), the ones
    # crossing into the unique tail don't
    nw1 = len(partial) - k + 1
    leaked1 = len(leak2) - k + 1
    assert got[1] == (nw1, 1, leaked1, round(leaked1 / nw1, 6))
    assert got[2][1:] == (0, 0, 0.0)
    assert got[3] == (0, 0, 0, 0.0)


# --- nv1: per-doc novelty (unique-shingle fraction) ---------------------------


def test_nv1_oracle_match(spark):
    ok, msg = check_query(spark, "nv1_novelty_scores", SF_SMALL)
    assert ok, msg


def test_nv1_planted_boilerplate_and_fresh(spark):
    """Docs 0/1 share their whole shingle set (pure boilerplate -> novelty
    0 for both), doc 2 is entirely fresh (novelty 1), doc 3 mixes one
    shared leading shingle window with a fresh tail, doc 4 is too short
    for any shingle (novelty NULL, not 1.0)."""
    from samsa_spark.operators.dedup import novelty_scores

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on the mat"),
            (2, "seven fresh words never seen elsewhere today"),
            (3, "the cat sat quietly eating pure tuna"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in novelty_scores(docs).collect()}
    assert got[0].novelty == 0.0 and got[1].novelty == 0.0
    assert got[2].novelty == 1.0
    # doc 3: shingles = 5 windows; only 'the cat sat' is shared (docs 0/1)
    assert got[3].n_shingles == 5 and got[3].n_novel == 4
    assert got[3].novelty == round(4 / 5, 6)
    assert got[4].n_shingles == 0 and got[4].novelty is None


def test_propagate_min_labels_driver_regime_matches_loop(spark):
    """The size-conditional driver union-find (r14 optimization) must
    return exactly the distributed loop's labels — chains crossing the
    min, singletons, string and long ids, and edges whose endpoint is
    not a node (inert in both regimes)."""
    from samsa_spark.operators.dedup import propagate_min_labels

    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    # two components {0,3,5,9} (chained), {2,7}; 1,4,6,8 singletons;
    # one edge to a phantom node 99 that must stay inert
    edges = spark.createDataFrame(
        [(9, 3), (3, 5), (5, 0), (7, 2), (4, 99)], "src long, dst long"
    )
    fast = {
        (r.id, r.label)
        for r in propagate_min_labels(nodes, edges).collect()
    }
    slow = {
        (r.id, r.label)
        for r in propagate_min_labels(nodes, edges, driver_max_nodes=0).collect()
    }
    assert fast == slow
    assert (9, 0) in fast and (7, 2) in fast and (4, 4) in fast

    snodes = spark.createDataFrame([("b",), ("a",), ("c",), ("d",)], "id string")
    sedges = spark.createDataFrame([("c", "b"), ("b", "a")], "src string, dst string")
    sfast = {
        (r.id, r.label) for r in propagate_min_labels(snodes, sedges).collect()
    }
    sslow = {
        (r.id, r.label)
        for r in propagate_min_labels(snodes, sedges, driver_max_nodes=0).collect()
    }
    assert sfast == sslow == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d")}


def test_propagate_min_labels_string_cap_engages_distributed(spark, monkeypatch):
    """Byte-aware cap (r15): string-keyed graphs use the LOWER
    DRIVER_CC_MAX_STRING_NODES cap — above it the distributed loop must
    engage (observed by spying on the fast-path entry point) — and both
    regimes agree."""
    import samsa_spark.operators.dedup as D

    calls = []
    orig = D._driver_min_labels
    monkeypatch.setattr(
        D,
        "_driver_min_labels",
        lambda *a, **k: (calls.append(1), orig(*a, **k))[1],
    )
    snodes = spark.createDataFrame(
        [(f"n{i:02d}",) for i in range(6)], "id string"
    )
    sedges = spark.createDataFrame([("n03", "n01")], "src string, dst string")
    monkeypatch.setattr(D, "DRIVER_CC_MAX_STRING_NODES", 3)
    over = D.propagate_min_labels(snodes, sedges)  # 6 string ids > cap 3
    assert not calls  # distributed loop engaged
    monkeypatch.setattr(D, "DRIVER_CC_MAX_STRING_NODES", 50_000)
    under = D.propagate_min_labels(snodes, sedges)
    assert calls  # driver regime engaged
    assert {(r.id, r.label) for r in over.collect()} == {
        (r.id, r.label) for r in under.collect()
    }


def test_propagate_min_labels_null_ids_agree_across_regimes(spark):
    """NULL node ids / edge endpoints are inert in the loop (joins never
    match NULL); the driver union-find must agree instead of raising
    (r14 ADVICE item 2)."""
    from samsa_spark.operators.dedup import propagate_min_labels

    nodes = spark.createDataFrame([(0,), (1,), (None,)], "id long")
    edges = spark.createDataFrame([(0, 1), (None, 0)], "src long, dst long")
    fast = {
        (r.id, r.label) for r in propagate_min_labels(nodes, edges).collect()
    }
    slow = {
        (r.id, r.label)
        for r in propagate_min_labels(nodes, edges, driver_max_nodes=0).collect()
    }
    assert fast == slow == {(0, 0), (1, 0), (None, None)}
