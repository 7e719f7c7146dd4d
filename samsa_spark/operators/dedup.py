"""Deduplication operators over ``documents`` (training-data pipeline
surface; X1/X2 in SURVEY.md §2.4).

Five strategies, scale-ordered:

- exact (dd1): content-hash groupBy — one shuffle on a 64-hex key, the only
  exact-dedup plan that works at 100 TB (never groupBy the full text).
- n-gram Jaccard (dd2): inverted-index self-join on shingles — the classic
  candidate-generation join; quadratic only within a shingle's posting list,
  AQE skew-join splits hot shingles.
- MinHash-LSH (dd3): 64-permutation signatures, 16 bands x 4 rows; candidate
  pairs only where a band collides. Signature pass is a single hash aggregate
  (64 `min` partials); band join touches |bands| rows per doc, not O(n^2).
- SimHash (dd4): 64-bit fingerprint from token-hash bit votes; near pairs by
  16-bit chunk collision + hamming verify (bit_count(xor)).
- embedding near-dup (dd5): see similarity.py — cosine over a probe set.

dd1/dd2 have exact DuckDB oracles. dd3/dd4 use xxhash64 (JVM-native; DuckDB
has no xxhash64) so the driver records rows-only checks; their correctness
oracle is tests/test_dedup.py, which brute-forces Jaccard/hamming ground
truth in-process and asserts candidate recall.
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from samsa_spark import tables

N_MINHASH = 64
N_BANDS = 16
ROWS_PER_BAND = N_MINHASH // N_BANDS
SHINGLE_K = 3


def exact_dedup(documents: DataFrame) -> DataFrame:
    """dd1 — exact dedup by content hash: canonical id (min doc_id) per
    identical text, duplicate flag, group size. Equivalent of samsa's
    last-write-wins keyed overwrite (storage.py:190-206) with content as key.
    """
    h = F.sha2(F.col("text"), 256)
    hashed = documents.select("doc_id", h.alias("content_sha"))
    groups = hashed.groupBy("content_sha").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )
    return (
        hashed.join(groups, "content_sha")
        .select(
            "doc_id",
            "content_sha",
            "canonical_id",
            "n_copies",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
        )
    )


def normalized_dedup(documents: DataFrame) -> DataFrame:
    """dd13 — dedup by NORMALIZED content: lowercase, strip every
    non-alphanumeric (keeping spaces), collapse whitespace runs, trim —
    then group by the sha of that canonical form. Catches the trivial
    variants dd1's byte-exact hash is blind to (case, punctuation,
    spacing — the C4-style canonicalization pass). ``n_exact_variants``
    counts the DISTINCT raw texts merged into each normalized group: > 1
    is the operator's signal (docs that only normalization unifies).

    Same algebraic groupBy-on-a-hash plan as dd1 — the normalization is
    row-local string algebra fused into the scan projection; the corpus
    text never crosses a shuffle (only the 32-byte shas do).
    """
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    hashed = documents.select(
        "doc_id",
        F.sha2(canon, 256).alias("canon_sha"),
        F.sha2(F.col("text"), 256).alias("raw_sha"),
    )
    groups = hashed.groupBy("canon_sha").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
        F.countDistinct("raw_sha").alias("n_exact_variants"),
    )
    return hashed.select("doc_id", "canon_sha").join(groups, "canon_sha").select(
        "doc_id",
        "canon_sha",
        "canonical_id",
        "n_copies",
        "n_exact_variants",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
    )


_DD13_SQL = """
WITH h AS (
  SELECT doc_id,
         sha256(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'
         ))) AS canon_sha,
         sha256(text) AS raw_sha
  FROM documents
),
g AS (
  SELECT canon_sha, min(doc_id) AS canonical_id, count(*) AS n_copies,
         count(DISTINCT raw_sha) AS n_exact_variants
  FROM h GROUP BY canon_sha
)
SELECT h.doc_id, h.canon_sha, g.canonical_id, g.n_copies, g.n_exact_variants,
       h.doc_id <> g.canonical_id AS is_dup
FROM h JOIN g USING (canon_sha)
"""


def _shingles(toks: F.Column) -> F.Column:
    """Distinct k-token shingles (k=3) from a PRE-STAGED token array;
    empty array for short docs. The caller must materialize the array
    behind an RDD boundary first: a ``split(text)`` referenced inside the
    transform() lambda re-evaluates per element (note 20 — three
    element_at probes per shingle = 3 full re-splits per position,
    measured ~7x on 1k-token docs for the identical span algebra)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - F.lit(SHINGLE_K - 1))
    make = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    return F.when(n >= SHINGLE_K, F.array_distinct(make)).otherwise(F.array().cast("array<string>"))


def shingle_postings(documents: DataFrame) -> DataFrame:
    """Exploded (doc_id, shingle) posting list. The token array is staged
    as its own column behind an RDD boundary so the shingle lambda reads
    it instead of re-splitting the text per element (note 20)."""
    pre = documents.select(
        "doc_id", F.split("text", " ").alias("_toks")
    ).localCheckpoint(eager=False)
    return pre.select("doc_id", F.explode(_shingles(F.col("_toks"))).alias("sh"))


def novelty_scores(documents: DataFrame) -> DataFrame:
    """nv1 — per-doc NOVELTY: the fraction of a document's distinct
    3-token shingles that appear in NO other document —
    ``(doc_id, n_shingles, n_novel, novelty)``. The redundancy signal a
    curation pipeline ranks by between exact dedup (which only removes
    copies) and near-dup clustering (which needs pair thresholds):
    boilerplate-heavy docs score near 0, fresh content near 1.

    Scale shape: one gram-keyed combining aggregate (df per shingle) +
    one join back + one doc-keyed aggregate — the tf1/hh1 class, no
    pairs ever materialize. The join key here is the raw shingle string
    for exact oracle parity; a 100 TB run joins on xxhash64(sh) instead
    (dd2's trick — ~3x smaller shuffle, collision odds ~n^2/2^64).
    Short docs (< 3 tokens) have no shingles: n_shingles 0, novelty NULL
    (not 1.0 — note 53's guard; an empty doc is not evidence of novelty).
    """
    g = shingle_postings(documents).localCheckpoint(eager=False)
    dfc = g.groupBy("sh").agg(F.count("*").alias("df"))
    per_doc = (
        g.join(dfc, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("bigint").alias("n_novel"),
        )
    )
    ns = F.coalesce(F.col("n_shingles"), F.lit(0)).cast("bigint")
    nn = F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint")
    return documents.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        ns.alias("n_shingles"),
        nn.alias("n_novel"),
        F.when(ns > 0, F.round(nn.cast("double") / ns, 6)).alias("novelty"),
    )


_NV1_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  for i in generate_series(1, len(toks) - 2)])
              ELSE [] END AS shs
  FROM t
), g AS (
  SELECT doc_id, unnest(shs) AS sh FROM s
), dfc AS (
  SELECT sh, count(*) AS df FROM g GROUP BY sh
), pd AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM g JOIN dfc USING (sh) GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(pd.n_shingles, 0) AS n_shingles,
       coalesce(pd.n_novel, 0) AS n_novel,
       CASE WHEN pd.n_shingles > 0
            THEN round(CAST(pd.n_novel AS DOUBLE) / pd.n_shingles, 6) END AS novelty
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def ngram_jaccard_pairs(documents: DataFrame, min_jaccard: float = 0.0) -> DataFrame:
    """dd2 — exact n-gram Jaccard near-dup pairs via inverted-index join:
    explode distinct shingles, self-join on shingle (only co-occurring pairs
    materialize), count intersections, Jaccard = inter / (|A|+|B|-inter).

    Scale mechanics: postings join on a 64-bit shingle hash, not the string
    (shrinks the shuffle ~3x; a cross-doc hash collision perturbs a count
    with probability ~n^2/2^64 — negligible at any realistic corpus), and
    singleton shingles (doc frequency 1) are pruned before the self-join —
    they can't produce a pair, and they're the vast majority of postings.
    """
    # Both postings tables feed multiple plan branches (sizes + df filter +
    # both self-join sides) with no ReusedExchange across them — materialize
    # once instead of re-running the explode/hash pipeline per branch
    # (measured 2.2x at sf0.1, identical pairs). Same rule as dd3's
    # signature table.
    g = (
        shingle_postings(documents)
        .select("doc_id", F.xxhash64("sh").alias("sh_h"))
        .localCheckpoint(eager=False)
    )
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    shared = g.groupBy("sh_h").agg(F.count("*").alias("df")).where(F.col("df") > 1).select("sh_h")
    g2 = g.join(shared, "sh_h").localCheckpoint(eager=False)
    a, b = g2.alias("a"), g2.alias("b")
    inter = (
        a.join(b, (F.col("a.sh_h") == F.col("b.sh_h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.round(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_inter", jac.alias("jaccard"))
        .where(F.col("jaccard") >= min_jaccard)
    )


DD16_MIN_JACCARD = 0.5


def _exact_ceil_mul(t: float) -> F.Column:
    """``ceil(t * n_sh)`` computed FP-exactly: for thresholds whose product
    is mathematically integral but not float-exact (t=0.8, n_sh=5 →
    4.000000000000001) a raw ceil lands one too high, shortening the prefix
    by one and silently dropping a qualifying candidate pair from an
    operator documented as EXACT. Rounding the product to 9 dp first
    absorbs the ~1 ulp error (thresholds are human-entered constants with
    far fewer than 9 significant decimals) while leaving every genuinely
    fractional product untouched."""
    return F.ceil(F.round(F.lit(float(t)) * F.col("n_sh"), 9))


def prefix_jaccard_pairs(
    documents: DataFrame, min_jaccard: float = DD16_MIN_JACCARD
) -> DataFrame:
    """dd16 — EXACT threshold-Jaccard join via prefix filtering (Chaudhuri
    et al. 2006 / Bayardo et al. 2007 / Xiao et al.'s PPJoin family): the
    other way to make dd2 scale. dd2 materializes every co-occurring pair
    and filters; dd16 exploits the threshold BEFORE the join — under a
    global canonical shingle order (ascending document frequency, the
    rarest-first order that makes prefixes selective), two sets with
    Jaccard >= t must share a shingle within each one's first
    ``|x| - ceil(t*|x|) + 1`` shingles, so candidates come from a
    PREFIX-only self-join and everything else never pairs. Candidates are
    then verified exactly against the full shingle sets. Same output
    contract as dd2 (``doc_a < doc_b, n_inter, jaccard``) restricted to
    the threshold — equivalence is pytest-locked and the oracle is
    literally dd2's SQL with the threshold applied.

    Scale mechanics: the prefix join's shuffle carries ~(1-t) of the
    posting list (measured below vs dd2's full posting self-join, on top
    of dd2's own df>1 prune); the verify stage joins full shingle-hash
    ARRAYS only for candidate doc ids (semi-join pruned collect_set —
    hundreds of longs per doc, thousands of candidate docs at a real
    threshold), then intersects JVM-side with array algebra. MinHash-LSH
    (dd3) stays the probabilistic default at web scale; dd16 is the EXACT
    threshold join for when recall guarantees matter (contracts, evals).
    """
    t = float(min_jaccard)
    g = (
        shingle_postings(documents)
        .select("doc_id", F.xxhash64("sh").alias("sh_h"))
        .localCheckpoint(eager=False)
    )
    dft = g.groupBy("sh_h").agg(F.count("*").alias("df"))
    # canonical rarest-first rank of each doc's shingles + set size
    w = Window.partitionBy("doc_id").orderBy("df", "sh_h")
    ranked = (
        g.join(dft, "sh_h")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    )
    plen = F.col("n_sh") - _exact_ceil_mul(t) + 1
    # EAGER checkpoint (note 12): the prefix frame feeds BOTH sides of the
    # candidate self-join, and without materialization each reference
    # recomputes the whole shingle+df-join+double-window subtree inside the
    # one action (the r15 plan audit counted 12 Window nodes for dd19's
    # sibling). Materializing the ~(1-t)|postings| prefix once turns the
    # self-join sides into block scans; g's lazy checkpoint completes as a
    # side effect, so the sets aggregate below reuses it too.
    pref = (
        ranked.where(F.col("pos") <= plen)
        .select("doc_id", "sh_h")
        .localCheckpoint(eager=True)
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = g.groupBy("doc_id").agg(
        F.collect_set("sh_h").alias("shs"), F.count("*").alias("n_sh")
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"), F.col("n_sh").alias("n_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"), F.col("n_sh").alias("n_b")
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = F.round(inter / (F.col("n_a") + F.col("n_b") - inter), 6)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_inter"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= t)
    )


def containment_pairs(
    documents: DataFrame, min_containment: float = 0.5
) -> DataFrame:
    """dd12 — asymmetric shingle CONTAINMENT (Broder 1997's other
    resemblance measure): for co-occurring pairs,
    ``containment_a = |A∩B| / |A|`` and mirror for B, keeping pairs where
    either direction clears ``min_containment``. This catches what
    Jaccard structurally cannot: a short doc quoted/embedded nearly whole
    inside a much longer one scores containment ~1.0 while its Jaccard
    ~|A|/|B| vanishes as the host grows — the quote/boilerplate-inclusion
    case, and the pair-level complement of dd8's span-level dominated
    fraction.

    Plan is dd2's verbatim (inverted-index self-join on the 64-bit
    shingle hash, singleton postings pruned, materialized posting table
    feeding all branches) — only the scoring projection differs, so
    dd2's measured scale behavior carries over unchanged.
    """
    g = (
        shingle_postings(documents)
        .select("doc_id", F.xxhash64("sh").alias("sh_h"))
        .localCheckpoint(eager=False)
    )
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    shared = (
        g.groupBy("sh_h").agg(F.count("*").alias("df")).where(F.col("df") > 1).select("sh_h")
    )
    g2 = g.join(shared, "sh_h").localCheckpoint(eager=False)
    a, b = g2.alias("a"), g2.alias("b")
    inter = (
        a.join(b, (F.col("a.sh_h") == F.col("b.sh_h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    ca = F.round(F.col("n_inter") / F.col("n_a"), 6)
    cb = F.round(F.col("n_inter") / F.col("n_b"), 6)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
        .where(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= min_containment
        )
    )


_DD12_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  for i in generate_series(1, len(toks) - 2)])
              ELSE [] END AS shs
  FROM t
), g AS (
  SELECT doc_id, unnest(shs) AS sh FROM s
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       round(n_inter / sa.n_sh, 6) AS containment_a,
       round(n_inter / sb.n_sh, 6) AS containment_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE greatest(round(n_inter / sa.n_sh, 6), round(n_inter / sb.n_sh, 6)) >= 0.5
"""


def decontaminate(
    documents: DataFrame,
    probe_max_id: int = 20,
    min_hits: int = 1,
    benchmark: DataFrame | None = None,
    broadcast_benchmark: bool = True,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """dc1 — benchmark decontamination: per corpus doc, the number of
    distinct 3-token shingles shared with the eval/benchmark probe set,
    and a contamination flag at ``min_hits``. The standard pre-training
    hygiene pass — drop or audit training docs that leak eval content.

    ``benchmark``: a separate (doc_id, text) frame of eval documents — the
    production form. When None, docs with doc_id < ``probe_max_id`` stand
    in as the benchmark and are excluded from the scored corpus (the
    self-contained oracle form the registry runs).

    Scale shape: eval suites are thousands of docs while the corpus is
    billions, so the benchmark shingle set is distinct-aggregated and
    BROADCAST; the corpus posting list streams through one broadcast
    semi-join + count, one row out per corpus doc. Never a corpus
    self-join, and the corpus text column is pruned after shingling.

    ``broadcast_benchmark=False`` is the beyond-broadcast fallback: when
    the probe set's distinct shingles outgrow an executor broadcast (a
    mega-benchmark or decontaminating against another CORPUS), the same
    equi-join on the shingle runs as a shuffle join — both sides hash-
    partition on ``sh``, so the plan stays a partitioned equi-join (never a
    cartesian/nested-loop) and cost becomes one corpus shuffle. Results are
    identical by construction; only the physical join strategy changes.

    ``bloom_prefilter=True`` (dc2, meant for the shuffle fallback) cuts
    that corpus shuffle: a :func:`bloom_digest` of the benchmark shingles
    (~1 bit per shingle — broadcastable long after the string set is not)
    prefilters the corpus posting list in-scan, so only true hits plus
    the digest's small false-positive mass reach the exchange; the exact
    equi-join then confirms survivors. A Bloom has NO false negatives,
    so the output is identical to the unfiltered form row-for-row — dc2
    runs under dc1's own oracle.
    """
    if benchmark is None:
        probes = documents.where(F.col("doc_id") < probe_max_id)
        corpus = documents.where(F.col("doc_id") >= probe_max_id)
    else:
        probes, corpus = benchmark, documents
    bench_sh = shingle_postings(probes).select("sh").distinct()
    corpus_sh = shingle_postings(corpus)
    if bloom_prefilter:
        # the distinct-shingle frame feeds both the digest build and the
        # confirm join: materialize once (note 12)
        bench_sh = bench_sh.localCheckpoint(eager=False)
        corpus_sh = corpus_sh.where(bloom_contains("sh", bloom_digest(bench_sh)))
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    hits = (
        corpus_sh
        .join(bench_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    n = F.coalesce("n_hits", F.lit(0))
    return corpus.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id", n.alias("n_hits"), (n >= min_hits).alias("contaminated")
    )


BLOOM_BITS = 1 << 23  # 1 MiB digest at the default sizing
BLOOM_HASHES = 4


def bloom_digest(
    values: DataFrame,
    col: str = "sh",
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> bytes:
    """Mergeable Bloom bitset over a string column — the compact membership
    digest dc2 broadcasts where the raw benchmark shingle SET would not
    fit an executor (cs1-cs3's sketch-family argument applied to
    membership: ~1 bit/40-byte shingle at the default sizing instead of
    the string + hash-relation overhead). Build is one ``mapInPandas``
    pass emitting ONE packed partial bitset per partition; partials merge
    by bitwise OR (associative/commutative — merge(thirds) == whole,
    pytest-locked), so the driver-side artifact is bounded at
    ``n_partitions x n_bits/8`` bytes collected, ``n_bits/8`` kept.

    Hashing is Kirsch-Mitzenmacher double hashing over two crc32 streams
    (zlib — C-speed, seed-stable across executors, unlike Python's salted
    ``hash``); the probe closure in :func:`bloom_contains` recomputes the
    same positions, so build and probe share one definition and no
    cross-engine hash portability is needed (rows-only surface).
    """
    import numpy as np

    nb, nh = int(n_bits), int(n_hashes)

    def _partials(it):
        import zlib

        import numpy as _np
        import pandas as _pd

        bits = _np.zeros(nb >> 3, dtype=_np.uint8)
        seen = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            seen = True
            for s in pdf.iloc[:, 0]:
                b = s.encode("utf-8")
                h1 = zlib.crc32(b)
                h2 = zlib.crc32(b, 0x9E3779B9) | 1
                for i in range(nh):
                    pos = ((h1 + i * h2) & 0xFFFFFFFFFFFF) % nb
                    bits[pos >> 3] |= 1 << (pos & 7)
        if seen:
            yield _pd.DataFrame({"bits": [bits.tobytes()]})

    parts = values.select(col).mapInPandas(_partials, "bits binary").collect()
    out = np.zeros(nb >> 3, dtype=np.uint8)
    for r in parts:
        out |= np.frombuffer(r.bits, dtype=np.uint8)
    return out.tobytes()


def bloom_contains(
    col: str,
    digest: bytes,
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
):
    """Boolean membership Column probing a :func:`bloom_digest` bitset —
    an Arrow-batched closure over the digest bytes (note 4). False
    positives at the digest's fpp; NEVER false negatives, which is what
    lets dc2 keep dc1's exact oracle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    nb, nh = int(n_bits), int(n_hashes)
    dig = digest

    def _contains(s):
        import zlib

        import numpy as _np
        import pandas as _pd

        bits = _np.frombuffer(dig, dtype=_np.uint8)

        def one(v):
            b = v.encode("utf-8")
            h1 = zlib.crc32(b)
            h2 = zlib.crc32(b, 0x9E3779B9) | 1
            for i in range(nh):
                pos = ((h1 + i * h2) & 0xFFFFFFFFFFFF) % nb
                if not (bits[pos >> 3] >> (pos & 7)) & 1:
                    return False
            return True

        return _pd.Series([one(v) for v in s])

    return pandas_udf(BooleanType())(_contains)(F.col(col))


def dedup_against(
    documents: DataFrame,
    reference: DataFrame | None = None,
    ref_max_id: int = 50,
    broadcast_reference: bool = True,
) -> DataFrame:
    """dd10 — cross-corpus exact dedup: flag docs of a NEW snapshot whose
    exact content already exists in a reference corpus — the incremental-
    ingestion batch op (each crawl snapshot dedups against everything
    already ingested; dd1 only dedups WITHIN one frame). st4 is the
    streaming twin of this; dc1 the shingle-level analog.

    ``reference``: the already-ingested (doc_id, text) frame — the
    production form. When None, docs with doc_id < ``ref_max_id`` stand in
    as the reference and the rest are scored (the self-contained oracle
    form the registry runs).

    Scale shape: the reference side reduces to DISTINCT content hashes —
    fixed 32-byte rows, so a billion-doc reference is ~32 GB and usually a
    persisted hash table, not a re-scan. ``broadcast_reference=True``
    broadcasts it when it fits an executor; False falls back to a hash-
    partitioned equi-join on the sha (dc1's fallback pattern — never a
    cartesian). Text never crosses the join; both scans prune to the hash.
    """
    if reference is None:
        reference = documents.where(F.col("doc_id") < ref_max_id)
        documents = documents.where(F.col("doc_id") >= ref_max_id)
    sha = F.sha2(F.col("text"), 256)
    ref_sha = reference.select(sha.alias("content_sha")).distinct()
    if broadcast_reference:
        ref_sha = F.broadcast(ref_sha)
    hits = ref_sha.withColumn("in_reference", F.lit(True))
    return (
        documents.select("doc_id", sha.alias("content_sha"))
        .join(hits, "content_sha", "left")
        .select(
            "doc_id",
            "content_sha",
            F.coalesce("in_reference", F.lit(False)).alias("in_reference"),
        )
    )


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """64-permutation MinHash signatures via double hashing: two xxhash64
    evaluations per shingle, then the i-th permutation is the affine combo
    ``(h1 + i*h2) mod p`` (Kirsch-Mitzenmacher) — same LSH guarantees as 64
    independent hashes at 1/32 the hash cost. Hashes are masked to 31 bits
    so the arithmetic can't overflow a long under ANSI mode. One hash
    aggregate with 64 map-side-combinable ``min`` partials; no per-
    permutation shuffle."""
    g = shingle_postings(documents)
    h1 = F.xxhash64("sh").bitwiseAND(F.lit(0x7FFFFFFF))
    h2 = F.xxhash64("sh", F.lit(7)).bitwiseAND(F.lit(0x7FFFFFFF)).bitwiseOR(F.lit(1))
    hashed = g.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    mins = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(2147483647)).alias(f"m{i}")
        for i in range(N_MINHASH)
    ]
    sig = hashed.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(N_MINHASH)]).alias("sig")
    )


def band_signatures(sig: DataFrame) -> DataFrame:
    """Band a signature table into (doc_id, sig, band, bh) rows: 16 bands of
    4 signature positions, each hashed to one bucket value."""
    return sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", b * ROWS_PER_BAND + j + 1) for j in range(ROWS_PER_BAND)]
                        ).alias("bh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def est_jaccard_col() -> F.Column:
    """Estimated Jaccard between sig_a/sig_b columns: fraction of equal
    signature positions."""
    return (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq))
        / F.lit(N_MINHASH)
    ).alias("est_jaccard")


def minhash_lsh_pairs(documents: DataFrame, min_est_jaccard: float = 0.25) -> DataFrame:
    """dd3 — MinHash-LSH candidate pairs: band signatures into 16 buckets of
    4 rows; pairs colliding in any band are candidates; estimated Jaccard =
    fraction of equal signature positions. Self-join is on (band, band_hash)
    — the only shuffle key — so work scales with collisions, not n^2.

    Shuffle discipline: the self-join and the (doc_a, doc_b) dedup move ONLY
    3-column band rows / 2-column pairs — the 64-long signatures are joined
    back onto the already-deduped pairs afterwards. Carrying signatures
    through the band join (the previous form) made every shuffle ~16x wider
    for rows that mostly get thrown away by the dedup.

    The signature table is localCheckpoint'd: it feeds three plan branches
    (banding + both sides of the re-attach) and Spark gets no ReusedExchange
    across them, so without materialization the token-hash + 64-min
    aggregate runs three times (measured 2.8x cost at sf0.1). Materializing
    the sketch table is also what a real pipeline does — signatures are the
    narrow, reusable artifact (n_docs x 64 ints), recomputing them per
    branch is the expensive path at any scale.
    """
    sigs = minhash_signatures(documents).localCheckpoint(eager=False)
    bands = band_signatures(sigs).select("doc_id", "band", "bh")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    paired = cand.join(sa, "doc_a").join(sb, "doc_b")
    return paired.select("doc_a", "doc_b", est_jaccard_col()).where(
        F.col("est_jaccard") >= min_est_jaccard
    )


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """dd4a — 64-bit SimHash per document: per-token xxhash64, each bit votes
    +1/-1, fingerprint bit j set iff vote sum positive. Single aggregate with
    64 sum partials; fingerprint assembly is pure bit arithmetic.
    """
    # Features are sliding word BIGRAMS, not unigrams: on same-domain
    # corpora (shared vocabulary) unigram simhashes correlate so strongly
    # that 16-bit chunk blocking degenerates toward all-pairs (measured at
    # sf0.1: 1.26M candidates vs 1.6k with bigrams, ~770x fewer, and the
    # surviving near-pairs are actual duplicates).
    t = F.split("text", " ")
    bigrams = F.when(
        F.size(t) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
            )
        ),
    ).otherwise(F.array_distinct(t))
    toks = documents.select(
        "doc_id", F.explode(bigrams).alias("tok")
    ).withColumn("th", F.xxhash64("tok"))
    # vote_j > 0  <=>  2 * count(bit_j set) > n_tokens: plain bit-sums are
    # cheaper than per-row CASE expressions inside the 64 agg buffers.
    votes = toks.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftrightunsigned(F.col("th"), j).bitwiseAND(F.lit(1))).alias(f"c{j}")
            for j in range(64)
        ],
    )
    fp = functools.reduce(
        lambda acc, j: acc
        + F.when(F.col(f"c{j}") * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
            F.lit(0).cast("long")
        ),
        range(1, 64),
        F.when(F.col("c0") * 2 > F.col("n"), F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(documents: DataFrame, max_hamming: int = 6) -> DataFrame:
    """dd4b — SimHash near-dup pairs: block on 16-bit fingerprint chunks
    (pigeonhole: hamming<=3 guarantees a chunk collision; larger radii are
    best-effort), verify with bit_count(xor) <= max_hamming. Default radius
    6: on same-domain corpora fingerprints correlate, and loose radii make
    "near" vacuous (radius 16 marks ~5% of ALL pairs near on the test
    corpus; radius 6 keeps it a duplicate detector).
    """
    # Materialized: the fingerprint table (2 longs per doc) feeds both sides
    # of the chunk self-join — without this the bigram explode + 64-sum vote
    # aggregate runs twice.
    fps = simhash_fingerprints(documents).localCheckpoint(eager=False)
    chunks = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.cv").alias("cv"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= max_hamming)
    )


SPAN_K = 8  # min duplicated-span length in tokens (dd7 default)


def span_postings(documents: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Positional k-token span postings: one row per token position, with
    the span of ``k`` tokens starting there — the NON-distinct sibling of
    :func:`shingle_postings` (substring dedup needs every occurrence and its
    position; set-similarity needs neither). ``pos`` is 1-based; docs with
    fewer than ``k`` tokens emit nothing."""
    # Stage the token array behind an RDD boundary: referenced inside the
    # transform() lambda, a raw split(text) re-evaluates per element
    # (note 20) — O(doc_len^2) tokenization, measured 7x slower at 1k
    # tokens/doc (round-7 self-review).
    pre = documents.select(
        "doc_id", F.split("text", " ").alias("_toks")
    ).localCheckpoint(eager=False)
    toks = F.col("_toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    spans = F.when(
        n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    ).otherwise(F.array().cast("array<string>"))
    return pre.select(
        "doc_id", F.posexplode(spans).alias("_p0", "span")
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "span")


def substring_dup_spans(documents: DataFrame, min_tokens: int = SPAN_K) -> DataFrame:
    """dd7 — exact substring-level dedup (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" family):
    every maximal token range of length >= ``min_tokens`` that occurs more
    than once in the corpus — the boilerplate/template case dd1–dd4 cannot
    catch, because the *surrounding* documents differ. Output is the merged
    range table ``(doc_id, span_start, span_end, n_tokens, n_spans)``: one
    row per maximal duplicated range (1-based token positions, inclusive;
    ``n_spans`` = how many k-token seed spans merged into it), covering
    EVERY occurrence including the one a rewriter would keep.

    Why positional shingles instead of Lee et al.'s suffix array: every
    k-token sub-span of a duplicated range of length L >= k is itself
    duplicated, so merging overlapping/adjacent duplicated k-span
    positions always COVERS every maximal duplicated range — with a plan
    that is one explode, one hash aggregate and one bounded per-doc window
    instead of a global suffix sort. (A merged island can chain through
    k-spans duplicated against *different* partners, so it may extend past
    any single literal duplicate — the standard, slightly-conservative
    positional-shingle approximation; the tests' ground-truth model is
    defined identically.)
    Within-doc repeats count (a span occurring twice in ONE doc is
    boilerplate too, matching the corpus-wide occurrence count).

    DETECTION FLOOR (the one place this family is strictly weaker than
    Lee et al.'s suffix-array form): duplicated runs are detected only
    when they contain at least ``min_tokens`` WHOLE tokens, aligned to
    whitespace-token boundaries. A duplicate shorter than k tokens, or
    one whose ends fall mid-token, is invisible — the suffix-array form
    catches arbitrary byte-level spans. What IS caught is witnessed by
    the planted-boilerplate tests (tests/test_dedup.py dd7 suite): any
    >=k-token repeated run, across or within documents, at any position.
    Choose ``min_tokens`` per corpus (Lee et al. use 50 BPE tokens; the
    default here is 8 whitespace tokens — roughly the same character
    span on English text).

    Scale shape: the posting table is one row per token position (corpus
    token count — the same cardinality every tokenizing op here shuffles);
    the occurrence count groups on a 64-bit span hash (never the string —
    same collision-negligibility argument as dd2), is algebraic (map-side
    partials), and >1 pruning drops the overwhelmingly-singleton tail
    before the join back. The island merge windows per ``doc_id`` with
    per-doc work bounded by doc length. The only driver-free artifacts are
    joins/aggregates on narrow keys — no global sort, no cartesian.

    Oracle: positional shingles and interval merging are plain SQL, so dd7
    sits in the exact DuckDB hash gate (unlike dd3/dd4, whose xxhash64
    signatures aren't portable — here the hash is only an internal groupBy
    key; the OUTPUT is positions).
    """
    k = min_tokens
    # Postings feed the occurrence count AND the join back — materialize
    # once (multi-branch rule, CLAUDE.md note 12), and hash the span so the
    # shuffle moves 8-byte keys, not k-token strings.
    p = (
        span_postings(documents, k)
        .select("doc_id", "pos", F.xxhash64("span").alias("sh"))
        .localCheckpoint(eager=False)
    )
    hot = p.groupBy("sh").agg(F.count("*").alias("occ")).where(F.col("occ") > 1).select("sh")
    dup = p.join(hot, "sh").select("doc_id", "pos")
    # Merge flagged positions into maximal ranges. All seed intervals are
    # [pos, pos+k-1] (equal length), so sorted by pos their ends are
    # monotone and "overlaps-or-touches the island so far" reduces to
    # pos <= lag(pos) + k. Both windows share one (doc_id, pos)
    # partitioning — one shuffle.
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "new_island",
        (F.col("pos") > F.coalesce(F.lag("pos").over(w), F.lit(-k)) + k).cast("int"),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            (F.max("pos") + F.lit(k - 1) - F.min("pos") + 1).alias("n_tokens"),
            F.count("*").alias("n_spans"),
        )
        .select("doc_id", "span_start", "span_end", "n_tokens", "n_spans")
    )


CHAR_SPAN_K = 40  # min duplicated-span length in characters (dd14 default)


def char_dup_spans(documents: DataFrame, min_chars: int = CHAR_SPAN_K) -> DataFrame:
    """dd14 — CHARACTER-level substring dedup: every maximal character
    range of length >= ``min_chars`` that occurs more than once in the
    corpus, with no token alignment — the form that closes dd7's
    documented detection floor (dedup.py:605-615): dd7 sees only
    duplicates containing >= k WHOLE whitespace tokens, so a repeated run
    whose ends fall mid-token (tracker fragments, minified/concatenated
    boilerplate, markup glued to words) is invisible to it and caught
    here. This is Lee et al. 2022's byte-span semantics realized with
    dd7's positional-shingle island merge instead of their suffix array:
    every length-k character window of a duplicated range is itself
    duplicated, so merging flagged window positions covers every maximal
    duplicated range >= k chars — one explode, one hash aggregate, one
    bounded per-doc window; no global suffix sort, no per-doc automaton
    memory (positions stream through shuffles, so no chunking is needed).
    Output ``(doc_id, span_start, span_end, n_chars, n_spans)`` — 1-based
    inclusive CHARACTER positions (Python ``text[start-1:end]``).

    Cost honesty: postings are one row per character (vs dd7's one per
    token, ~5-6x more rows on English text) — the inherent price of
    byte-exactness; each row is (doc_id, pos, hash) = 24 bytes into one
    algebraic count whose >1 pruning drops the singleton tail before the
    join back, the same scale shape as dd7. "Character" = Spark/DuckDB
    string semantics (codepoints), identical on both engines; on UTF-8
    multibyte text positions are codepoint indices, not raw byte offsets.

    The k-char window hash is xxhash64 (internal groupBy key only — the
    OUTPUT is positions, dd7's exactness argument); the DuckDB twin
    groups on the substring itself."""
    k = min_chars
    n = F.length("text")
    arr = F.when(
        n >= k,
        F.expr(
            f"transform(sequence(1, length(text) - {k} + 1),"
            f" i -> xxhash64(substring(text, i, {k})))"
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # Postings feed the occurrence count AND the join back (note 12).
    p = (
        documents.select("doc_id", F.posexplode(arr).alias("i", "sh"))
        .select("doc_id", (F.col("i") + 1).alias("pos"), "sh")
        .localCheckpoint(eager=False)
    )
    hot = (
        p.groupBy("sh").agg(F.count("*").alias("occ")).where(F.col("occ") > 1).select("sh")
    )
    dup = p.join(hot, "sh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "new_island",
        (F.col("pos") > F.coalesce(F.lag("pos").over(w), F.lit(-k)) + k).cast("int"),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            (F.max("pos") + F.lit(k - 1) - F.min("pos") + 1).alias("n_chars"),
            F.count("*").alias("n_spans"),
        )
        .select("doc_id", "span_start", "span_end", "n_chars", "n_spans")
    )


def _ranked_sets(g: DataFrame, dft: DataFrame) -> DataFrame:
    """One row per doc of ``g``'s ``(doc_id, sh_h)`` postings: ``n_sh`` and
    the shingle hashes in the canonical order ``(df, sh_h)`` of ``dft``
    (unseen shingles df=0, ties broken by sh_h, so the order is total and
    identical for every doc ever ranked against one df table), plus
    ``n_unseen``, the count of df=0 shingles (drift, never stored)."""
    df = F.coalesce("df", F.lit(0)).alias("df")
    return (
        g.join(dft, "sh_h", "left")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct(df, "sh_h"))).alias("r"),
            F.count("*").alias("n_sh"),
            F.count_if(F.col("df").isNull()).alias("n_unseen"),
        )
        .select("doc_id", "n_sh", F.col("r.sh_h").alias("ranked_shs"), "n_unseen")
    )


_SETS_COLS = ("doc_id", "n_sh", "ranked_shs")


def _read_sets(spark: SparkSession, path: str) -> DataFrame:
    # resolving the stored columns fails an index in the old two-table
    # layout (unordered ``shs``) at analysis, before any job or write
    return spark.read.parquet(f"{path}/sets").select(*_SETS_COLS)


def save_dedup_index(corpus: DataFrame, path: str) -> None:
    """dd19 build side — persist the exact-Jaccard dedup index the
    incremental batch path queries, as two tables: the document-frequency
    table that DEFINES the canonical rarest-first order (``<path>/df``),
    and ONE posting table, one row per doc (``<path>/sets``: ``doc_id``,
    ``n_sh`` and ``ranked_shs``, the doc's shingle hashes in that order).
    Prefix selection for any threshold is then ``slice(ranked_shs, 1,
    n_sh - ceil(t*n_sh) + 1)`` — no window at query time — and the same
    row is the verify side. ``df`` is FROZEN from here on (the dedup-family
    parity of append_index's frozen centroids): appended batches rank
    their shingles under this saved order, unseen shingles at df=0, so
    every doc ever indexed shares one total order and prefix filtering
    stays EXACT; only prefix selectivity decays with drift, never
    correctness."""
    g = (
        shingle_postings(corpus)
        .select("doc_id", F.xxhash64("sh").alias("sh_h"))
        .localCheckpoint(eager=False)
    )
    # eager checkpoint (note 12, measured r15: 2.8 -> 2.4 s): dft feeds its
    # own write AND the ranking join below — un-materialized, the sets
    # write recomputed the whole df aggregate from g
    dft = g.groupBy("sh_h").agg(F.count("*").alias("df")).localCheckpoint(eager=True)
    dft.write.mode("overwrite").parquet(f"{path}/df")
    _ranked_sets(g, dft).select(*_SETS_COLS).write.mode("overwrite").parquet(
        f"{path}/sets"
    )


def _rank_under_frozen_order(spark: SparkSession, path: str, batch: DataFrame):
    """:func:`_ranked_sets` of a batch under the index's FROZEN df order."""
    g = shingle_postings(batch).select("doc_id", F.xxhash64("sh").alias("sh_h"))
    return _ranked_sets(g, spark.read.parquet(f"{path}/df"))


def append_dedup_index(
    spark: SparkSession, path: str, batch: DataFrame, append_id: int | None = None
) -> DataFrame:
    """Incrementally add a batch to a saved dedup index (run AFTER
    :func:`dedup_against_index` has vetted it): append the batch's
    frozen-order ``sets`` rows — the ONE posting write — leave ``df``
    untouched (the order stays frozen — correctness forever, note 36's
    stance), and record per-append drift: the fraction of batch shingle
    occurrences unseen in the frozen df. Rising unseen fractions mean
    early (df=0) prefix ranks get crowded and prefix selectivity decays —
    the rebuild signal, exactly append_index's falling-assignment-cosine
    role. ``doc_id`` uniqueness across the index and all appends is the
    caller's contract. Returns the cumulative drift table.

    IDEMPOTENT under re-delivery (append_index's note-50 pattern):
    doc_ids the index already holds are anti-joined away (one pruned
    column scan of the stored sets), so a replayed batch appends zero
    rows, and a crash after the sets append leaves nothing a retry could
    duplicate; with an explicit ``append_id`` (the streaming path) the
    drift rows — computed over the FULL incoming batch, hence
    recomputable on retry — overwrite their own ``append_id=`` partition."""
    have = _read_sets(spark, path).select("doc_id")
    bsets = _rank_under_frozen_order(spark, path, batch)
    bsets = bsets.localCheckpoint(eager=False)  # fresh-write + drift (note 12)
    bsets.join(have, "doc_id", "left_anti").select(*_SETS_COLS).write.mode(
        "append"
    ).parquet(f"{path}/sets")
    # a same-session reader of this path must not serve the stale
    # pre-append file listing (note 28)
    spark.catalog.refreshByPath(f"{path}/sets")
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
    drift = bsets.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_sh"), F.lit(0)).alias("n_postings"),
        F.round(F.sum("n_unseen") / F.sum("n_sh"), 6).alias("unseen_fraction"),
    ).withColumn("append_id", F.lit(next_id))
    if append_id is not None:
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            drift.coalesce(1).write.mode("overwrite").partitionBy(
                "append_id"
            ).parquet(f"{path}/drift")
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    else:
        drift.coalesce(1).write.mode("append").partitionBy("append_id").parquet(
            f"{path}/drift"
        )
    spark.catalog.refreshByPath(f"{path}/drift")
    return spark.read.parquet(f"{path}/drift")


def dedup_against_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    min_jaccard: float = DD16_MIN_JACCARD,
) -> DataFrame:
    """dd19 — incremental EXACT threshold-Jaccard dedup of a new batch
    against a persisted corpus index (plus within-batch pairs): the
    production ingest path — the already-indexed corpus is never
    re-shingled, re-ranked or self-joined; one table, ``sets``, answers
    both sides: each row's prefix slice of ``ranked_shs`` feeds the
    candidate join and the whole array the verify join. Same exactness
    as dd16 (prefix filtering under one total order loses nothing;
    candidates verify against full sets), so the output equals
    ``prefix_jaccard_pairs(index UNION batch)`` restricted to pairs
    touching the batch — the equivalence a pytest locks, and what makes
    the DuckDB twin dd2's SQL with the threshold and a batch-membership
    filter.

    Output ``(doc_a, doc_b, n_inter, jaccard)`` with ``doc_a < doc_b``
    and at least one side in the batch.

    Scale shape: per ingest batch the cost is the batch's shingling, one
    broadcast-sized df lookup join, a prefix equi-join whose INDEX side
    explodes ~(1-t) of each stored row's array, and a verify join
    semi-pruned to candidate doc ids. Re-ranking the corpus under fresh
    df would be cheaper prefixes but a full re-index — dd16 is that
    batch form; dd19 is the incremental one.
    """
    t = float(min_jaccard)
    isets = _read_sets(spark, path)
    # EAGER checkpoint (note 12): bsets feeds the cross join, BOTH sides
    # of the within self-join and the verify union — un-materialized,
    # each reference recomputes the shingle+df-join+rank subtree.
    bsets = _rank_under_frozen_order(spark, path, batch).select(*_SETS_COLS)
    bsets = bsets.localCheckpoint(eager=True)
    plen = (F.col("n_sh") - _exact_ceil_mul(t) + 1).cast("int")

    def prefix(rows: DataFrame) -> DataFrame:
        return rows.select("doc_id", F.explode(F.slice("ranked_shs", 1, plen)).alias("sh_h"))

    bpref = prefix(bsets)
    cross = (
        bpref.alias("b")
        .join(prefix(isets).alias("a"), "sh_h")
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
    )
    within = (
        bpref.alias("x")
        .join(
            bpref.alias("y"),
            (F.col("x.sh_h") == F.col("y.sh_h"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
    )
    cand = cross.unionByName(within).where(F.col("doc_a") < F.col("doc_b")).distinct()
    # dropDuplicates: a batch REPLAYED after its append landed exists on
    # both sides of this union (identical rows); without the dedup every
    # pair touching it would verify twice and the output would carry
    # duplicate rows (the st10 exactly-once contract)
    sets = isets.unionByName(bsets).dropDuplicates(["doc_id"])
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ranked_shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ranked_shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = F.round(inter / (F.col("n_a") + F.col("n_b") - inter), 6)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_inter"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= t)
    )


def strip_contaminated_spans(
    documents: DataFrame,
    benchmark: DataFrame | None = None,
    probe_max_id: int = 20,
    min_chars: int = CHAR_SPAN_K,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """dc3 — SPAN-level benchmark decontamination with the strip applied
    (the Lee et al. 2022 decontamination rewrite): remove from every
    corpus document each maximal character range all of whose
    ``min_chars``-windows appear verbatim anywhere in the eval/benchmark
    set. dc1 counts shingle hits and flags docs; dc3 locates the exact
    leaked extents and returns the cleaned text — the form that keeps a
    96%-clean document instead of dropping it. Output ``(doc_id,
    n_chars, n_kept_chars, clean_text)`` for EVERY corpus doc (clean
    docs come back verbatim; a fully-leaked doc comes back empty).

    ``benchmark``: a separate (doc_id, text) frame of eval documents —
    the production form. When None, docs with doc_id < ``probe_max_id``
    stand in (dc1's self-contained oracle convention) and are excluded
    from the rewritten corpus.

    Plan shape: the benchmark's distinct k-char windows BROADCAST (eval
    suites are thousands of docs against a corpus of billions); the
    corpus posting list streams through one join, flagged positions
    island-merge per doc (dd14's window-cover rule: every window of a
    leaked range hits, so merged hit positions ARE the maximal leaked
    ranges), and the rebuild is a single JVM ``aggregate`` fold over
    each doc's sorted range array concatenating the gaps — O(ranges)
    per doc, shuffle-free after the one (doc_id) join. In this default
    path windows compare as STRINGS on both engines — no hash anywhere,
    so not even dd2's collision caveat applies.

    ``broadcast_benchmark=False`` is the beyond-broadcast fallback
    (round-11 verdict task 2), and it never ships raw corpus windows
    through an exchange: (1) an in-scan Bloom digest of the benchmark
    windows (dc2's builder — no false negatives) drops ~every clean
    window before any shuffle, (2) survivors route through the equi-join
    on ``xxhash64(window)`` ONLY (8-byte keys; the corpus-side exchange
    carries (doc_id, pos, h), never the string — plan-asserted), and
    (3) candidates verify by STRING against the corpus text via a
    broadcast join at contamination cardinality, so a hash collision or
    Bloom false positive can only ADD candidates that the verify kills —
    the output is identical to the broadcast path (shared exact oracle).

    Reference parity: the reference engine has no text surface (samsa is
    a Kafka K/V state library); extends SURVEY.md §2.4 X2/X4 alongside
    dc1/dc2 (round 11).
    """
    k = int(min_chars)
    if benchmark is None:
        probes = documents.where(F.col("doc_id") < probe_max_id)
        corpus = documents.where(F.col("doc_id") >= probe_max_id)
    else:
        probes, corpus = benchmark, documents
    n = F.length("text")
    win = F.when(
        n >= k,
        F.expr(
            f"transform(sequence(1, length(text) - {k} + 1),"
            f" i -> substring(text, i, {k}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bwin = probes.select(F.explode(win).alias("w")).distinct()
    cwin = corpus.select("doc_id", F.posexplode(win).alias("i", "w")).select(
        "doc_id", (F.col("i") + 1).alias("pos"), "w"
    )
    if broadcast_benchmark:
        hits = cwin.join(F.broadcast(bwin), "w").select("doc_id", "pos")
    else:
        bwin = bwin.localCheckpoint(eager=False)  # digest build + join reuse
        dig = bloom_digest(bwin, col="w")
        surv = cwin.where(bloom_contains("w", dig)).select(
            "doc_id", "pos", F.xxhash64("w").alias("h")
        )
        cand = surv.join(bwin.select(F.xxhash64("w").alias("h"), "w"), "h").select(
            "doc_id", "pos", "w"
        )
        hits = (
            corpus.select("doc_id", "text")
            .join(F.broadcast(cand), "doc_id")
            .where(F.expr(f"substring(text, pos, {k}) = w"))
            .select("doc_id", "pos")
        )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "new_island",
        (F.col("pos") > F.coalesce(F.lag("pos").over(wd), F.lit(-k)) + k).cast(
            "int"
        ),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    rng = (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(k - 1)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("s"), F.col("e")))
            ).alias("rs")
        )
    )
    # rng holds ranges for CONTAMINATED docs only (contamination-sized, the
    # same bound the fallback's candidate broadcast rides) — broadcasting it
    # keeps the rebuild a narrow corpus scan instead of shuffling every
    # doc's text on doc_id for a sort-merge join
    j = (
        corpus.select("doc_id", "text")
        .join(F.broadcast(rng), "doc_id", "left")
        .withColumn(
            "rs", F.coalesce("rs", F.array().cast("array<struct<s:int,e:int>>"))
        )
    )
    # fold over the sorted disjoint ranges, concatenating the gaps; the
    # finish lambda appends the tail after the last range
    clean = F.expr(
        "aggregate(rs, named_struct('acc', '', 'prev', 0),"
        " (a, r) -> named_struct("
        "   'acc', concat(a.acc, substring(text, a.prev + 1, r.s - a.prev - 1)),"
        "   'prev', CAST(r.e AS INT)),"
        " a -> concat(a.acc, substring(text, a.prev + 1, length(text) - a.prev)))"
    )
    return j.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.length(clean).cast("bigint").alias("n_kept_chars"),
        clean.alias("clean_text"),
    )


def contamination_report(
    documents: DataFrame,
    benchmark: DataFrame | None = None,
    probe_max_id: int = 20,
    min_chars: int = CHAR_SPAN_K,
) -> DataFrame:
    """dc4 — BENCHMARK-side contamination report: dc1/dc3 answer "which
    corpus docs are dirty"; dc4 answers the eval owner's question —
    "which of MY benchmark items are compromised, and how badly". One
    row per benchmark doc: ``(bench_id, n_windows, n_corpus_docs,
    n_leaked_windows, leaked_frac)`` where n_windows counts its distinct
    ``min_chars``-char windows, n_corpus_docs counts corpus documents
    sharing at least one of them verbatim, n_leaked_windows counts how
    many of ITS windows appear anywhere in the corpus, and leaked_frac
    = n_leaked_windows / n_windows (6 dp; 0.0 for docs too short to
    window). A leaked_frac near 1 means the eval item is memorizable
    from training data even after doc-level dedup; per-item reports are
    what lets a suite drop compromised items instead of whole tasks.

    ``benchmark``: a separate (doc_id, text) frame; when None, docs with
    doc_id < ``probe_max_id`` stand in (dc1's oracle convention).

    Plan shape: benchmark windows BROADCAST (dc1's stance — eval suites
    are small next to any corpus); the corpus side posts DISTINCT
    (doc_id, window) pairs through one in-scan join; both aggregates
    run at hit cardinality. Windows compare as STRINGS on both engines.
    """
    k = int(min_chars)
    if benchmark is None:
        probes = documents.where(F.col("doc_id") < probe_max_id)
        corpus = documents.where(F.col("doc_id") >= probe_max_id)
    else:
        probes, corpus = benchmark, documents
    n = F.length("text")
    win = F.when(
        n >= k,
        F.expr(
            f"transform(sequence(1, length(text) - {k} + 1),"
            f" i -> substring(text, i, {k}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bwin = (
        probes.select(F.col("doc_id").alias("bench_id"), F.explode(win).alias("w"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds the totals agg + the join
    )
    btot = bwin.groupBy("bench_id").agg(F.count("*").alias("n_windows"))
    cw = corpus.select("doc_id", F.explode(win).alias("w")).distinct()
    hits = cw.join(F.broadcast(bwin), "w")
    agg = hits.groupBy("bench_id").agg(
        F.countDistinct("doc_id").alias("n_corpus_docs"),
        F.countDistinct("w").alias("n_leaked_windows"),
    )
    ids = probes.select(F.col("doc_id").alias("bench_id"))
    return (
        ids.join(btot, "bench_id", "left")
        .join(agg, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_windows", F.lit(0)).cast("bigint").alias("n_windows"),
            F.coalesce("n_corpus_docs", F.lit(0)).cast("bigint").alias("n_corpus_docs"),
            F.coalesce("n_leaked_windows", F.lit(0))
            .cast("bigint")
            .alias("n_leaked_windows"),
            F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_leaked_windows", F.lit(0)) / F.col("n_windows"), 6
                )
            )
            .alias("leaked_frac"),
        )
    )


_DC4_SQL = f"""
WITH probes AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
corp AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
bw AS (
  SELECT DISTINCT doc_id AS bench_id, substr(text, pos, {CHAR_SPAN_K}) AS w
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {CHAR_SPAN_K - 1})) AS pos
        FROM probes WHERE length(text) >= {CHAR_SPAN_K})
),
bt AS (SELECT bench_id, count(*) AS n_windows FROM bw GROUP BY bench_id),
cw AS (
  SELECT DISTINCT doc_id, substr(text, pos, {CHAR_SPAN_K}) AS w
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {CHAR_SPAN_K - 1})) AS pos
        FROM corp WHERE length(text) >= {CHAR_SPAN_K})
),
h AS (SELECT bw.bench_id, cw.doc_id, bw.w FROM cw JOIN bw USING (w)),
a AS (SELECT bench_id, count(DISTINCT doc_id) AS n_corpus_docs,
             count(DISTINCT w) AS n_leaked_windows
      FROM h GROUP BY bench_id)
SELECT p.doc_id AS bench_id,
       CAST(coalesce(bt.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(a.n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs,
       CAST(coalesce(a.n_leaked_windows, 0) AS BIGINT) AS n_leaked_windows,
       CASE WHEN coalesce(bt.n_windows, 0) = 0 THEN 0.0
            ELSE round(coalesce(a.n_leaked_windows, 0) / bt.n_windows, 6)
       END AS leaked_frac
FROM probes p
LEFT JOIN bt ON p.doc_id = bt.bench_id
LEFT JOIN a ON p.doc_id = a.bench_id
"""


SUFFIX_SPAN_K = 24  # min duplicated-span length in chars (dd17 default)
SUFFIX_CHUNK_BYTES = 1 << 18  # per-chunk corpus bytes bound (dd17 default)
SUFFIX_BRIDGE_BUCKETS = None  # bridge task count; None = 3x parallelism


def suffix_dup_spans(
    documents: DataFrame,
    min_chars: int = SUFFIX_SPAN_K,
    chunk_bytes: int = SUFFIX_CHUNK_BYTES,
    bridge_buckets: int | None = SUFFIX_BRIDGE_BUCKETS,
) -> DataFrame:
    """dd17 — GLOBALLY EXACT character-span substring dedup (the Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models Better"
    suffix-array semantics): every maximal character range of length >=
    ``min_chars`` whose text occurs more than once ANYWHERE in the
    corpus, with exact extents and no rolling-window floor (dd7/dd14 are
    positional-shingle approximations with a 40-char/-k-token detection
    floor; dd18 is the sampled detector without exact extents). Output
    ``(doc_id, span_start, span_end, n_chars)`` — 1-based inclusive
    character positions, maximal merged ranges, one row per range.

    Architecture — ONE corpus pass, one aggregate, one bounded bridge
    stage, and not a single join:

    1. **Fused chunk pass.** Each input partition streams its Arrow
       batches into size-bounded LOCAL chunks by greedy cumulative
       length — chunks are contiguous runs of the INPUT order, so
       ingestion locality (same-source docs arriving together) is
       preserved without any shuffle, and per-task residency is bounded
       by ``chunk_bytes + max_doc_chars`` by construction. (Chunking
       only affects which pass finds a pair, never the result — see
       step 3 — so no particular input order is required.) Per chunk the
       task (a) builds a suffix array over the NUL-joined docs (numpy
       prefix doubling) + LCP (vectorized binary lifting over the saved
       doubling ranks — no per-character Python loop), takes per
       position the max LCP with its suffix-array neighbors, clips to
       doc ends, thresholds at ``min_chars`` and merges islands — exact
       spans for every duplicate pair co-resident in the chunk; and (b)
       runs a winnowing scan (Schleimer/Wilkerson/Aiken 2003) over the
       same concatenation: the minimizer of every window of ``w =
       min_chars - g + 1`` consecutive ``g``-gram starts (``g = min(16,
       min_chars)``), emitting (hash, chunk, doc, pos, context) rows
       where context is the +-``(min_chars - g)``-radius substring — the
       minimal radius that always contains any duplicated
       ``min_chars``-window through the anchor.

    2. **Hot filter (the only wide aggregate).** Any duplicated
       ``min_chars``-window contains a minimizer window, and because the
       (hash, position) tie-break is position-order-consistent between
       copies, both copies select the SAME gram content at the SAME
       relative offset — even when gram hashes collide. A
       ``countDistinct(chunk)`` aggregate per hash finds the hashes seen
       in >= 2 distinct chunks (map-side partials collapse per-chunk
       repetition; no per-group row ever holds more than a count), and
       the surviving hot-hash SET joins back onto the anchor stream —
       so a boilerplate anchor with millions of occurrences never
       builds an O(occurrences) aggregate row; its occurrences stay
       distributed until the bucketed bridge. This retains every
       cross-chunk duplicate's anchors (same-chunk duplicates are
       already exact via pass 1) while dropping all globally-unique
       text at the aggregate.

    3. **Bucketed bridge.** Hot anchors explode into ``bridge_buckets``
       hash buckets (same hash => same bucket, so both copies always
       meet; a FIXED task count keeps per-group Python overhead off the
       critical path — one task per hash would pay ~10 ms each, the
       note-11 failure mode). Per bucket, same-doc contexts are stitched
       overlap-or-touch (every shipped character becomes a distinct
       corpus position), byte-identical segments occurring at >= 2
       distinct positions are emitted as fully-covered and collapsed to
       one representative (mega-hot boilerplate costs O(distinct
       contexts), not O(occurrences)), and the same suffix-array pass
       runs over what remains. Every cross-chunk duplicated window lies
       inside both of its copies' shipped contexts, so pass-1 + pass-3
       coverage EQUALS the global union of duplicated
       ``min_chars``-windows; a final per-doc island merge yields the
       same maximal ranges a corpus-wide suffix array would.

    Exactness: no hash anywhere decides a claim — the anchor hash only
    routes candidate contexts (a collision can only add contexts; the
    consistency argument above shows a collision can never drop the
    shared anchor), and every span comes from literal string comparison
    in a suffix array. The DuckDB twin is therefore the chunk-free
    global window-posting/island-merge SQL.

    Scale story: the corpus is read ONCE with NO shuffle at all on the
    data (chunks follow input partition order; the only shuffled rows
    are the anchor stream); anchor rows cost ~2/(w+1) per char with a
    ~(g+2(k-g))-char payload and collapse at the hot aggregate, so
    unique text never reaches the bridge; there is no corpus-side join
    anywhere (a note-47 measurement killed the range-repartition
    variant: its sampling pass alone cost more than the whole
    fused stage). Chunk
    tasks are embarrassingly parallel with bounded memory. The one
    residual skew surface is a bucket holding many DISTINCT duplicated
    contexts (its suffix array is their concatenation); ``bridge_buckets``
    divides that linearly. By default it is AUTO-SIZED from the measured
    hot-anchor byte mass (``ceil(duplicated context chars / chunk_bytes)``,
    floored at 3x the session parallelism) — one small aggregate over the
    already-materialized hot rows — so a duplication-heavy corpus gets
    proportionally more bridge tasks and per-bucket suffix-array work
    stays ~chunk-bounded without the caller guessing a count.

    Reference parity: the reference engine has no dedup surface (samsa
    is a Kafka K/V state library — /root/reference/samsa/kafka/
    storage.py); this extends SURVEY.md §2.4 X2 per the round-9/10
    verdict tasks (exact byte-span substring dedup, made globally exact
    via locality-aware anchor routing in round 11).
    """
    k = int(min_chars)
    cb = int(chunk_bytes)
    # bucket-count floor: 3x the session parallelism — bucket loads are
    # hash-uniform (measured), so the wall is bucket->reducer collision
    # stragglers; 3 buckets per reducer smooths them (sf0.1: 4.0 s at 2x
    # cores -> 2.8 s at 3x), and the count scales with the cluster. The
    # actual count is auto-sized below from the hot-anchor byte mass
    # unless the caller pins one.
    nb_floor = 3 * documents.sparkSession.sparkContext.defaultParallelism
    g = min(16, k)  # anchor gram length
    w = k - g + 1  # minimizer window: guarantee line g + w - 1 == k
    R = k - g  # minimal context radius (see docstring step 1)

    def sa_dup_intervals(texts, kk):
        """Exact maximal duplicated >=kk-char intervals across (and
        within) the given texts: suffix array by prefix doubling, LCP by
        binary lifting over the saved per-level ranks (fully vectorized
        — byte-identical to Kasai), per-position max neighbor LCP
        clipped to text ends, threshold, overlap-or-touch island merge.
        Returns a list of (text_index, start0, end0) with 0-based
        inclusive bounds local to each text."""
        import numpy as np

        S = "\x00".join(texts)
        n = len(S)
        if n < kk:
            return []
        codes = np.frombuffer(S.encode("utf-32-le"), dtype=np.uint32)
        rank = np.unique(codes, return_inverse=True)[1].astype(np.int32)
        levels = [rank]  # levels[j] ranks prefixes of length 2**j
        h = 1
        while True:
            key2 = np.full(n, -1, dtype=np.int32)
            key2[: n - h] = rank[h:]
            order = np.lexsort((key2, rank))
            r1, r2 = rank[order], key2[order]
            neq = np.empty(n, dtype=np.int32)
            neq[0] = 0
            neq[1:] = ((r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])).astype(np.int32)
            new = np.empty(n, dtype=np.int32)
            new[order] = np.cumsum(neq, dtype=np.int32)
            rank = new
            levels.append(rank)
            if rank[order[-1]] == n - 1 or h >= n:
                sa = order
                break
            h *= 2
        # --- LCP of adjacent suffix-array pairs by binary lifting ------
        # At each level j (descending), equal ranks of the advanced
        # offsets imply a common prefix >= 2**j (padding can never fake
        # this for distinct suffixes of one string: equal padded ranks
        # past the end would force equal remaining lengths).
        a = sa[:-1].astype(np.int64)
        b = sa[1:].astype(np.int64)
        lvl = np.zeros(n - 1, dtype=np.int64)
        for j in range(len(levels) - 1, -1, -1):
            step = 1 << j
            if step > n:
                continue
            Rj = levels[j]
            ia = a + lvl
            ib = b + lvl
            ok = (ia < n) & (ib < n)
            idxa = np.where(ok, ia, 0)
            idxb = np.where(ok, ib, 0)
            ok &= Rj[idxa] == Rj[idxb]
            lvl += np.where(ok, step, 0)
        lcp = np.zeros(n, dtype=np.int64)
        lcp[1:] = lvl  # lcp[r] = LCP(sa[r-1], sa[r])
        rnk = levels[-1]
        # m_i = longest substring starting at i occurring >= 2 times
        nxt = np.append(lcp[1:], 0)
        m = np.maximum(lcp[rnk], nxt[rnk])
        # --- clip to text boundaries, threshold, merge islands ----------
        lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
        starts = np.zeros(len(texts), dtype=np.int64)
        if len(texts) > 1:
            starts[1:] = np.cumsum(lens[:-1] + 1)
        ends = starts + lens  # exclusive
        pos = np.arange(n, dtype=np.int64)
        di = np.searchsorted(starts, pos, side="right") - 1
        in_doc = pos < ends[di]
        eff = np.minimum(m, ends[di] - pos)
        sel = in_doc & (eff >= kk)
        if not sel.any():
            return []
        p_sel, d_sel, e_sel = pos[sel], di[sel], eff[sel]
        abs_end = p_sel + e_sel - 1
        prev_max = np.maximum.accumulate(
            np.concatenate([np.array([-2], dtype=np.int64), abs_end])
        )[:-1]
        doc_change = np.empty(len(p_sel), dtype=bool)
        doc_change[0] = True
        doc_change[1:] = d_sel[1:] != d_sel[:-1]
        new_isl = doc_change | (p_sel > prev_max + 1)
        bounds = np.flatnonzero(new_isl)
        isl_doc = d_sel[bounds]
        isl_start = p_sel[bounds] - starts[isl_doc]
        isl_end = np.maximum.reduceat(abs_end, bounds) - starts[isl_doc]
        return list(zip(isl_doc.tolist(), isl_start.tolist(), isl_end.tolist()))

    def chunk_pass(batches):
        """Streamed fused pass: greedy cumulative-length local chunks,
        per chunk one suffix-array span extraction (kind=0 rows) and one
        winnowing anchor+context scan (kind=1 rows)."""
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view
        from pyspark import TaskContext

        B = np.uint64(0x100000001B3)  # odd (FNV) multiplier; mod 2**64
        UMAX = np.uint64(0xFFFFFFFFFFFFFFFF)
        part = TaskContext.get().partitionId() if TaskContext.get() else 0
        seq = 0

        def process(ids, texts, chunk_id):
            for d, t in zip(ids, texts):
                if "\x00" in t:
                    raise ValueError(
                        f"suffix_dup_spans: doc {d} contains a NUL "
                        "character, which is reserved as the in-chunk "
                        "document separator; strip or remap NULs upstream "
                        "(e.g. translate(text, chr(0), ''))"
                    )
            frames = []
            ids_arr = np.asarray(ids, dtype=np.int64)
            spans = sa_dup_intervals(texts, k)
            if spans:
                ti = np.fromiter((x[0] for x in spans), dtype=np.int64)
                s0 = np.fromiter((x[1] for x in spans), dtype=np.int64)
                e0 = np.fromiter((x[2] for x in spans), dtype=np.int64)
                ns = len(spans)
                frames.append(
                    pd.DataFrame(
                        {
                            "kind": np.zeros(ns, dtype=np.int32),
                            "doc_id": ids_arr[ti],
                            "a": (s0 + 1).astype(np.int32),
                            "b": (e0 + 1).astype(np.int32),
                            "h": np.zeros(ns, dtype=np.int64),
                            "chunk": np.zeros(ns, dtype=np.int64),
                            "ctx": np.full(ns, None, dtype=object),
                        }
                    )
                )
            # --- winnowing anchors + contexts over the same concat -----
            S = "\x00".join(texts)
            n = len(S)
            ng = n - g + 1
            if n >= k and ng >= w:
                codes = np.frombuffer(
                    S.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                with np.errstate(over="ignore"):
                    acc = np.zeros(ng, dtype=np.uint64)
                    for j in range(g):
                        acc = acc * B + codes[j : j + ng]
                lens = np.fromiter(
                    (len(t) for t in texts), dtype=np.int64, count=len(texts)
                )
                starts = np.zeros(len(texts), dtype=np.int64)
                if len(texts) > 1:
                    starts[1:] = np.cumsum(lens[:-1] + 1)
                gpos = np.arange(ng, dtype=np.int64)
                di = np.searchsorted(starts, gpos, side="right") - 1
                in_doc = gpos + g - 1 < starts[di] + lens[di]
                acc = np.where(in_doc, acc, UMAX)
                wins = sliding_window_view(acc, w)
                # whole window in one doc, incl. the last gram's end
                ok = (di[: ng - w + 1] == di[w - 1 : ng]) & in_doc[w - 1 : ng]
                sel = wins.argmin(axis=1) + np.arange(ng - w + 1, dtype=np.int64)
                sel = np.unique(sel[ok])  # argmin = first (smallest pos)
                if len(sel):
                    dsel = di[sel]
                    rel = sel - starts[dsel]
                    lo = starts[dsel] + np.maximum(rel - R, 0)
                    hi = np.minimum(sel + g + R, starts[dsel] + lens[dsel])
                    na = len(sel)
                    frames.append(
                        pd.DataFrame(
                            {
                                "kind": np.ones(na, dtype=np.int32),
                                "doc_id": ids_arr[dsel],
                                "a": (lo - starts[dsel] + 1).astype(np.int32),
                                "b": np.zeros(na, dtype=np.int32),
                                "h": acc[sel].view(np.int64),
                                "chunk": np.full(na, chunk_id, dtype=np.int64),
                                "ctx": [
                                    S[l:r]
                                    for l, r in zip(lo.tolist(), hi.tolist())
                                ],
                            }
                        )
                    )
            if not frames:
                return None
            return pd.concat(frames, ignore_index=True)

        buf_ids, buf_texts, buf_chars = [], [], 0
        for pdf in batches:
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                buf_ids.append(d)
                buf_texts.append(t)
                buf_chars += len(t)
                if buf_chars >= cb:
                    res = process(buf_ids, buf_texts, part * (1 << 32) + seq)
                    seq += 1
                    buf_ids, buf_texts, buf_chars = [], [], 0
                    if res is not None:
                        yield res
        if buf_ids:
            res = process(buf_ids, buf_texts, part * (1 << 32) + seq)
            if res is not None:
                yield res

    def bridge(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "span_start": pd.Series([], dtype="int32"),
                "span_end": pd.Series([], dtype="int32"),
            }
        )
        n = len(pdf)
        if n == 0:
            return empty
        # vectorized per-doc overlap-or-touch interval merge: one lexsort,
        # then a cummax over doc-scoped composite keys (no pandas groupby —
        # its ~0.1 ms/group is the note-11 cost all over again)
        d = pdf["doc_id"].to_numpy()
        s = pdf["ctx_start"].to_numpy().astype(np.int64)
        t = pdf["ctx"].to_numpy()
        tl = np.fromiter((len(x) for x in t), dtype=np.int64, count=n)
        order = np.lexsort((s, d))
        d, s, t, tl = d[order], s[order], t[order], tl[order]
        e = s + tl - 1
        BIGK = np.int64(1) << 40  # > any in-doc position
        ckey = np.maximum.accumulate(d * BIGK + e)
        prev_end = np.empty(n, dtype=np.int64)
        prev_end[0] = np.iinfo(np.int64).min // 2
        prev_end[1:] = ckey[:-1] - d[1:] * BIGK  # cross-doc => very negative
        new_seg = s > prev_end + 1
        new_seg[0] = True
        # stitch: contexts of one doc agree on overlaps, so appending the
        # non-overlapping tail reconstructs the merged substring
        seg_docs, seg_starts, seg_parts = [], [], []
        cur_end = -1
        for i in range(n):
            if new_seg[i]:
                seg_docs.append(int(d[i]))
                seg_starts.append(int(s[i]))
                seg_parts.append([t[i]])
                cur_end = int(e[i])
            else:
                tail = int(e[i]) - cur_end
                if tail > 0:
                    seg_parts[-1].append(t[i][len(t[i]) - tail :])
                    cur_end = int(e[i])
        segs = [
            (dd, ss, "".join(parts))
            for dd, ss, parts in zip(seg_docs, seg_starts, seg_parts)
        ]
        segs = [x for x in segs if len(x[2]) >= k]
        if not segs:
            return empty
        # byte-identical segments at >= 2 distinct positions are fully
        # duplicated: emit whole-segment coverage, SA sees one rep
        bytext: dict = {}
        for dd, ss, tt in segs:
            bytext.setdefault(tt, []).append((dd, ss))
        out_d, out_s, out_e = [], [], []
        sa_texts, sa_meta = [], []
        for tt, occ in bytext.items():
            if len(occ) >= 2:
                for dd, ss in occ:
                    out_d.append(dd)
                    out_s.append(ss)
                    out_e.append(ss + len(tt) - 1)
            sa_texts.append(tt)
            sa_meta.append(occ[0])
        for ti, s0, e0 in sa_dup_intervals(sa_texts, k):
            dd, st = sa_meta[ti]
            out_d.append(dd)
            out_s.append(st + s0)
            out_e.append(st + e0)
        return pd.DataFrame(
            {
                "doc_id": pd.Series(out_d, dtype="int64"),
                "span_start": pd.Series(out_s, dtype="int32"),
                "span_end": pd.Series(out_e, dtype="int32"),
            }
        )

    tagged = (
        documents.select("doc_id", "text")
        .mapInPandas(
            chunk_pass,
            "kind int, doc_id bigint, a int, b int, h bigint, "
            "chunk bigint, ctx string",
        )
        .localCheckpoint(eager=False)  # two consumers (note 12)
    )
    pass_a = tagged.where("kind = 0").select(
        "doc_id",
        F.col("a").alias("span_start"),
        F.col("b").alias("span_end"),
    )
    # hot filter, two steps so no aggregate row is ever O(occurrences)
    # (a mega-hot boilerplate anchor would otherwise collect_list millions
    # of contexts into one multi-GB row): (1) count-only aggregate finds
    # hashes spanning >= 2 chunks (map-side partials, bounded state);
    # (2) the hot-hash set joins back onto the anchor stream — AQE turns
    # this into a broadcast join when the hot set is small, so occurrences
    # stay distributed all the way to the bucketed bridge.
    anchors = tagged.where("kind = 1")
    hot = (
        anchors.groupBy("h")
        .agg(F.countDistinct("chunk").alias("_nc"))
        .where(F.col("_nc") >= 2)
        .select("h")
    )
    cand = (
        anchors.join(hot, "h")
        .select("h", "doc_id", F.col("a").alias("ctx_start"), "ctx")
        .localCheckpoint(eager=False)  # feeds the sizing agg + the bridge
    )
    if bridge_buckets is not None:
        nb = int(bridge_buckets)
    else:
        # auto-size: per-bucket SA input ~ chunk-sized, floored for
        # straggler smoothing (docstring scale story)
        dup_chars = cand.agg(F.sum(F.length("ctx"))).first()[0] or 0
        nb = max(nb_floor, -(-int(dup_chars) // cb))
    bridge_spans = (
        cand.select(F.pmod("h", F.lit(nb)).alias("_b"), "doc_id", "ctx_start", "ctx")
        .groupBy("_b")
        .applyInPandas(bridge, "doc_id bigint, span_start int, span_end int")
    )

    spans = pass_a.unionByName(bridge_spans)
    wd = Window.partitionBy("doc_id").orderBy("span_start", "span_end")
    prev_end = F.max("span_end").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.withColumn(
        "_new",
        (F.col("span_start") > F.coalesce(prev_end, F.lit(-1)) + 1).cast("int"),
    ).withColumn(
        "_island",
        F.sum("_new").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("doc_id", "_island")
        .agg(
            F.min("span_start").alias("span_start"),
            F.max("span_end").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int")
            .alias("n_chars"),
        )
    )


WINNOW_K = 16  # gram length (dd18 default)
WINNOW_W = 8  # winnowing window in gram positions (dd18 default)


def winnow_dup_spans(
    documents: DataFrame, min_chars: int = WINNOW_K, window: int = WINNOW_W
) -> DataFrame:
    """dd18 — winnowed (minimizer-sampled) duplicated-span detection, the
    GLOBAL sub-40-char complement to dd17: Schleimer/Wilkerson/Aiken 2003
    document fingerprinting. Instead of posting every k-char window
    (dd14's cost) or chunking the corpus (dd17's boundary), each doc posts
    only its window MINIMIZERS — per run of ``window`` consecutive gram
    positions, the gram with the smallest (md5, position) — at expected
    density 2/(window+1) (~22% of dd14's posting rows at the defaults).

    GUARANTEE (the winnowing theorem): any duplicated run of length >=
    ``min_chars + window - 1`` chars (23 at the defaults — below dd14's
    40 floor, with ~4.5x fewer shuffle rows) contains at least one full
    minimizer window, and both copies select the same gram CONTENT (the
    tie-break position is window-relative only when md5s tie, i.e. when
    the tying grams are identical strings anyway) — so every such run is
    detected on every copy, corpus-wide, no chunk boundary. Runs between
    min_chars and the guarantee line MAY be found (if a minimizer happens
    to land inside); reported spans are exact duplicated substrings but
    anchor-sampled, so they can under-cover the maximal extent — use dd17
    for exact extents, dd18 for cheap global detection.

    Output ``(doc_id, span_start, span_end, n_chars, n_anchors)`` —
    1-based inclusive char positions of merged duplicated-anchor islands.

    Cross-engine exactness: the fingerprint is md5 of the gram STRING
    (identical hex in Spark and DuckDB — no xxhash64 portability carve-
    out), minimizer selection is one ROWS-frame window min of a (f, pos)
    struct (positions are dense, so a row frame IS a position window),
    and the island merge is dd14's. The whole plan is one explode, one
    per-doc window, one hash aggregate and one join — no UDF at all.
    """
    k, w = int(min_chars), int(window)
    n = F.length("text")
    grams = F.when(
        n >= k,
        F.expr(
            f"transform(sequence(1, length(text) - {k} + 1),"
            f" i -> struct(i AS pos, md5(substring(text, i, {k})) AS f))"
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,f:string>>"))
    p = documents.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.f").alias("f")
    )
    wspec = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sel = p.select(
        "doc_id",
        F.min(F.struct("f", "pos")).over(wspec).alias("wm"),
        F.count("*").over(wspec).alias("nf"),
    )
    # Anchors feed the occurrence count AND the join back (note 12).
    anchors = (
        sel.where(F.col("nf") >= w)
        .select("doc_id", F.col("wm.pos").alias("pos"), F.col("wm.f").alias("f"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hot = (
        anchors.groupBy("f")
        .agg(F.count("*").alias("occ"))
        .where(F.col("occ") > 1)
        .select("f")
    )
    dup = anchors.join(hot, "f").select("doc_id", "pos")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "new_island",
        (F.col("pos") > F.coalesce(F.lag("pos").over(wd), F.lit(-k)) + k).cast("int"),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            (F.max("pos") + F.lit(k - 1) - F.min("pos") + 1).alias("n_chars"),
            F.count("*").alias("n_anchors"),
        )
        .select("doc_id", "span_start", "span_end", "n_chars", "n_anchors")
    )


def _dominated_islands(documents: DataFrame, k: int) -> DataFrame:
    """Merged DOMINATED duplicated ranges ``(doc_id, span_start, span_end)``
    — occurrences of a duplicated k-span that are not the corpus-first
    (smallest ``(doc_id, pos)``) occurrence, islands merged per doc. The
    shared core of dd8 (fraction) and dd9 (text rewrite)."""
    p = (
        span_postings(documents, k)
        .select("doc_id", "pos", F.xxhash64("span").alias("sh"))
        .localCheckpoint(eager=False)
    )
    firsts = p.groupBy("sh").agg(
        F.count("*").alias("occ"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    dom = (
        p.join(firsts.where(F.col("occ") > 1), "sh")
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        dom.withColumn(
            "new_island",
            (F.col("pos") > F.coalesce(F.lag("pos").over(w), F.lit(-k)) + k).cast("int"),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def dominated_span_fraction(documents: DataFrame, min_tokens: int = SPAN_K) -> DataFrame:
    """dd7's pipeline-facing form: per document, the fraction of its tokens
    inside DOMINATED duplicated ranges — occurrences of a duplicated span
    that are not the corpus-first (smallest ``(doc_id, pos)``) occurrence.
    Excluding the first occurrence is what makes "drop high-fraction docs"
    a dedup rule rather than content destruction: the canonical copy of a
    shared template scores 0 from that template, every later copy scores
    its full length (greedy lowest-id-survives, the same convention as
    pp1's fuzzy stage).

    Output: ``(doc_id, n_doc_tokens, dup_tokens, dup_frac)`` for every doc
    (docs shorter than ``min_tokens`` score 0). Same plan family as
    :func:`substring_dup_spans` with the occurrence count swapped for a
    min-occurrence aggregate.
    """
    k = min_tokens
    islands = (
        _dominated_islands(documents, k)
        .select("doc_id", (F.col("span_end") - F.col("span_start") + 1).alias("len"))
        .groupBy("doc_id")
        .agg(F.sum("len").alias("dup_tokens"))
    )
    n_toks = documents.select("doc_id", F.size(F.split("text", " ")).alias("n_doc_tokens"))
    d = F.coalesce("dup_tokens", F.lit(0)).cast("bigint")
    return n_toks.join(islands, "doc_id", "left").select(
        "doc_id",
        F.col("n_doc_tokens").cast("bigint").alias("n_doc_tokens"),
        d.alias("dup_tokens"),
        F.round(d / F.col("n_doc_tokens"), 6).alias("dup_frac"),
    )


def strip_dominated_spans(documents: DataFrame, min_tokens: int = SPAN_K) -> DataFrame:
    """dd9 — the substring-dedup REWRITE (what Lee et al. 2022 actually do
    to the corpus, not just flag): remove every dominated duplicated range
    from each document's text, keeping the corpus-first occurrence of every
    span. Output ``(doc_id, n_doc_tokens, n_kept_tokens, clean_text)`` for
    every doc — a fully-dominated doc comes back empty, a clean doc comes
    back verbatim; dd8's drop rule and this rewrite are the two standard
    deployments of the same dominated-range table.

    Plan shape: the range table is dd8's (:func:`_dominated_islands`);
    ranges collect to a per-doc array (bounded: merged ranges per doc <=
    tokens/k) and the rebuild is pure array algebra — a position-tagged
    transform + filter + concat_ws, shuffle-free after the one (doc_id)
    join, running JVM-side at the input's partitioning. Per-token work is
    O(ranges-per-doc) (the membership scan over the tiny range array) —
    inherent to the semantics, not a note-20 recomputed invariant.
    """
    k = min_tokens
    rng = (
        _dominated_islands(documents, k)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
            ).alias("rs")
        )
    )
    toks = F.split("text", " ")
    j = (
        documents.select("doc_id", "text")
        .join(rng, "doc_id", "left")
        .withColumn("rs", F.coalesce("rs", F.array().cast("array<struct<s:int,e:int>>")))
    )
    tagged = F.transform(toks, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p")))
    kept = F.filter(
        tagged,
        lambda s: ~F.exists("rs", lambda r: (s["p"] >= r["s"]) & (s["p"] <= r["e"])),
    )
    return j.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_doc_tokens"),
        F.size(kept).cast("bigint").alias("n_kept_tokens"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["t"])).alias("clean_text"),
    )


_DD9_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
i AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {SPAN_K - 1})) AS pos
  FROM t
),
p AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(toks, pos, pos + {SPAN_K - 1}), ' ') AS span
  FROM i
),
firsts AS (
  SELECT span, count(*) AS occ,
         min({{'d': doc_id, 'p': pos}}) AS f
  FROM p GROUP BY span
),
dom AS (
  SELECT p.doc_id, p.pos
  FROM p JOIN firsts USING (span)
  WHERE firsts.occ > 1 AND (p.doc_id <> firsts.f.d OR p.pos <> firsts.f.p)
),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER w, -{SPAN_K}) + {SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM dom WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
isl AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + {SPAN_K - 1} AS e
  FROM s GROUP BY doc_id, island
),
allpos AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos FROM t),
keep AS (
  SELECT a.doc_id, a.pos, a.toks[a.pos] AS tok
  FROM allpos a
  WHERE NOT EXISTS (
    SELECT 1 FROM isl WHERE isl.doc_id = a.doc_id AND a.pos BETWEEN isl.s AND isl.e
  )
),
ka AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM keep GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_doc_tokens,
       CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept_tokens,
       coalesce(ka.clean_text, '') AS clean_text
FROM t LEFT JOIN ka USING (doc_id)
"""


# min_count interpolated into the oracle (not hardcoded) so the registered
# default and the SQL threshold cannot drift apart (round-3 advice).
LINE_DEDUP_MIN_COUNT = 3


def line_dedup(documents: DataFrame, min_count: int = LINE_DEDUP_MIN_COUNT) -> DataFrame:
    """dd11 — STRUCTURAL line-level corpus dedup (the C4/CCNet/RefinedWeb
    rule family): drop every line whose trimmed form occurs at least
    ``min_count`` times across the corpus — navigation bars, cookie
    banners, footers, license headers — and return the rebuilt documents
    ``(doc_id, n_lines, n_dropped_lines, clean_text)``. This is the
    *structural* sibling of dd7/dd8: those find duplicated TOKEN RANGES
    irrespective of layout; this keys on the document's own line structure,
    which is what the production crawl filters actually deploy (C4 dropped
    repeated lines corpus-wide; CCNet dedups on paragraph hashes).
    Empty/whitespace-only lines never participate in counting (they are
    layout, not boilerplate) and are kept verbatim.

    Scale shape: one posexplode (corpus line count — lighter than any
    tokenizing op here), one algebraic hash aggregate on the line's sha256
    (fixed 32-byte shuffle keys, never the line string — dd10's argument),
    one equi-join back (the hot-line table is the boilerplate set, orders
    of magnitude smaller than the corpus; AQE broadcasts it when it fits),
    and a per-doc rebuild whose state is bounded by doc length (the dd9
    array-algebra pattern). No global sort, no cartesian.

    Degenerate on the synthetic gate corpus (single-line docs, all texts
    distinct -> zero drops), where the oracle still pins the exact
    split/reassemble roundtrip; the rule itself is oracle-checked on
    planted multi-line corpora in tests/test_dedup.py.
    """
    lines = documents.select(
        "doc_id", F.posexplode(F.split("text", "\n", -1)).alias("pos", "line")
    )
    norm = F.trim(F.col("line"))
    keyed = lines.withColumn("lk", F.when(norm != "", F.sha2(norm, 256)))
    hot = (
        keyed.where(F.col("lk").isNotNull())
        .groupBy("lk")
        .agg(F.count("*").alias("occ"))
        .where(F.col("occ") >= min_count)
        .select("lk", F.lit(True).alias("_hot"))
    )
    marked = keyed.join(hot, "lk", "left")
    dropped = F.coalesce(F.col("_hot"), F.lit(False))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(dropped.cast("int")).alias("n_dropped_lines"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos").alias("p"),
                        F.when(~dropped, F.col("line")).alias("l"),
                    )
                )
            ).alias("arr"),
        )
        .select(
            "doc_id",
            "n_lines",
            F.col("n_dropped_lines").cast("bigint").alias("n_dropped_lines"),
            F.array_join(
                F.transform(
                    F.filter("arr", lambda x: x["l"].isNotNull()),
                    lambda x: x["l"],
                ),
                "\n",
            ).alias("clean_text"),
        )
    )


_DD11_SQL = """
WITH s AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
),
l AS (
  SELECT doc_id,
         unnest([{'pos': i, 'line': ls[i]}
                 for i in generate_series(1, len(ls))],
                recursive := true)
  FROM s
),
hot AS (
  SELECT trim(line) AS k FROM l WHERE trim(line) <> ''
  GROUP BY trim(line) HAVING count(*) >= __MIN_COUNT__
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN hot.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_lines,
       coalesce(
         string_agg(CASE WHEN hot.k IS NULL THEN line END, chr(10)
                    ORDER BY pos),
         '') AS clean_text
FROM l LEFT JOIN hot ON trim(l.line) = hot.k
GROUP BY doc_id
""".replace("__MIN_COUNT__", str(LINE_DEDUP_MIN_COUNT))


def dedup_clusters(documents: DataFrame, min_jaccard: float = 0.1, max_iter: int = 15) -> DataFrame:
    """dd6 — near-dup clustering: connected components over the Jaccard
    pair graph by iterative min-label propagation; every document gets a
    canonical id (the smallest doc_id reachable through near-dup edges) and
    its cluster size. The operator that turns pairwise candidates into the
    keep-one-per-group decision a dedup pipeline actually needs.

    Iterative DataFrame loop done right for scale: per-iteration
    ``localCheckpoint`` truncates lineage (no exponential plan growth), the
    join key is the label (shuffle size = |edges|), and iteration count is
    bounded by cluster diameter (tiny for dup clusters) with a convergence
    check, not a guess.
    """
    spark = documents.sparkSession
    # The propagation loop EXECUTES inside this function (count per
    # iteration), so a shuffle-partition pin + restore genuinely scopes it:
    # on a vanilla 200-partition session each tiny iteration would
    # otherwise run 200 tasks.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        labels = _propagate_labels(documents, min_jaccard, max_iter)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    lab = labels.select("doc_id", F.col("label").alias("canonical_id"))
    sizes = lab.groupBy("canonical_id").agg(F.count("*").alias("cluster_size"))
    return lab.join(sizes, "canonical_id").select("doc_id", "canonical_id", "cluster_size")


def cluster_canonicalize(
    documents: DataFrame,
    min_jaccard: float = 0.1,
    quality: F.Column | None = None,
) -> DataFrame:
    """dd15 — quality-aware duplicate-cluster canonicalization: the
    keep-WHICH-copy decision a production dedup pipeline actually makes.
    dd6 turns pairwise candidates into clusters but its canonical id is
    just the smallest doc_id; real pipelines keep the BEST copy of each
    near-dup cluster (the longest / highest-quality variant — partial
    scrapes and truncated mirrors should lose to the full document, not
    win by id order). Per doc: ``(doc_id, canonical_id, cluster_size,
    quality, keeper_id, keep)`` — ``keeper_id`` is the cluster member
    maximizing ``quality`` (ties to the smallest doc_id), ``keep`` marks
    it; filtering on ``keep`` is the dedup pass.

    ``quality`` is any per-doc column expression over ``documents``; the
    default is ``length(text)`` (longest-copy retention, the common
    rule). Composes with any scorer — e.g. tx2's quality score or cls1's
    classifier score joined on beforehand (composition pytest-locked).

    Scale shape: dd6's label propagation does the heavy lifting
    (bucketed pair gen + bounded iterations); the selection adds one
    min_by hash aggregate over (cluster, quality) — algebraic, map-side
    partials, never a window over the corpus — and one join back on the
    cluster id. Exact DuckDB twin: dd6's recursive-CTE clusters + a
    named-struct min (field order = compare order, note 22) for the
    lexicographic (-quality, doc_id) first occurrence.
    """
    q = quality if quality is not None else F.length("text")
    clusters = dedup_clusters(documents, min_jaccard)
    scored = documents.select(
        "doc_id", q.cast("bigint").alias("quality")
    ).join(clusters, "doc_id")
    keepers = scored.groupBy("canonical_id").agg(
        F.min_by(
            "doc_id",
            F.struct((-F.col("quality")).alias("nq"), F.col("doc_id").alias("d")),
        ).alias("keeper_id")
    )
    return scored.join(keepers, "canonical_id").select(
        "doc_id",
        "canonical_id",
        "cluster_size",
        "quality",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("keep"),
    )


def _propagate_labels(documents: DataFrame, min_jaccard: float, max_iter: int) -> DataFrame:
    pairs = ngram_jaccard_pairs(documents, min_jaccard).select("doc_a", "doc_b")
    nodes = documents.select(F.col("doc_id").alias("id"))
    labels = propagate_min_labels(
        nodes, pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")), max_iter
    )
    return labels.select(F.col("id").alias("doc_id"), "label")


# Size-conditional driver fast path for connected components (the note-55
# regime pattern; kmeans' bounded centroid collect is the precedent): at or
# below this many nodes the component resolution is one driver-side
# union-find over the collected (already-checkpointed) edge list — the
# distributed loop pays ~0.5 s of fixed stage overhead PER ITERATION
# (join + aggregate + checkpoint + convergence count), which dominates
# wall time whenever the graph is small (er1/er2/st13 run at name-type
# cardinality: 64 distinct names at sf0.1). Above the cap the iterative
# loop runs unchanged — node cardinality grows with the data, so a 100 TB
# corpus graph never lands on the driver. 200k ids ≈ a few tens of MB of
# Python objects: safe inside the external driver's vanilla 1 GiB heap
# (note 48).
DRIVER_CC_MAX_NODES = 200_000
# Byte-aware tightening of the node cap (r14 verdict task 6): fixed-width
# ids (long/int) at 200k rows are a few MB of Python objects, but STRING
# ids (er-style name keys) cost ~10x per row as driver-side Row objects —
# a 200k-string graph could brush the external driver's vanilla 1 GiB heap
# (note 48). Non-numeric id types use this lower cap.
DRIVER_CC_MAX_STRING_NODES = 50_000


def _driver_min_labels(spark, id_field, node_rows, edge_rows) -> DataFrame:
    """Union-find min-label components on the driver — exactly the full
    closure the oracle twins (recursive CTEs) compute, and what the
    iterative loop converges to. Union-by-min keeps every tree's root the
    smallest member, so ``find(i)`` IS the label. Edges with an endpoint
    outside ``nodes`` are inert, matching the loop (labels only ever join
    through node ids). NULL ids/endpoints are likewise inert — the loop's
    joins never match them — and a NULL node row keeps its (NULL, NULL)
    label row, exactly what the loop's left join emits for it."""
    ids = [r[0] for r in node_rows if r[0] is not None]
    n_null = len(node_rows) - len(ids)
    parent = {i: i for i in ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r[0], r[1]
        if a is not None and b is not None and a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("id", id_field.dataType, id_field.nullable),
            StructField("label", id_field.dataType, id_field.nullable),
        ]
    )
    rows = [(i, find(i)) for i in sorted(ids)] + [(None, None)] * n_null
    # Deliberately NOT localCheckpoint(eager=True)-ed (r15 A/B, the note-60
    # measure-first rule): the eager materialization costs ~0.4 s of Python
    # round trip PER CALL, which the multi-call er/st13 resolve paths pay
    # 2-3x per query, while sd1 — the one double-reference consumer the
    # note-58 rule would protect — measured a wash (4.45 vs 4.35 s floor):
    # re-scanning a label-count-sized 1-slice frame twice costs about what
    # one materialization does.
    return tables.local_rows(spark, rows, schema)


def propagate_min_labels(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 15,
    driver_max_nodes: int | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the shared
    core of dd6 (Jaccard pair graph) and sd1 (semantic embedding pair
    graph). ``nodes`` has one ``id`` column; ``edges`` has ``src``/``dst``
    (one direction is enough — symmetrized here). Returns ``(id, label)``
    where ``label`` is the smallest id reachable from ``id``.

    Scale shape: per-iteration ``localCheckpoint`` truncates lineage (no
    exponential plan growth), the join key is the node id (shuffle size =
    |edges|), and the loop exits on convergence (iterations bounded by
    component diameter — tiny for dup clusters). Graphs at or below
    ``driver_max_nodes`` (default :data:`DRIVER_CC_MAX_NODES`; 0 disables)
    short-circuit to one driver union-find over the checkpointed edge
    list — identical labels (the loop's ``max_iter`` only binds a
    pathological corpus the convergence exit never sees; the oracle twins
    compute the full closure, which both regimes return), a dozen Spark
    jobs fewer."""
    if driver_max_nodes is None:
        driver_max_nodes = DRIVER_CC_MAX_NODES
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    if driver_max_nodes > 0:
        # Byte-aware cap (r14 verdict task 6): string-keyed graphs collect
        # ~10x heavier rows, so they get the lower cap.
        id_type = nodes.schema[0].dataType.simpleString()
        cap = (
            driver_max_nodes
            if id_type in ("bigint", "int", "smallint", "tinyint")
            else min(driver_max_nodes, DRIVER_CC_MAX_STRING_NODES)
        )
        # ONE bounded evaluation of the nodes frame (a count-then-collect
        # gate re-evaluates the distinct aggregate and measurably regressed
        # st13's per-batch resolves): collect at most cap+1 rows; an
        # over-cap graph pulls that bounded prefix only and skips the
        # edge-count job entirely (r14 ADVICE, with the cap now byte-aware
        # so the bounded prefix stays small for string ids too).
        node_rows = nodes.limit(cap + 1).collect()
        if len(node_rows) <= cap and sym.count() <= 4 * cap:
            out = _driver_min_labels(
                nodes.sparkSession, nodes.schema[0], node_rows, sym.collect()
            )
            tables.free_checkpoint(sym)  # never read again (notes 34/45)
            return out
    labels = nodes.withColumn("label", F.col("id")).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        new = (
            labels.join(nbr, labels.id == nbr.src, "left")
            .select(
                F.col("id"),
                F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias(
                    "new_label"
                ),
                F.col("label").alias("old_label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.where(F.col("new_label") != F.col("old_label")).count()
        labels = new.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels


# --- registry wiring -------------------------------------------------------


def _dd19_query(spark: SparkSession, sf: str) -> DataFrame:
    """Registry form of dd19: build the index over even doc_ids in a fresh
    temp dir, dedup the odd-id batch against it."""
    import tempfile

    docs = tables.load(spark, sf, "documents", spread=True)
    p = tempfile.mkdtemp(prefix="dd19-")
    save_dedup_index(docs.where("doc_id % 2 = 0"), p)
    return dedup_against_index(spark, p, docs.where("doc_id % 2 = 1"))


def build_queries():
    def q(fn, **kw):
        def run(spark: SparkSession, sf: str) -> DataFrame:
            # spread: shingling/hashing is CPU-bound per row; parallelize the
            # single-row-group testdata scan across cores.
            return fn(tables.load(spark, sf, "documents", spread=True), **kw)

        return run

    return {
        "dd1_exact_dedup": (q(exact_dedup), _DD1_SQL),
        "dd2_ngram_jaccard": (q(ngram_jaccard_pairs), _DD2_SQL),
        "nv1_novelty_scores": (q(novelty_scores), _NV1_SQL),
        # xxhash64-based: no DuckDB twin -> rows-only driver check;
        # recall-verified against brute force in tests/test_dedup.py.
        "dd3_minhash_lsh": (q(minhash_lsh_pairs), None),
        "dd4_simhash_pairs": (q(simhash_near_pairs), None),
        "dd6_dedup_clusters": (q(dedup_clusters), _DD6_SQL),
        "dc1_decontaminate": (q(decontaminate), _DC1_SQL),
        # dc2 = dc1's beyond-broadcast regime with the Bloom-digest
        # prefilter in front of the shuffle join; a Bloom has no false
        # negatives and the exact join confirms survivors, so dc2 runs
        # under dc1's own oracle unchanged (st8/d9's shared-oracle pattern).
        "dc2_decontaminate_bloom": (
            q(decontaminate, broadcast_benchmark=False, bloom_prefilter=True),
            _DC1_SQL,
        ),
        "dc3_strip_contaminated_spans": (q(strip_contaminated_spans), _DC3_SQL),
        # dc4 = the benchmark-side report over dc3's window-hit stage:
        # which eval items leak, into how many corpus docs, what fraction.
        "dc4_contamination_report": (q(contamination_report), _DC4_SQL),
        # dd19 = the incremental form of dd16: index the even-id half, dedup
        # the odd-id batch against it; exactness equals dd16 on the union
        # restricted to batch-touching pairs, so the oracle is dd2's SQL
        # with the threshold and a parity filter.
        "dd19_incremental_dedup": (
            _dd19_query,
            "SELECT * FROM (" + _DD2_SQL + ") WHERE jaccard >= "
            + str(DD16_MIN_JACCARD)
            + " AND NOT (doc_a % 2 = 0 AND doc_b % 2 = 0)",
        ),
        # dd16 = the exact threshold-Jaccard join; its oracle is dd2's SQL
        # with the threshold applied (prefix filtering is lossless).
        "dd16_prefix_jaccard": (
            q(prefix_jaccard_pairs),
            "SELECT * FROM (" + _DD2_SQL + ") WHERE jaccard >= " + str(DD16_MIN_JACCARD),
        ),
        "dd7_substring_spans": (q(substring_dup_spans), _DD7_SQL),
        "dd8_dominated_frac": (q(dominated_span_fraction), _DD8_SQL),
        "dd9_strip_spans": (q(strip_dominated_spans), _DD9_SQL),
        "dd10_dedup_against": (q(dedup_against), _DD10_SQL),
        "dd11_line_dedup": (q(line_dedup), _DD11_SQL),
        "dd12_containment": (q(containment_pairs), _DD12_SQL),
        "dd13_normalized_dedup": (q(normalized_dedup), _DD13_SQL),
        "dd14_char_spans": (q(char_dup_spans), _DD14_SQL),
        "dd17_exact_spans": (q(suffix_dup_spans), _DD17_SQL),
        "dd18_winnow_spans": (q(winnow_dup_spans), _DD18_SQL),
        "dd15_cluster_canonicalize": (q(cluster_canonicalize), _DD15_SQL),
    }


# dc3: benchmark windows as distinct STRINGS, corpus posting join, dd14's
# island merge, then a per-character range anti-join rebuild (string_agg in
# position order) — character semantics are codepoints on both engines.
_DC3_SQL = f"""
WITH bench AS (
  SELECT DISTINCT substr(text, pos, {CHAR_SPAN_K}) AS w
  FROM (SELECT text, unnest(generate_series(1, length(text) - {CHAR_SPAN_K - 1}))
          AS pos
        FROM documents WHERE doc_id < 20 AND length(text) >= {CHAR_SPAN_K})
),
corp AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
cw AS (
  SELECT doc_id, pos, substr(text, pos, {CHAR_SPAN_K}) AS w
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {CHAR_SPAN_K - 1})) AS pos
        FROM corp WHERE length(text) >= {CHAR_SPAN_K})
),
hits AS (SELECT doc_id, pos FROM cw JOIN bench USING (w)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER w2, -{CHAR_SPAN_K}) + {CHAR_SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM hits WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
isl AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {CHAR_SPAN_K - 1} AS e
  FROM s GROUP BY doc_id, island
),
chars AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text))) AS i
  FROM corp
),
kept AS (
  SELECT ch.doc_id, ch.i, substr(ch.text, ch.i, 1) AS c
  FROM chars ch LEFT JOIN isl
    ON ch.doc_id = isl.doc_id AND ch.i BETWEEN isl.s AND isl.e
  WHERE isl.doc_id IS NULL
),
agg AS (
  SELECT doc_id, count(*) AS n, string_agg(c, '' ORDER BY i) AS txt
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_kept_chars,
       coalesce(a.txt, '') AS clean_text
FROM corp c LEFT JOIN agg a USING (doc_id)
"""


_DD10_SQL = """
WITH ref AS (
  SELECT DISTINCT sha256(text) AS content_sha FROM documents WHERE doc_id < 50
), new AS (
  SELECT doc_id, sha256(text) AS content_sha FROM documents WHERE doc_id >= 50
)
SELECT new.doc_id, new.content_sha,
       (ref.content_sha IS NOT NULL) AS in_reference
FROM new LEFT JOIN ref USING (content_sha)
"""


# dd7/dd8 oracles group by the span STRING where Spark groups by its
# xxhash64 (same exactness argument as dd2: a cross-span hash collision
# perturbs a count with probability ~n^2/2^64).
_DD7_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
i AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {SPAN_K - 1})) AS pos
  FROM t
),
p AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(toks, pos, pos + {SPAN_K - 1}), ' ') AS span
  FROM i
),
hot AS (SELECT span FROM p GROUP BY span HAVING count(*) > 1),
d AS (SELECT doc_id, pos FROM p JOIN hot USING (span)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER w, -{SPAN_K}) + {SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {SPAN_K - 1} AS INT) AS span_end,
       CAST(max(pos) + {SPAN_K - 1} - min(pos) + 1 AS INT) AS n_tokens,
       count(*) AS n_spans
FROM s GROUP BY doc_id, island
"""

# dd14: the char-level twin of _DD7_SQL — substr windows instead of token
# slices; groups on the window STRING where Spark groups on its xxhash64
# (dd7's exactness argument).
_DD14_SQL = f"""
WITH i AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text) - {CHAR_SPAN_K - 1})) AS pos
  FROM documents
  WHERE length(text) >= {CHAR_SPAN_K}
),
p AS (
  SELECT doc_id, pos, substr(text, pos, {CHAR_SPAN_K}) AS span FROM i
),
hot AS (SELECT span FROM p GROUP BY span HAVING count(*) > 1),
d AS (SELECT doc_id, pos FROM p JOIN hot USING (span)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER w, -{CHAR_SPAN_K}) + {CHAR_SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {CHAR_SPAN_K - 1} AS INT) AS span_end,
       CAST(max(pos) + {CHAR_SPAN_K - 1} - min(pos) + 1 AS INT) AS n_chars,
       count(*) AS n_spans
FROM s GROUP BY doc_id, island
"""

# dd17: the GLOBAL window-posting/island-merge twin at k=SUFFIX_SPAN_K —
# no chunk term anywhere, because the operator's chunk pass + anchor bridge
# is globally exact (suffix_dup_spans docstring). Equality is the
# window-cover argument: the union of corpus-wide duplicated k-windows
# equals the union of >=k repeated substrings, and both sides merge that
# union into identical maximal ranges. Groups on the window STRING where
# the operator compares actual characters — no hash decides a claim on
# either side.
_DD17_SQL = f"""
WITH i AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text) - {SUFFIX_SPAN_K - 1})) AS pos
  FROM documents
  WHERE length(text) >= {SUFFIX_SPAN_K}
),
p AS (
  SELECT doc_id, pos, substr(text, pos, {SUFFIX_SPAN_K}) AS span FROM i
),
hot AS (SELECT span FROM p GROUP BY span HAVING count(*) > 1),
d AS (SELECT doc_id, pos FROM p JOIN hot USING (span)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER w, -{SUFFIX_SPAN_K}) + {SUFFIX_SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {SUFFIX_SPAN_K - 1} AS INT) AS span_end,
       CAST(max(pos) + {SUFFIX_SPAN_K - 1} - min(pos) + 1 AS INT) AS n_chars
FROM s GROUP BY doc_id, island
"""

# dd18: the winnowing twin — same per-position md5 grams, one ROWS-frame
# window min of the (f, pos) struct per window start (note 22's named-struct
# lexicographic min), DISTINCT winners as anchors, then dd14's island merge.
# md5 hex is identical on both engines, so dd18 carries a fully exact oracle
# (no xxhash64 carve-out anywhere in the plan).
_DD18_SQL = f"""
WITH i AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text) - {WINNOW_K - 1})) AS pos
  FROM documents WHERE length(text) >= {WINNOW_K}
),
p AS (
  SELECT doc_id, pos, md5(substr(text, pos, {WINNOW_K})) AS f FROM i
),
m AS (
  SELECT doc_id,
         min({{'f': f, 'p': pos}}) OVER w AS wm,
         count(*) OVER w AS nf
  FROM p
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
),
a AS (SELECT DISTINCT doc_id, wm.p AS pos, wm.f AS f FROM m WHERE nf >= {WINNOW_W}),
hot AS (SELECT f FROM a GROUP BY f HAVING count(*) > 1),
d AS (SELECT doc_id, pos FROM a JOIN hot USING (f)),
mm AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER w2, -{WINNOW_K}) + {WINNOW_K}
              THEN 1 ELSE 0 END AS new_island
  FROM d WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM mm
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {WINNOW_K - 1} AS INT) AS span_end,
       CAST(max(pos) + {WINNOW_K - 1} - min(pos) + 1 AS INT) AS n_chars,
       count(*) AS n_anchors
FROM s GROUP BY doc_id, island
"""

_DD8_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
i AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {SPAN_K - 1})) AS pos
  FROM t
),
p AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(toks, pos, pos + {SPAN_K - 1}), ' ') AS span
  FROM i
),
firsts AS (
  SELECT span, count(*) AS occ,
         min({{'d': doc_id, 'p': pos}}) AS f
  FROM p GROUP BY span
),
dom AS (
  SELECT p.doc_id, p.pos
  FROM p JOIN firsts USING (span)
  WHERE firsts.occ > 1 AND (p.doc_id <> firsts.f.d OR p.pos <> firsts.f.p)
),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER w, -{SPAN_K}) + {SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM dom WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
isl AS (
  SELECT doc_id, island, max(pos) + {SPAN_K - 1} - min(pos) + 1 AS len
  FROM s GROUP BY doc_id, island
),
per_doc AS (SELECT doc_id, sum(len) AS dup_tokens FROM isl GROUP BY doc_id),
nt AS (SELECT doc_id, len(string_split(text, ' ')) AS n_doc_tokens FROM documents)
SELECT nt.doc_id,
       CAST(nt.n_doc_tokens AS BIGINT) AS n_doc_tokens,
       CAST(coalesce(per_doc.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CAST(coalesce(per_doc.dup_tokens, 0) AS BIGINT) / nt.n_doc_tokens, 6)
         AS dup_frac
FROM nt LEFT JOIN per_doc USING (doc_id)
"""


_DC1_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  for i in generate_series(1, len(toks) - 2)])
              ELSE [] END AS shs
  FROM t
),
sh AS (SELECT doc_id, unnest(shs) AS sh FROM s),
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20),
hits AS (
  SELECT s.doc_id, count(*) AS n_hits
  FROM sh s JOIN bench USING (sh)
  WHERE s.doc_id >= 20
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id >= 20
"""


_DD1_SQL = """
WITH h AS (SELECT doc_id, sha256(text) AS content_sha FROM documents),
g AS (SELECT content_sha, min(doc_id) AS canonical_id, count(*) AS n_copies
      FROM h GROUP BY content_sha)
SELECT h.doc_id, h.content_sha, g.canonical_id, g.n_copies,
       h.doc_id <> g.canonical_id AS is_dup
FROM h JOIN g USING (content_sha)
"""

_DD2_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  for i in generate_series(1, len(toks) - 2)])
              ELSE [] END AS shs
  FROM t
), g AS (
  SELECT doc_id, unnest(shs) AS sh FROM s
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.0
"""

# Connected components as a recursive transitive closure: tractable for the
# oracle because near-dup components are tiny; Spark does it iteratively.
_DD6_SQL = """
WITH RECURSIVE t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  for i in generate_series(1, len(toks) - 2)])
              ELSE [] END AS shs
  FROM t
), g AS (
  SELECT doc_id, unnest(shs) AS sh FROM s
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.1
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
), lab AS (
  SELECT src AS doc_id, min(dst) AS canonical_id FROM reach GROUP BY src
)
SELECT l.doc_id, l.canonical_id, c.cluster_size
FROM lab l
JOIN (SELECT canonical_id, count(*) AS cluster_size FROM lab GROUP BY 1) c
  USING (canonical_id)
"""

# dd15 reuses dd6's recursive-CTE cluster stages verbatim (everything up to
# the final SELECT) and adds the quality-keeper selection: a named-struct
# min over (-quality, doc_id) — field order = compare order (note 22) — so
# the keeper is the highest-quality member with ties to the smallest id.
_DD15_SQL = _DD6_SQL.rsplit("\nSELECT", 1)[0] + """, c AS (
  SELECT canonical_id, count(*) AS cluster_size FROM lab GROUP BY 1
), qy AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS quality FROM documents
), k AS (
  SELECT l.canonical_id, min({'nq': -qy.quality, 'd': l.doc_id}) AS mk
  FROM lab l JOIN qy USING (doc_id) GROUP BY 1
)
SELECT l.doc_id, l.canonical_id, c.cluster_size, qy.quality,
       k.mk.d AS keeper_id, l.doc_id = k.mk.d AS keep
FROM lab l
JOIN c USING (canonical_id)
JOIN qy USING (doc_id)
JOIN k USING (canonical_id)
"""
