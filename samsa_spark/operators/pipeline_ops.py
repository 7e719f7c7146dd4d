"""Training-data pipeline operators beyond dedup/similarity: the steps
between "raw corpus" and "training shards".

- label centroids: element-wise mean vectors per group — the index-build
  primitive for IVF-style ANN (centroid assignment = coarse quantization).
- TF-IDF top terms: the classic two-aggregate text pipeline (term freq x
  inverse doc freq), exercising explode -> double aggregate -> top-k.
- deterministic split: hash-based train/test sharding that is stable across
  runs, engines, and partitioning — never rand()-based, which breaks
  retries and resumability.
- token packing: greedy sequence binning by cumulative token count — how
  documents become fixed-budget training sequences.

Every operator here is exact-SQL-expressible, so all four sit in the DuckDB
correctness gate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from samsa_spark import tables
from samsa_spark.session import scoped_conf


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """vec1 — element-wise mean embedding per label via posexplode ->
    (label, pos) hash aggregate -> re-assemble ordered array. One shuffle of
    (n_vecs x dim) skinny rows; at 100 TB this is the centroid/index-build
    pass, and the skinny-row shape is what makes it shuffle-friendly.
    Emits the first 8 centroid components (stable columns beat arrays for
    cross-engine hashing).
    """
    pe = embeddings.select(
        "label", F.posexplode(F.slice(F.col("embedding"), 1, 8)).alias("pos", "val")
    )
    agg = pe.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("c")
    )
    out = agg.where(F.col("pos") < 8).groupBy("label").pivot(
        "pos", list(range(8))
    ).agg(F.first("c"))
    return out.select(
        "label", *[F.col(str(i)).alias(f"c{i}") for i in range(8)]
    )


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """tf1 — top-k terms per source by TF-IDF. Term/doc frequencies are two
    hash aggregates over the exploded token stream; IDF joins back on the
    term (broadcast-sized: vocabulary, not corpus). Deterministic top-k by
    (score desc, term asc).
    """
    # The token stream feeds both frequency aggregates, but materializing it
    # does NOT pay here (A/B'd: ~1.1 s warm either way at sf0.1) — recomputing
    # a narrow explode is as cheap as caching 6M token rows. The multi-branch
    # materialization rule (PLANS.md) applies to shared subtrees with
    # expensive aggregate/UDF work, not cheap row generators.
    toks = documents.select("source", "doc_id", F.explode(F.split("text", " ")).alias("term"))
    n_docs = documents.select(F.countDistinct("doc_id").alias("nd"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    idf = df_.crossJoin(F.broadcast(n_docs)).select(
        "term", F.log((F.col("nd") + 1.0) / (F.col("df") + 1.0)).alias("idf")
    )
    scored = tf.join(idf, "term").select(
        "source", "term", F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf")
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("source", "rank", "term", "tfidf")
    )


# Knuth's multiplicative hash: engine-portable (plain integer arithmetic),
# uniform, and stable — the properties a training split must have.
_SPLIT_MOD = 1_000_003


def _key_hash(col: str):
    """31-bit-masked multiplicative hash of an int64 key. The xor-fold keeps
    high bits contributing for keys >= 2^31 (a 100 TB corpus has them) while
    the mask bounds the multiply at ~5.7e18 < 2^63 — ANSI mode (Spark 4
    default) throws on bigint overflow, so the unmasked form is a
    correctness-at-scale bug, not a style choice. Identity for keys < 2^31,
    so small-corpus hashes are unchanged."""
    mixed = F.expr(f"(({col} >> 31) ^ {col}) & 2147483647")
    return (mixed * F.lit(2654435761)) % F.lit(_SPLIT_MOD)


# The same expression for the DuckDB oracles (DuckDB spells bitwise xor as
# xor(); `^` is exponentiation there).
_KEY_HASH_SQL = "((xor({col} >> 31, {col}) & 2147483647) * 2654435761) % 1000003"


def _sample_hash(col: str):
    """The SAMPLING hash (sm1/sm2/sm3) — same masked-key mixing as
    :func:`_key_hash` but a different odd multiplier (xxhash PRIME2), so
    acceptance/ranking is INDEPENDENT of the train/test split. With one
    shared hash they were nested events: a source accepted at rate
    r <= train_pct/100 kept only low-hash docs, every one labeled
    'train', and the test split came out empty after mixing (caught in
    round-7 self-review; tests/test_pipeline_ops.py locks independence).
    Product bound: (2^31-1) * 2246822519 < 2^63 — ANSI-safe."""
    mixed = F.expr(f"(({col} >> 31) ^ {col}) & 2147483647")
    return (mixed * F.lit(2246822519)) % F.lit(_SPLIT_MOD)


_SAMPLE_HASH_SQL = "((xor({col} >> 31, {col}) & 2147483647) * 2246822519) % 1000003"


def _split_expr(train_pct: int):
    """The canonical train/test assignment expression — ONE definition so
    sp1, pp1's stats, and write_shards' physical layout can never
    desynchronize (shards written by one must match stats reported by the
    others, doc for doc)."""
    bucket = _key_hash("doc_id")
    return F.when(
        (bucket * 100) < F.lit(train_pct * _SPLIT_MOD), "train"
    ).otherwise("test")


def deterministic_split(documents: DataFrame, train_pct: int = 80) -> DataFrame:
    """sp1 — stable train/test assignment: split = f(doc_id) only. Counts
    per (split, lang) prove the assignment; the same doc lands in the same
    split on any engine, partitioning, or retry — rand()-based splits break
    all three.
    """
    split = _split_expr(train_pct)
    return (
        documents.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


# hour quantization bounds the percentile_disc state (note 24: exact
# quantile state is O(distinct values)); the fraction is shared with the
# sp2 oracle so the twin cannot drift.
_SP2_HOUR_US = 3_600_000_000
_SP2_TRAIN_FRAC = 0.8


def temporal_split(
    events: DataFrame, train_frac: float = _SP2_TRAIN_FRAC
) -> DataFrame:
    """sp2 — TIME-based train/test split: train is everything up to the
    ``train_frac`` discrete quantile of the (hour-quantized) event time,
    test is strictly after. The forecasting-correct split sp1's hash form
    cannot give: evaluating on events later than anything trained on —
    a doc_id-hash split would leak future rows into train.

    Determinism contract: ``percentile_disc`` returns an ACTUAL data
    value (SQL-standard smallest value with cume_dist >= frac) — no
    interpolation, so the cutpoint is bit-identical across engines
    (DuckDB ``quantile_disc``), unlike continuous quantiles whose
    interpolated doubles can flip a boundary row (note 24). Hour
    quantization caps the aggregate's O(distinct) state (~720 values
    per month of data) and makes the boundary tie-INCLUSIVE: the whole
    cut hour lands in train.

    Plan: one bounded-state aggregate -> broadcast 1-row cutpoint (the
    qf1 pattern) -> scan-local tag. Two scans; compose over a
    localCheckpoint when upstream is expensive (note 12)."""
    hour = F.col("ts_us") - F.col("ts_us") % _SP2_HOUR_US
    ev = events.select("event_id", "ts_us", hour.alias("hour_us"))
    cut = ev.agg(
        F.expr(
            f"CAST(percentile_disc({train_frac}) WITHIN GROUP (ORDER BY hour_us)"
            " AS BIGINT)"
        ).alias("cut_hour_us")
    )
    return ev.crossJoin(F.broadcast(cut)).select(
        "event_id",
        "ts_us",
        F.when(F.col("hour_us") <= F.col("cut_hour_us"), "train")
        .otherwise("test")
        .alias("split"),
    )


_SP2_SQL = f"""
WITH e AS (
  SELECT event_id, epoch_us(ts) AS ts_us,
         epoch_us(ts) - epoch_us(ts) % {_SP2_HOUR_US} AS hour_us
  FROM events
), c AS (SELECT quantile_disc(hour_us, {_SP2_TRAIN_FRAC}) AS cut FROM e)
SELECT event_id, ts_us,
       CASE WHEN hour_us <= c.cut THEN 'train' ELSE 'test' END AS split
FROM e, c
"""


def shuffle_shards(documents: DataFrame, n_shards: int = 8, seed: int = 1) -> DataFrame:
    """ds1 — deterministic epoch shuffle: assign each doc to a shard by a
    SEEDED key hash and give it a stable pseudo-random sequence inside the
    shard. Training loaders need the corpus decorrelated from ingest order
    (source/time runs would otherwise fill whole batches); ``rand()`` breaks
    retries, replays and cross-engine parity, so the order is a pure
    function of (doc_id, seed) — a new ``seed`` per epoch yields a fresh
    permutation that every engine and rerun agrees on.

    Scale shape: no global sort — the only window is partitioned by
    ``shard`` (the unit a loader consumes), so parallelism = n_shards and
    each task sorts one shard's ids. At 100 TB, n_shards is sized so a
    shard's (hash, doc_id) pairs fit one task's sort buffer — the payload
    is never in the sort, a loader joins it back by doc_id or reads the
    write_shards layout.

    The seed enters the mix by XOR BEFORE the multiply (never additively:
    ``(mixed + seed) * C % M`` shifts every hash by the same constant, so
    epochs would be cyclic rotations of one order, not fresh permutations
    — tests assert cross-seed pair-order inversions). The seed constant is
    scrambled and masked driver-side, so any Python int seed is ANSI-safe.
    """
    seed_mix = (seed * 2654435761) & 0x7FFFFFFF
    mixed = F.expr(f"(((doc_id >> 31) ^ doc_id) & 2147483647) ^ {seed_mix}")
    h = (mixed * F.lit(2654435761)) % F.lit(_SPLIT_MOD)
    d = documents.select(
        "doc_id", h.alias("_h"), (h % n_shards).cast("int").alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("_h", "doc_id")
    return d.select(
        "shard",
        F.row_number().over(w).cast("bigint").alias("seq"),
        "doc_id",
    )


def curriculum_shards(
    documents: DataFrame, n_shards: int = 8, seed: int = 1, buckets: int = 4
) -> DataFrame:
    """ds2 — curriculum data ordering: ds1's deterministic epoch shuffle
    with a quality-tier overlay. Docs are bucketed by alpha-ratio quality
    (tx2's score, ``buckets`` fixed-width tiers) and each shard serves its
    HIGHEST tier first, hash-shuffled within a tier — the easy-to-hard
    (clean-to-noisy) curriculum schedule, reproducible across engines,
    retries, and epochs because every term is a pure function of
    (doc_id, text, seed).

    Same scale shape as ds1 (the window partitions by ``shard`` only, ids
    and two small ints in the sort buffer — never the payload); the
    quality score adds one scan-side projection. A different ``seed``
    reshuffles WITHIN tiers but never across them (the curriculum is the
    contract; the hash only decorrelates ingest order inside a tier).
    """
    seed_mix = (seed * 2654435761) & 0x7FFFFFFF
    mixed = F.expr(f"(((doc_id >> 31) ^ doc_id) & 2147483647) ^ {seed_mix}")
    h = (mixed * F.lit(2654435761)) % F.lit(_SPLIT_MOD)
    q = F.round(
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / F.length("text"), 6
    )
    tier = F.least(F.lit(buckets - 1), F.floor(q * buckets)).cast("int")
    d = documents.select(
        "doc_id",
        h.alias("_h"),
        (h % n_shards).cast("int").alias("shard"),
        tier.alias("q_tier"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.desc("q_tier"), F.asc("_h"), F.asc("doc_id")
    )
    return d.select(
        "shard",
        F.row_number().over(w).cast("bigint").alias("seq"),
        "doc_id",
        "q_tier",
    )


_DS2_SQL = """
WITH h AS (
  SELECT doc_id,
         (xor(xor(doc_id >> 31, doc_id) & 2147483647, 506952113)
          * 2654435761) % 1000003 AS h,
         least(3, CAST(floor(round(
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text), 6
         ) * 4) AS INT)) AS q_tier
  FROM documents
)
SELECT CAST(h % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % 8
                               ORDER BY q_tier DESC, h, doc_id) AS BIGINT) AS seq,
       doc_id, q_tier
FROM h
"""


_DS1_SQL = """
WITH h AS (
  SELECT doc_id,
         (xor(xor(doc_id >> 31, doc_id) & 2147483647, 506952113)
          * 2654435761) % 1000003 AS h
  FROM documents
)
SELECT CAST(h % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS seq,
       doc_id
FROM h
"""


def pack_sequences(documents: DataFrame, budget_tokens: int = 512) -> DataFrame:
    """pk1 — token packing: assign documents (in deterministic doc_id order
    per source) to training-sequence bins by cumulative token budget. The
    running-sum window shares one partitioning; bin stats are one follow-up
    aggregate. Greedy-by-order packing is the streaming-friendly form — a
    bin-optimal packing would be a global optimization with no stable
    incremental answer.

    NOT the canonical form at scale: the window partitions by ``source``
    alone (a handful of values), so each source's entire corpus streams
    through one task. ``pk2_pack_chunked`` (window per (source, doc-chunk))
    is the canonical/scale operator; pk1 stays as its exact global twin.
    """
    toks = F.size(F.split("text", " "))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = documents.select(
        "source", "doc_id", toks.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    binned = cum.withColumn(
        "bin", F.expr(f"(cum_tokens - n_tokens) div {budget_tokens}")
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def pack_sequences_chunked(
    documents: DataFrame, budget_tokens: int = 512, chunk_docs: int = 1000
) -> DataFrame:
    """pk2 — hierarchical token packing, the 100 TB form: bins are assigned
    within fixed ``chunk_docs``-sized doc-id chunks per source, so packing
    parallelism is (sources x chunks) instead of sources, and bins never
    span chunks — the bounded-underfill-at-chunk-edges trade every
    distributed shard packer makes for parallel, deterministic packing.
    Bin ids are (chunk << 20) | bin-in-chunk: globally unique per source,
    stable under any partitioning.
    """
    toks = F.size(F.split("text", " "))
    chunk = F.expr(f"doc_id div {chunk_docs}")
    w = Window.partitionBy("source", "chunk").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = documents.select(
        "source", "doc_id", chunk.alias("chunk"), toks.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    binned = cum.withColumn(
        "bin",
        F.shiftleft(F.col("chunk"), 20)
        + F.expr(f"(cum_tokens - n_tokens) div {budget_tokens}"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def pack_assignments(
    documents: DataFrame, budget_tokens: int = 512, chunk_docs: int = 1000
) -> DataFrame:
    """pk3 — the loader-facing form of pk2: one row PER DOCUMENT with its
    assigned bin and token offset inside the bin (pk2 emits per-bin stats;
    a loader materializing training sequences needs the doc -> (bin,
    offset) map to lay tokens out). Same window, same bin ids, same
    hierarchical chunking — ``offset`` is the doc's start position in the
    bin's token stream (< budget by construction, asserted in tests).
    """
    toks = F.size(F.split("text", " "))
    chunk = F.expr(f"doc_id div {chunk_docs}")
    w = Window.partitionBy("source", "chunk").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = documents.select(
        "source", "doc_id", chunk.alias("chunk"), toks.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    return cum.select(
        "source",
        "doc_id",
        (
            F.shiftleft(F.col("chunk"), 20) + F.expr(f"(cum_tokens - n_tokens) div {budget_tokens}")
        ).alias("bin"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (start % budget_tokens).cast("bigint").alias("offset"),
    )


_PK3_SQL = """
WITH c AS (
  SELECT source, doc_id, doc_id // 1000 AS chunk,
         len(string_split(text, ' ')) AS n_tokens,
         sum(len(string_split(text, ' '))) OVER (
           PARTITION BY source, doc_id // 1000 ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM documents
)
SELECT source, doc_id,
       (chunk * 1048576) + CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS bin,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum_tokens - n_tokens) % 512 AS BIGINT) AS offset
FROM c
"""


_PK2_SQL = """
WITH c AS (
  SELECT source, doc_id, doc_id // 1000 AS chunk,
         len(string_split(text, ' ')) AS n_tokens,
         sum(len(string_split(text, ' '))) OVER (
           PARTITION BY source, doc_id // 1000 ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM documents
), b AS (
  SELECT *, (chunk * 1048576) + CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS bin FROM c
)
SELECT source, bin, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM b GROUP BY source, bin
"""


def prep_pipeline(
    documents: DataFrame,
    min_chars: int = 50,
    min_alpha_ratio: float = 0.5,
    train_pct: int = 80,
    line_dedup_min_count: int | None = None,
    classifier_weights: DataFrame | None = None,
    classifier_min_score: float = 0.5,
    quality_quantile_keep: float | None = None,
    substring_dedup_min_tokens: int | None = None,
    substring_max_dup_frac: float = 0.5,
    fuzzy_min_est_jaccard: float | None = None,
    decontaminate_against: DataFrame | None = None,
    semantic_dedup_embeddings: DataFrame | None = None,
    semantic_min_cos: float = 0.9,
    semantic_cells: int = 32,
    mixture_temperature: float | None = None,
    mixture_budget_frac: float = 0.5,
) -> DataFrame:
    """pp1 — the end-to-end training-data prep shard: [line dedup ->]
    quality filter -> [classifier filter ->] [quantile filter ->]
    [decontaminate ->] exact dedup [-> substring dedup]
    [-> fuzzy dedup] [-> semantic dedup] [-> mixture sampling]
    -> deterministic split -> per-shard stats,
    composed from the same primitives the individual queries check (tx2's
    alpha ratio, dd1's content-hash canonicalization, dd3's MinHash-LSH,
    sp1's masked key hash).

    One declarative plan: Catalyst fuses the filter into the scan, the
    dedup is one hash aggregate + semi-join shape, and the split adds no
    shuffle (pure column function). This is the query a 100 TB corpus prep
    job actually runs; everything else in the family is its building blocks.
    Min/max quality (order-independent) instead of avg keeps the aggregate
    engine-exact.

    ``mixture_temperature`` (opt-in) appends sm2's token-budgeted
    temperature mixing AFTER all dedups (rates must reflect the corpus a
    trainer actually draws from): per-source acceptance rates from
    ``_mixture_accept`` with ``mixture_budget_frac`` of the surviving
    tokens as the target, applied as one semi-join on ids. Deterministic
    (hash-threshold, never rand()); checked by the sm2 oracle plus the
    staged-composition pytest.

    ``line_dedup_min_count`` (opt-in) runs dd11's structural line rule
    FIRST — before any quality scoring — because it rewrites the text
    itself (corpus-repeated lines removed), and every downstream signal
    (alpha ratio, content sha, shingles) must see the cleaned text; this
    is where extraction-stage line filtering sits in production crawls
    (C4/CCNet). One join against the rebuilt docs; fully-boilerplate docs
    fall to the ``min_chars`` gate naturally.

    ``classifier_weights`` (opt-in) inserts cls1's model-based filter
    after the absolute quality gate: docs scoring under
    ``classifier_min_score`` with the given (token, weight) model are
    dropped via one semi-join on ids (the FineWeb-Edu / DCLM classifier
    stage; the model table broadcast-joins against the token stream).

    ``quality_quantile_keep`` (opt-in) inserts qf1's corpus-relative
    quality stage right after the absolute filter: keep the top fraction of
    each source by tx2 quality score, threshold learned from the surviving
    corpus (:func:`quality_quantile_filter` — FineWeb-style). Needs a
    ``source`` column (same contract as the mixture stage).

    ``substring_dedup_min_tokens`` (opt-in) inserts dd7's substring-level
    stage between exact and fuzzy dedup: any doc whose DOMINATED duplicated
    token fraction (``dominated_span_fraction`` — occurrences of a repeated
    >=k-token span that are not the corpus-first occurrence, so the
    canonical copy of shared boilerplate scores 0) reaches
    ``substring_max_dup_frac`` is dropped via one anti-join on ids — the
    Lee et al. 2022 boilerplate case dd1 can't catch because the
    surrounding docs differ. Fully SQL-expressible (the stage's primitive
    is oracle-checked as dd8); the registered pp1 oracle stays the
    stage-free exact form, and the staged composition is checked by a
    planted-boilerplate pytest (tests/test_dedup.py).

    ``fuzzy_min_est_jaccard`` (opt-in) inserts a near-dup removal stage
    between exact dedup and split: any doc with a MinHash-LSH near-duplicate
    of SMALLER doc_id (estimated Jaccard >= the threshold) is dropped via
    one anti-join on dd3's candidate pairs — greedy lowest-id-survives, the
    rule real corpus-prep pipelines use, deterministic because the pair
    generator is. The fuzzy form is rows-only (no DuckDB twin): dd3's
    signatures are built on xxhash64, which DuckDB does not implement, so
    this stage is checked by pytest ground truth (planted near-dup corpus,
    tests/test_pipeline_ops.py) exactly like dd3 itself; the registered
    oracle query stays the exact-only form.

    ``decontaminate_against`` (opt-in) drops docs sharing any 3-token
    shingle with the given benchmark/eval frame BEFORE dedup — dc1's
    broadcast-probe shape, applied as one anti-join (eval leakage must not
    survive into any shard; running it first keeps leaked docs from ever
    becoming dedup canonicals).

    ``semantic_dedup_embeddings`` (opt-in) inserts sd1's SemDeDup stage
    after the text-level dedups: the given embeddings frame (``vec_id``
    keyed 1:1 to ``doc_id`` — the caller owns that mapping) is clustered
    and any doc whose vector lands in a semantic group as a non-
    representative (``is_dup``) is dropped via one anti-join on ids. Runs
    LAST of the dedups because it is the most expensive per candidate;
    rows-only like the fuzzy stage (k-means + UDF cosines have no DuckDB
    twin; ground truth in tests/test_semantic_dedup.py).
    """
    if line_dedup_min_count is not None:
        from samsa_spark.operators.dedup import line_dedup

        # Rewrite the text FIRST (see docstring): every downstream signal
        # must see the line-cleaned corpus. The rewrite is a shuffle+join
        # subtree feeding EVERY downstream stage branch (each opt-in stage
        # adds a semi/anti-join branch with no ReusedExchange across them,
        # CLAUDE.md note 12) — materialize it once.
        cleaned = line_dedup(documents, min_count=line_dedup_min_count).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        documents = (
            documents.drop("text").join(cleaned, "doc_id").localCheckpoint(eager=False)
        )
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    quality = F.round(alpha / n_chars, 6)
    for opt, val in (
        ("mixture_temperature", mixture_temperature),
        ("quality_quantile_keep", quality_quantile_keep),
    ):
        if val is not None and "source" not in documents.columns:
            raise ValueError(
                f"prep_pipeline({opt}=...) needs a 'source' column on the "
                "input — per-source rates/cutpoints are allocated per source"
            )
    # `source` rides along only when present (mixing needs it; ad-hoc doc
    # frames without it keep working).
    src_cols = ["source"] if "source" in documents.columns else []
    filtered = documents.select(
        "doc_id", *src_cols, "lang", "text", quality.alias("alpha_ratio")
    ).where((n_chars >= min_chars) & (F.col("alpha_ratio") >= min_alpha_ratio))
    if classifier_weights is not None:
        from samsa_spark.operators.text import classifier_score

        # Model-based filter (cls1) right after the absolute gate — the
        # trained-weights path broadcast-joins the vocabulary; semi-join on
        # ids keeps the plan narrow.
        scored = (
            classifier_score(filtered, weights=classifier_weights)
            .where(F.col("clf_score") >= classifier_min_score)
            .select("doc_id")
        )
        filtered = filtered.join(scored, "doc_id", "left_semi")
    if quality_quantile_keep is not None:
        # Corpus-relative quality stage (qf1, FineWeb-style) right after the
        # absolute filter: cutpoints must reflect the corpus that passed the
        # base gates, and running it before dedup keeps low-quality docs
        # from ever becoming dedup canonicals. Semi-join on ids keeps the
        # plan narrow; the double scan here is two parquet passes (the
        # upstream is just scan+filter at this point).
        picked = quality_quantile_filter(
            filtered, keep_frac=quality_quantile_keep
        ).select("doc_id")
        filtered = filtered.join(picked, "doc_id", "left_semi")
    if decontaminate_against is not None:
        from samsa_spark.operators.dedup import decontaminate

        leaked = (
            decontaminate(filtered, benchmark=decontaminate_against)
            .where("contaminated")
            .select("doc_id")
        )
        filtered = filtered.join(leaked, "doc_id", "left_anti")
    canon = filtered.groupBy(F.sha2("text", 256).alias("sha")).agg(
        F.min("doc_id").alias("keep_id")
    )
    kept = filtered.join(
        canon, filtered.doc_id == canon.keep_id, "left_semi"
    )
    if substring_dedup_min_tokens is not None:
        from samsa_spark.operators.dedup import dominated_span_fraction

        # Anti-join on ids only — the span-posting cost is dd8's, already
        # shuffle-audited there; the dominated (not total) fraction keeps
        # the first copy of every template (greedy lowest-(doc,pos)
        # survives, the same convention as the fuzzy stage below).
        # `kept` feeds the span postings, the per-doc token counts, AND
        # the final anti-join — three branches, no ReusedExchange
        # (note 12): materialize once.
        kept = kept.localCheckpoint(eager=False)
        heavy = (
            dominated_span_fraction(kept, min_tokens=substring_dedup_min_tokens)
            .where(F.col("dup_frac") >= substring_max_dup_frac)
            .select("doc_id")
        )
        kept = kept.join(heavy, "doc_id", "left_anti")
    if fuzzy_min_est_jaccard is not None:
        from samsa_spark.operators.dedup import minhash_lsh_pairs

        # doc_b > doc_a by construction, so "appears as doc_b in a
        # qualifying pair" == "has a near-dup with smaller id". The anti-join
        # key set is narrow (ids only); the signature/banding cost is dd3's,
        # already shuffle-audited there.
        dominated = (
            minhash_lsh_pairs(kept, min_est_jaccard=fuzzy_min_est_jaccard)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        kept = kept.join(dominated, "doc_id", "left_anti")
    if semantic_dedup_embeddings is not None:
        from samsa_spark.operators.similarity import semantic_dedup

        # semantic_dedup executes EAGERLY (k-means iterations + label
        # propagation), re-deriving its input many times, and `kept` feeds
        # both that input and the final anti-join — materialize it once or
        # the whole upstream filter/decontaminate/dedup plan runs ~8x
        # (CLAUDE.md note 12).
        kept = kept.localCheckpoint(eager=True)
        # Only vectors for still-kept docs enter the clustering — the
        # semi-join prunes the (expensive) pairing input to survivors.
        vecs = semantic_dedup_embeddings.join(
            kept.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        ).localCheckpoint(eager=True)
        sem_dups = (
            semantic_dedup(vecs, cells=semantic_cells, min_cos=semantic_min_cos)
            .where("is_dup")
            .select(F.col("vec_id").alias("doc_id"))
        )
        kept = kept.join(sem_dups, "doc_id", "left_anti")
    if mixture_temperature is not None:
        # Mixing runs LAST (rates must reflect the deduped corpus a trainer
        # would actually draw from); semi-join on ids keeps the plan narrow.
        picked = _mixture_accept(
            kept.select("doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")),
            mixture_temperature,
            mixture_budget_frac,
        ).select("doc_id")
        kept = kept.join(picked, "doc_id", "left_semi")
    split = _split_expr(train_pct)
    return (
        kept.select(
            split.alias("split"),
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
            "alpha_ratio",
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
            F.min("alpha_ratio").alias("min_quality"),
            F.max("alpha_ratio").alias("max_quality"),
        )
    )


def write_shards(
    documents: DataFrame,
    path: str,
    train_pct: int = 80,
    by_source: bool = False,
    max_records_per_file: int = 100_000,
    cluster_by: str | None = None,
) -> DataFrame:
    """Materialize a prepped corpus as training shards — the artifact a
    training job actually consumes (pp1 computes shard STATS; this writes
    the shards). Layout:

    - ``<path>/data``: parquet partitioned by ``split`` (sp1's
      deterministic doc_id-hash assignment, so reruns land every doc in
      the same shard) and optionally ``source``; ``maxRecordsPerFile``
      caps each file so one shard is a bounded, schedulable training unit.
    - ``<path>/manifest``: one parquet row per shard file — partition
      values, file path, rows, bytes, and the doc_id range — the index a
      loader uses to schedule/resume without listing or reading data files.

    Scale shape: the write is one pass (split is a pure column function —
    no shuffle beyond the caller's partitioning; directory partitioning
    means a reader's ``split='train'`` filter prunes directories, asserted
    in tests/test_storage_layout.py). The manifest is computed from the
    written files' ``_metadata`` (file_path/file_size ride the scan for
    free) with one hash aggregate per shard file — never a driver-side
    listing loop. Returns the manifest DataFrame (as re-read from disk).
    """
    spark = documents.sparkSession
    split = _split_expr(train_pct)
    part_cols = ["split", *(["source"] if by_source else [])]
    tagged = documents.withColumn("split", split)
    if cluster_by is not None:
        # Range-cluster the data stream on one column before the write so
        # each shard file covers a TIGHT value range: the manifest's
        # min/max stats then let read_shards_pruned skip whole files (the
        # Delta/Iceberg data-skipping layout). One extra range shuffle at
        # write time, amortized over every pruned read.
        tagged = tagged.repartitionByRange(F.col(cluster_by)).sortWithinPartitions(
            cluster_by
        )
    (
        tagged
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*part_cols)
        .parquet(f"{path}/data")
    )
    back = spark.read.parquet(f"{path}/data")
    manifest = _shard_manifest(back, part_cols)
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")
    return spark.read.parquet(f"{path}/manifest")


def _shard_manifest(back: DataFrame, part_cols: list[str]) -> DataFrame:
    """One manifest row per shard file — partition values, path, rows,
    bytes, doc_id range — computed from the written files' ``_metadata``
    (file_path/file_size ride the scan for free) with one hash aggregate;
    never a driver-side listing loop. Shared by :func:`write_shards` and
    :func:`compact_shards`."""
    return (
        back.select(
            *part_cols,
            "doc_id",
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.file_size").alias("n_bytes"),
        )
        .groupBy(*part_cols, "file", "n_bytes")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .select(*part_cols, "file", "n_rows", "n_bytes", "min_doc_id", "max_doc_id")
    )


def append_shards(
    documents: DataFrame,
    path: str,
    train_pct: int = 80,
    max_records_per_file: int = 100_000,
) -> DataFrame:
    """Append a new batch to an existing :func:`write_shards` layout — the
    daily-ingest path of a long-lived corpus (write → APPEND → compact →
    read). The batch gets the same deterministic doc_id-hash split as the
    original write (a doc appended today lands in the same split it would
    have landed in on day one), files are added with parquet append
    (existing files are immutable — never rewritten), and the manifest is
    patched: prior rows are kept verbatim, fresh ``_metadata``-derived
    rows are added for exactly the new files (anti-join on file path).

    Partition columns (split-only vs split+source) are detected from the
    existing manifest, so the append cannot fork the layout shape.
    Duplicate doc_ids across batches are NOT resolved here — run
    :func:`~samsa_spark.operators.dedup.dedup_against` on the batch first
    (the incremental-prep recipe, tests/test_storage_layout.py). Returns
    the updated manifest.
    """
    spark = documents.sparkSession
    manifest = spark.read.parquet(f"{path}/manifest")
    part_cols = [c for c in ("split", "source") if c in manifest.columns]
    kept = manifest.localCheckpoint()  # off the parquet source pre-overwrite
    (
        documents.withColumn("split", _split_expr(train_pct))
        .write.mode("append")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*part_cols)
        .parquet(f"{path}/data")
    )
    spark.catalog.refreshByPath(f"{path}/data")
    # Stats must come from the NEW files only — re-deriving the whole
    # manifest would rescan the corpus on every daily append. Step 1 lists
    # file paths (a metadata-column distinct: tasks read footers, no data
    # columns) and anti-joins against the kept manifest; the collected
    # list is file PATHS (manifest-cardinality metadata, the documented
    # driver-side exception class). Step 2 reads exactly those files
    # (basePath keeps the partition columns) for the stats aggregate.
    listing = (
        spark.read.parquet(f"{path}/data")
        .select(F.col("_metadata.file_path").alias("file"))
        .distinct()
    )
    new_files = [
        r.file for r in listing.join(kept.select("file"), "file", "left_anti").collect()
    ]
    if not new_files:  # empty batch: nothing written, manifest unchanged
        return spark.read.parquet(f"{path}/manifest")
    back_new = spark.read.option("basePath", f"{path}/data").parquet(*new_files)
    fresh = _shard_manifest(back_new, part_cols)
    kept.unionByName(fresh.select(*kept.columns)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/manifest")
    spark.catalog.refreshByPath(f"{path}/manifest")
    return spark.read.parquet(f"{path}/manifest")


def validate_shards(spark: SparkSession, path: str) -> DataFrame:
    """Consistency check a loader runs before trusting a shard layout:
    re-derive the manifest from the files on disk and diff it against the
    stored one. Returns a frame of discrepancies (empty == consistent):
    ``(file, problem)`` where problem is ``missing_on_disk`` (manifest row
    with no file), ``unlisted_file`` (file with no manifest row), or
    ``stat_mismatch`` (rows/bytes/id-range drifted — e.g. a partial
    overwrite). Cost: one full doc_id-column scan (stat verification is
    inherently a re-read) + joins over manifest-cardinality rows; run it
    on the schedule compaction runs, not per read."""
    manifest = spark.read.parquet(f"{path}/manifest")
    part_cols = [c for c in ("split", "source") if c in manifest.columns]
    disk = _shard_manifest(spark.read.parquet(f"{path}/data"), part_cols)
    stat_cols = ["n_rows", "n_bytes", "min_doc_id", "max_doc_id"]
    m = manifest.select("file", *stat_cols)
    d = disk.select("file", *stat_cols)
    missing = m.join(d.select("file"), "file", "left_anti").select(
        "file", F.lit("missing_on_disk").alias("problem")
    )
    unlisted = d.join(m.select("file"), "file", "left_anti").select(
        "file", F.lit("unlisted_file").alias("problem")
    )
    drift = (
        m.alias("m")
        .join(d.alias("d"), "file")
        .where(
            " OR ".join(f"m.{c} <> d.{c}" for c in stat_cols)
        )
        .select("file", F.lit("stat_mismatch").alias("problem"))
    )
    return missing.unionByName(unlisted).unionByName(drift)


def compact_shards(
    spark: SparkSession, path: str, target_bytes: int = 128 << 20
) -> DataFrame:
    """Incremental small-file compaction of a :func:`write_shards` layout —
    the maintenance job every long-lived 100 TB corpus needs: repeated
    appends/reruns leave partitions with many KB-scale files, and scan
    parallelism degrades to file-listing + per-file open overhead.

    Plan shape (the scale contract):

    - WHICH partitions need work is decided from the MANIFEST alone (one
      aggregate over file-count rows, then a driver-side collect of the
      partition *metadata* tuples — never corpus data; same documented
      exception class as the centroid matrix, PLANS.md rule 8). A
      partition needs compaction when it holds more files than
      ``ceil(bytes / target_bytes)`` — so the job is a no-op on an
      already-compact layout (idempotence is the rerun safety).
    - Only needing partitions are READ (the disjunction of partition-value
      predicates prunes at the scan), staged via ``localCheckpoint`` —
      the isolation a snapshotting table format gets for free; without it
      the dynamic overwrite would race its own input scan — and rewritten
      with ``partitionOverwriteMode=dynamic``, which replaces exactly the
      partitions being written and leaves every other directory untouched.
    - File sizing: one task per needing partition (hash repartition on the
      partition columns) + ``maxRecordsPerFile`` derived from the
      manifest's bytes/rows ratio, so output files land near
      ``target_bytes`` without a second pass.
    - The manifest is patched, not rebuilt: untouched partitions keep
      their rows (checkpointed off the old manifest), compacted partitions
      get fresh ``_metadata``-derived rows from a pruned scan.

    Returns the updated manifest (as re-read from disk).
    """
    import math
    from functools import reduce

    manifest = spark.read.parquet(f"{path}/manifest")
    part_cols = [c for c in ("split", "source") if c in manifest.columns]
    stats = manifest.groupBy(*part_cols).agg(
        F.count("*").alias("n_files"),
        F.sum("n_bytes").alias("t_bytes"),
        F.sum("n_rows").alias("t_rows"),
    )
    need = [
        r
        for r in stats.collect()  # partition METADATA rows, not corpus data
        if r.n_files > max(1, math.ceil(r.t_bytes / target_bytes))
    ]
    if not need:
        return manifest
    pred = reduce(
        lambda a, b: a | b,
        [
            reduce(lambda a, b: a & b, [F.col(c) == r[c] for c in part_cols])
            for r in need
        ],
    )
    sel = spark.read.parquet(f"{path}/data").where(pred).localCheckpoint()
    t_bytes = sum(r.t_bytes for r in need)
    t_rows = sum(r.t_rows for r in need)
    max_records = max(1, int(target_bytes * t_rows / max(t_bytes, 1)))
    # keep the untouched partitions' manifest rows off the parquet source
    # before overwriting it (self-overwrite guard), then patch.
    kept = manifest.where(~pred).localCheckpoint()
    with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        (
            sel.repartition(len(need), *part_cols)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records)
            .partitionBy(*part_cols)
            .parquet(f"{path}/data")
        )
    # the shared FileStatusCache still lists the pre-overwrite files for
    # this path — drop it or the fresh scan reads deleted parquet.
    spark.catalog.refreshByPath(f"{path}/data")
    fresh = _shard_manifest(spark.read.parquet(f"{path}/data").where(pred), part_cols)
    kept.unionByName(fresh).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/manifest"
    )
    spark.catalog.refreshByPath(f"{path}/manifest")
    return spark.read.parquet(f"{path}/manifest")


def read_shards(
    spark: SparkSession,
    path: str,
    split: str | None = None,
    source: str | None = None,
) -> DataFrame:
    """Loader side of :func:`write_shards`: read the shard layout with the
    split filter applied as a PARTITION filter (pruned directories are
    never listed, let alone read — asserted in
    tests/test_storage_layout.py). ``source`` prunes the same way ONLY if
    the layout was written with ``by_source=True``; against a
    split-only layout it is a plain data filter (correct results, but
    every file of the split is scanned). A loader that needs per-file
    scheduling or resume reads ``<path>/manifest`` instead and feeds the
    file list to its own reader."""
    df = spark.read.parquet(f"{path}/data")
    if split is not None:
        df = df.where(F.col("split") == split)
    if source is not None:
        df = df.where(F.col("source") == source)
    return df


def read_shards_pruned(
    spark: SparkSession,
    path: str,
    lo: int,
    hi: int,
    split: str | None = None,
) -> DataFrame:
    """Manifest-stat file skipping (the Delta/Iceberg data-skipping read):
    serve ``doc_id BETWEEN lo AND hi`` by consulting the manifest's
    per-file ``min_doc_id``/``max_doc_id`` and handing the scan ONLY the
    files whose range intersects — skipped files are never listed, opened,
    or footer-read. Row-for-row equal to ``read_shards(...).where(between)``
    for ANY layout (stats are sound regardless of clustering, and the
    residual filter still applies); the SKIP RATE is the layout's doing —
    ``write_shards(cluster_by='doc_id')`` makes ranges tight and disjoint,
    an unclustered write leaves them overlapping and prunes little
    (measured in tests/test_storage_layout.py). Append/compact keep the
    stats sound: both derive manifest rows from the written files
    themselves (:func:`_shard_manifest`).

    The manifest collect is file-list metadata at manifest cardinality
    (the append_shards argument — bounded, never data). ``basePath`` keeps
    the directory-partition columns (split/source) when reading explicit
    leaf files."""
    m = spark.read.parquet(f"{path}/manifest")
    if split is not None:
        m = m.where(F.col("split") == split)
    hit = m.where((F.col("max_doc_id") >= lo) & (F.col("min_doc_id") <= hi))
    files = [r.file for r in hit.select("file").collect()]
    if not files:
        return (
            spark.read.parquet(f"{path}/data")
            .where(F.lit(False))
            .where(F.col("doc_id").between(lo, hi))
        )
    return (
        spark.read.option("basePath", f"{path}/data")
        .parquet(*files)
        .where(F.col("doc_id").between(lo, hi))
    )


def delete_from_shards(
    spark: SparkSession,
    path: str,
    doc_ids,
    max_records_per_file: int = 100_000,
) -> DataFrame:
    """Targeted row deletion from a :func:`write_shards` layout — the
    right-to-be-forgotten / takedown path (the governance sibling of
    ka1/dq1), done the way Delta/Iceberg DELETE does: rewrite ONLY the
    files that contain target rows, leave every other file byte-identical.

    File selection is two metadata-bounded narrowing steps: (1) the
    manifest's per-file doc_id min/max intersected with the id set (a
    broadcast range join at manifest x ids cardinality — file metadata,
    never data); (2) candidates confirmed by reading just their doc_id
    column (+ file path) so a range-overlapping file with no actual hit is
    NOT rewritten. On a ``cluster_by='doc_id'`` layout step 1 already
    pins deletes to a handful of files (measured in the storage suite).

    Rewrite protocol: surviving rows of hit files are appended as new
    files FIRST, the old files are then dropped (file-level Hadoop FS
    delete — the rewrite-set commit), and the manifest is patched LAST
    (kept rows verbatim off a checkpoint, fresh ``_metadata``-derived rows
    for exactly the new files — append_shards' discovery). A crash between
    append and delete leaves duplicates visible to raw-directory readers,
    but the manifest still lists only the old files — manifest-driven
    readers stay consistent and :func:`validate_shards` flags the
    stragglers (same at-least-once stance as the other rewrite ops).
    ``doc_ids`` is a list of ints or a 1-column DataFrame. Returns the
    updated manifest.
    """
    manifest = spark.read.parquet(f"{path}/manifest")
    part_cols = [c for c in ("split", "source") if c in manifest.columns]
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col(doc_ids.columns[0]).alias("doc_id"))
    else:
        ids = tables.local_rows(
            spark, [(int(i),) for i in doc_ids], "doc_id bigint"
        )
    cand = (
        manifest.alias("m")
        .join(
            F.broadcast(ids.alias("i")),
            (F.col("m.min_doc_id") <= F.col("i.doc_id"))
            & (F.col("i.doc_id") <= F.col("m.max_doc_id")),
        )
        .select("m.file")
        .distinct()
    )
    cand_files = [r.file for r in cand.collect()]
    if not cand_files:
        return manifest
    hits = (
        spark.read.option("basePath", f"{path}/data")
        .parquet(*cand_files)
        .select("doc_id", F.col("_metadata.file_path").alias("file"))
        .join(F.broadcast(ids), "doc_id")
        .select("file")
        .distinct()
    )
    hit_files = [r.file for r in hits.collect()]
    if not hit_files:
        return manifest
    kept = manifest.where(~F.col("file").isin(hit_files)).localCheckpoint()
    (
        spark.read.option("basePath", f"{path}/data")
        .parquet(*hit_files)
        .join(F.broadcast(ids), "doc_id", "left_anti")
        .write.mode("append")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*part_cols)
        .parquet(f"{path}/data")
    )
    hconf = spark._jsc.hadoopConfiguration()
    jvm = spark._jvm
    for f in hit_files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).delete(p, False)
    spark.catalog.refreshByPath(f"{path}/data")
    listing = (
        spark.read.parquet(f"{path}/data")
        .select(F.col("_metadata.file_path").alias("file"))
        .distinct()
    )
    new_files = [
        r.file
        for r in listing.join(kept.select("file"), "file", "left_anti").collect()
    ]
    out = kept
    if new_files:
        back_new = spark.read.option("basePath", f"{path}/data").parquet(*new_files)
        out = kept.unionByName(
            _shard_manifest(back_new, part_cols).select(*kept.columns)
        )
    out.coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")
    spark.catalog.refreshByPath(f"{path}/manifest")
    return spark.read.parquet(f"{path}/manifest")


def drop_shards_where(spark: SparkSession, path: str, condition: str) -> DataFrame:
    """rt1 — manifest-driven file-level retention: drop every shard file
    whose MANIFEST row matches ``condition`` (a SQL boolean over the
    manifest columns — split/source/file/n_rows/n_bytes/min_doc_id/
    max_doc_id), e.g. ``"source = 'crawl_2021'"`` to retire a source or
    ``"max_doc_id < 1000000"`` on a ``cluster_by='doc_id'`` layout to
    expire an id epoch. The retention sibling of
    :func:`delete_from_shards`: that op rewrites files to remove ROWS;
    this one removes whole FILES and reads no data file at all — the
    decision runs entirely over manifest-cardinality metadata, which is
    what makes retention affordable on a 100 TB corpus.

    Ordering: the manifest is patched FIRST (manifest-driven readers
    immediately stop scheduling the dropped files), then the files are
    deleted at the filesystem level. A crash in between leaves unlisted
    files on disk — invisible to manifest readers and flagged as
    ``unlisted_file`` by :func:`validate_shards`; every invocation
    therefore ends with an ORPHAN RECLAIM that deletes any data file
    present on disk but absent from the manifest, so re-running the same
    drop (even when it matches zero manifest rows) removes the leftovers
    — the usual at-least-once stance of the rewrite ops. The reclaim also
    collects files an interrupted :func:`compact_shards` wrote before its
    manifest commit (its outputs are uncommitted until the manifest says
    so); like the other rewrite ops this assumes a single writer per
    shard root. Returns the updated manifest.
    """
    manifest = spark.read.parquet(f"{path}/manifest")
    doomed = [
        r.file for r in manifest.where(condition).select("file").distinct().collect()
    ]
    hconf = spark._jsc.hadoopConfiguration()
    jvm = spark._jvm
    if doomed:
        # Complement by FILE list, not by negating the condition: a NULL
        # predicate row would fall out of BOTH sides of a where/~where
        # split and silently vanish from the manifest without its file
        # being dropped.
        kept = manifest.where(~F.col("file").isin(doomed)).localCheckpoint()
        kept.coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")
        spark.catalog.refreshByPath(f"{path}/manifest")
        for f in doomed:
            p = jvm.org.apache.hadoop.fs.Path(f)
            p.getFileSystem(hconf).delete(p, False)
    # orphan reclaim: filesystem listing minus manifest (metadata-only;
    # compares URI paths so file:/ vs file:/// spellings can't mismatch)
    mani = spark.read.parquet(f"{path}/manifest")
    listed = {
        jvm.org.apache.hadoop.fs.Path(r.file).toUri().getPath()
        for r in mani.select("file").distinct().collect()
    }
    root = jvm.org.apache.hadoop.fs.Path(f"{path}/data")
    fs = root.getFileSystem(hconf)
    orphaned = False
    if fs.exists(root):
        root_uri = root.getFileSystem(hconf).makeQualified(root).toUri().getPath()
        it = fs.listFiles(root, True)
        while it.hasNext():
            st = it.next()
            fp = st.getPath()
            # Skip when ANY path component below the data root is hidden
            # ('.'/'_' prefix) — not just the file name: part files inside a
            # Hadoop committer's '_temporary/...' staging tree of an
            # in-flight write would otherwise pass a name-only filter and a
            # concurrent compact/write overlap would turn from "stale
            # listing" into silent data-file deletion.
            fpath = fp.toUri().getPath()
            rel = fpath[len(root_uri):].lstrip("/") if fpath.startswith(root_uri) else fpath
            if not fpath.endswith(".parquet") or any(
                c.startswith((".", "_")) for c in rel.split("/")
            ):
                continue
            if fpath not in listed:
                fs.delete(fp, False)
                orphaned = True
    if doomed or orphaned:
        spark.catalog.refreshByPath(f"{path}/data")
    return mani


def read_shards_shuffled(
    spark: SparkSession,
    path: str,
    split: str | None = None,
    seed: int = 1,
    n_shards: int = 8,
) -> DataFrame:
    """The full loader contract a trainer runs per epoch: read the
    :func:`write_shards` layout (split filter pruned at the scan) and
    overlay :func:`shuffle_shards`'s deterministic epoch order — every doc
    tagged with its ``(shard, seq)`` consumption slot for this ``seed``. A
    new seed per epoch yields a fresh permutation of the SAME doc set; a
    retry of either epoch reproduces its order exactly (both sides are
    pure functions of (doc_id, seed)).

    Plan shape: the order overlay is ds1's (one shard-partitioned window
    over (hash, doc_id) pairs) joined back to the payload by ``doc_id`` —
    the payload itself is never sorted; a loader consumes shard files in
    manifest order and presents batches by ``(shard, seq)``. At 100 TB the
    join is the standard id-to-payload equi-join and the window stays
    n_shards-parallel with only ids in the sort buffer.
    """
    df = read_shards(spark, path, split=split)
    order = shuffle_shards(df, n_shards=n_shards, seed=seed)
    return order.join(df, "doc_id").select("shard", "seq", *df.columns)


_CHUNK_W = 16  # tokens per chunk
_CHUNK_S = 12  # stride (overlap = W - S = 4 tokens)


def chunk_overlap(
    documents: DataFrame, window: int = _CHUNK_W, stride: int = _CHUNK_S
) -> DataFrame:
    """ck1 — overlapping sliding-window chunking: split each document into
    ``window``-token chunks every ``stride`` tokens (the context-window prep
    every RAG / long-context training pipeline runs; pk2 *packs* whole docs
    into budgets, ck1 *splits* docs into overlapping model-sized pieces).

    Chunk starts are 0, S, 2S, … ; the last chunk may be short (array slice
    truncates identically on both engines); a doc with <= W tokens yields
    exactly one chunk. Pure array algebra — split, sequence, slice,
    concat_ws — so the 1→N fan-out happens JVM-side inside codegen with no
    shuffle at all: at 100 TB this is a narrow scan-explode whose output
    parallelism is the input's, and the chunk id (doc_id, chunk_idx) is
    stable under any partitioning.
    """
    toks = F.split("text", " ")
    n = F.size(toks)
    extra = F.when(
        n > window, (n - F.lit(window) + F.lit(stride - 1)).cast("long") / F.lit(stride)
    ).otherwise(F.lit(0))
    base = documents.select(
        "doc_id",
        toks.alias("toks"),
        n.alias("n_doc_tokens"),
        F.explode(F.sequence(F.lit(0).cast("long"), F.floor(extra))).alias("chunk_idx"),
    )
    piece = F.slice(
        F.col("toks"), (F.col("chunk_idx") * stride + 1).cast("int"), window
    )
    return base.select(
        "doc_id",
        "chunk_idx",
        "n_doc_tokens",
        F.size(piece).alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


_CK1_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_doc_tokens
  FROM documents
), c AS (
  SELECT doc_id, toks, n_doc_tokens,
         unnest(range(0, 1 + CASE WHEN n_doc_tokens > {_CHUNK_W}
           THEN (n_doc_tokens - {_CHUNK_W} + {_CHUNK_S - 1}) // {_CHUNK_S}
           ELSE 0 END)) AS chunk_idx
  FROM t
)
SELECT doc_id, chunk_idx, n_doc_tokens,
       len(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                      chunk_idx * {_CHUNK_S} + {_CHUNK_W})) AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                                  chunk_idx * {_CHUNK_S} + {_CHUNK_W}), ' ') AS chunk_text
FROM c
"""


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """lm1 — unigram language-model quality score: per-doc mean token
    log-probability under the corpus's own unigram distribution (the
    CCNet-style LM-perplexity quality filter — Wenzek et al. 2020 §4.3 —
    with the KenLM 5-gram swapped for the engine-portable unigram model;
    low mean logprob = rare-token-heavy = boilerplate/noise candidate).

    Two hash aggregates over the exploded token stream (vocab counts, then
    per-doc mean), with the scored join broadcasting the vocab — vocabulary
    is word *types*, bounded and tiny next to the corpus. At true web scale
    (vocab past broadcast size) the same plan degrades gracefully to a
    shuffle join on the term — the token stream is already skinny — and the
    vocab aggregate's map-side combine keeps the heavy shuffle at type-level
    cardinality. Mean logprob rounds to 6 decimals on both engines (repo
    rule 6) so libm-vs-Java ``ln`` ulps cannot surface.
    """
    toks = documents.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    # total instances = count of the token stream — same number as sum(c)
    # but skips re-running the vocab aggregate in a second branch.
    tot = toks.agg(F.count("*").cast("double").alias("t"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "tok", F.log(F.col("c") / F.col("t")).alias("lp")
    )
    # No broadcast HINT: a hint is mandatory and fails outright past the
    # 8 GB broadcast limit; left to the optimizer, a within-threshold vocab
    # auto-broadcasts and a beyond-threshold one degrades to the shuffle
    # equi-join the docstring promises (round-7 review finding).
    return (
        toks.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )


_LM1_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS t FROM toks
)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(ln(vocab.c / tot.t)), 6) AS avg_logprob
FROM toks JOIN vocab USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """lm2 — CONDITIONAL bigram LM quality score: per-doc mean
    ``ln P(w2 | w1)`` under the corpus's own bigram MLE (``c(w1 w2) /
    c(w1 ·)``, the context count — so the conditional sums to 1 per
    context and no smoothing is needed when scoring the same corpus the
    model was counted on). One order up from lm1's unigram: sequence
    structure now matters, so shuffled word salad scores low even when
    every individual token is common — closer to the CCNet/KenLM
    perplexity filter (Wenzek et al. 2020 §4.3) while staying
    engine-portable. Docs with fewer than 2 tokens have no bigrams:
    ``n_bigrams = 0`` and a NULL score (kept via the final left join).

    Plan shape: adjacent pairs are pure array algebra (two slices zipped,
    no window); the pair stream feeds one algebraic count per (w1, w2),
    the context count is a second type-level aggregate OVER THE PAIR
    COUNTS (bigram-type cardinality, not corpus cardinality), and scoring
    joins the bigram model back broadcast — the same
    vocab-is-tiny-next-to-corpus argument (and graceful shuffle-join
    degradation) as lm1. Mean logprob rounds to 6 decimals (repo rule 6).
    """
    toks = F.split("text", " ")
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"), F.slice(toks, 2, n - 1).alias("w2")
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = documents.select(
        "doc_id", F.explode(pairs).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    model = c2.join(c1, "w1").select(
        "w1", "w2", F.log(F.col("c2") / F.col("c1")).alias("lp")
    )
    # Optimizer-decided join, not a broadcast hint — the bigram-TYPE table
    # grows much faster than lm1's word vocab; see lm1's note.
    scored = (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_logprob",
        )
    )


_LM2_SQL = """
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS ls FROM documents
), bg AS (
  SELECT doc_id,
         unnest([{'w1': ls[i], 'w2': ls[i + 1]}
                 for i in generate_series(1, len(ls) - 1)],
                recursive := true)
  FROM s
), c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1
), sc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(ln(c2.c2 / c1.c1)), 6) AS avg_logprob
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
  GROUP BY doc_id
)
SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams, sc.avg_logprob
FROM documents d LEFT JOIN sc USING (doc_id)
"""


def prep_funnel(
    documents: DataFrame,
    min_chars: int = 50,
    min_alpha_ratio: float = 0.5,
    train_pct: int = 80,
) -> DataFrame:
    """pp3 — the stage-by-stage survivor FUNNEL for pp1's default chain
    (ingest -> quality filter -> exact dedup -> split): one row per
    stage with ``(stage_idx, stage, n_docs, kept_frac)`` where kept_frac
    is against ingest. This is the audit a data team reads after every
    prep run — pp1 reports the final shard stats; pp3 answers "WHERE did
    the other 38% go", which is how both over-aggressive filters and
    silently-broken ones get caught (a dedup stage suddenly keeping
    99.9% is as alarming as one keeping 20%). Stage rules are
    byte-identical to pp1's (same quality expression, same
    min-doc_id-per-sha canonical rule, same masked-hash split), so the
    funnel's final two rows always sum to its dedup row.

    Plan shape: the chained stage frames share the filtered scan via one
    localCheckpoint (note 12); each stage contributes a single count
    aggregate and the union is five 1-row branches — cost is one corpus
    scan + the dd1 hash aggregate, nothing new.
    """
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    quality = F.round(alpha / n_chars, 6)
    base = documents.select("doc_id", "text")
    filtered = base.where(
        (n_chars >= min_chars) & (quality >= min_alpha_ratio)
    ).localCheckpoint(eager=False)  # canon + semi-join + count (note 12)
    canon = filtered.groupBy(F.sha2("text", 256).alias("sha")).agg(
        F.min("doc_id").alias("keep_id")
    )
    kept = filtered.join(
        canon, filtered.doc_id == canon.keep_id, "left_semi"
    ).localCheckpoint(eager=False)  # split branches + count (note 12)
    is_train = _key_hash("doc_id") * 100 < train_pct * _SPLIT_MOD
    stages = [
        (0, "ingest", base),
        (1, "quality_filter", filtered),
        (2, "exact_dedup", kept),
        (3, "split_train", kept.where(is_train)),
        (4, "split_test", kept.where(~is_train)),
    ]
    import functools

    counts = functools.reduce(
        lambda a, b: a.unionByName(b),
        [
            df.agg(F.count("*").alias("n_docs")).select(
                F.lit(i).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col("n_docs").cast("bigint").alias("n_docs"),
            )
            for i, name, df in stages
        ],
    )
    ingest = base.agg(F.count("*").alias("_n_ingest"))
    return counts.crossJoin(F.broadcast(ingest)).select(
        "stage_idx",
        "stage",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_n_ingest"), 6).alias("kept_frac"),
    )


_PP3_SQL = f"""
WITH i AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
f AS (
  SELECT doc_id, text FROM documents
  WHERE length(text) >= 50
    AND round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text), 6) >= 0.5
),
canon AS (
  SELECT sha256(text) AS sha, min(doc_id) AS keep_id FROM f GROUP BY sha256(text)
),
kept AS (SELECT f.* FROM f WHERE f.doc_id IN (SELECT keep_id FROM canon)),
cf AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
ck AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kept),
ct AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kept
       WHERE ({_KEY_HASH_SQL.format(col="doc_id")}) * 100 < 80 * 1000003),
ce AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kept
       WHERE NOT (({_KEY_HASH_SQL.format(col="doc_id")}) * 100 < 80 * 1000003))
SELECT * FROM (
  SELECT 0 AS stage_idx, 'ingest' AS stage, i.n AS n_docs,
         round(i.n / i.n, 6) AS kept_frac FROM i
  UNION ALL
  SELECT 1, 'quality_filter', cf.n, round(cf.n / i.n, 6) FROM cf, i
  UNION ALL
  SELECT 2, 'exact_dedup', ck.n, round(ck.n / i.n, 6) FROM ck, i
  UNION ALL
  SELECT 3, 'split_train', ct.n, round(ct.n / i.n, 6) FROM ct, i
  UNION ALL
  SELECT 4, 'split_test', ce.n, round(ce.n / i.n, 6) FROM ce, i
)
"""


_PP1_SQL = f"""
WITH f AS (
  SELECT doc_id, lang, text, round(
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text), 6
         ) AS alpha_ratio
  FROM documents
  WHERE length(text) >= 50
    AND round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text), 6) >= 0.5
), canon AS (
  SELECT sha256(text) AS sha, min(doc_id) AS keep_id FROM f GROUP BY sha256(text)
), kept AS (
  SELECT f.* FROM f WHERE f.doc_id IN (SELECT keep_id FROM canon)
), s AS (
  SELECT CASE WHEN ({_KEY_HASH_SQL.format(col="doc_id")}) * 100 < 80 * 1000003
              THEN 'train' ELSE 'test' END AS split,
         lang, len(string_split(text, ' ')) AS n_tokens, alpha_ratio
  FROM kept
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(alpha_ratio) AS min_quality, max(alpha_ratio) AS max_quality
FROM s GROUP BY split, lang
"""


SP3_FOLDS = 5


def kfold_split(documents: DataFrame, k: int = SP3_FOLDS) -> DataFrame:
    """sp3 — deterministic k-fold cross-validation assignment:
    ``fold = key_hash(doc_id) % k``, proven as per-(fold, lang) counts
    (sp1's convention). The CV harness form of the split family: every
    engine/partitioning/retry lands each doc in the same fold, and each
    fold's complement is a training set.

    Note-27 compliance: the fold is a MODULUS cut of the shared key hash
    while sp1's train/test is a THRESHOLD cut of it — a modulus and a
    threshold on one uniform value are (near-)independent decisions,
    unlike two thresholds (which nest — the sm1 bug). The composition
    test asserts folds stay uniform INSIDE sp1's train split.
    """
    fold = (_key_hash("doc_id") % k).cast("int")
    return (
        documents.select(fold.alias("fold"), "lang")
        .groupBy("fold", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


_SP3_SQL = f"""
SELECT CAST(({_KEY_HASH_SQL.format(col="doc_id")}) % {SP3_FOLDS} AS INT) AS fold,
       lang, count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


LM3_LAMBDA = 0.7


def interpolated_logprob(documents: DataFrame, lam: float = LM3_LAMBDA) -> DataFrame:
    """lm3 — Jelinek-Mercer interpolated LM quality score: per-doc mean
    ``ln(λ P(w2|w1) + (1-λ) P(w2))`` — the standard smoothing that fixes
    both its parents' failure modes: lm2's raw conditional spikes on
    rare contexts (one unseen-ish continuation tanks a doc) while lm1
    ignores order entirely; the mixture backs rare contexts off to the
    unigram and still rewards fluent sequences. Completes the LM-filter
    family (CCNet's KenLM is exactly an interpolated n-gram model, one
    order higher).

    Plan: lm2's verbatim (pair stream via array algebra, two type-level
    aggregates, model joined back) plus one unigram join — all
    vocabulary-cardinality; the fixed mixture expression evaluates
    identically on both engines and the mean rounds to 6 dp (repo rule
    6). Docs with < 2 tokens report ``n_bigrams = 0`` and NULL.
    """
    toks = F.split("text", " ")
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"), F.slice(toks, 2, n - 1).alias("w2")
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = documents.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    uni = documents.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count("*").alias("cw")
    )
    tot = uni.agg(F.sum("cw").cast("double").alias("t"))
    model = (
        c2.join(c1, "w1")
        .join(uni.select(F.col("w").alias("w2"), "cw"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.log(
                F.lit(float(lam)) * (F.col("c2") / F.col("c1"))
                + F.lit(1.0 - lam) * (F.col("cw") / F.col("t"))
            ).alias("lp"),
        )
    )
    scored = (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_interp_logprob"),
        )
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_interp_logprob",
        )
    )


_LM3_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 2)
), c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
), uni AS (
  SELECT unnest(toks) AS w FROM t
), cu AS (
  SELECT w, count(*) AS cw FROM uni GROUP BY w
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS t FROM uni
), model AS (
  SELECT c2.w1, c2.w2,
         ln(0.7 * (c2.c2 / c1.c1) + 0.3 * (cu.cw / tot.t)) AS lp
  FROM c2 JOIN c1 USING (w1) JOIN cu ON cu.w = c2.w2 CROSS JOIN tot
), sc AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_interp_logprob
  FROM bg JOIN model USING (w1, w2)
  GROUP BY doc_id
)
SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams, sc.avg_interp_logprob
FROM documents d LEFT JOIN sc USING (doc_id)
"""


LM4_DISCOUNT = 0.75  # binary-exact (3/4): both engines hold it exactly


def kneser_ney_logprob(documents: DataFrame, d: float = LM4_DISCOUNT) -> DataFrame:
    """lm4 — interpolated Kneser-Ney bigram LM quality score (Kneser &
    Ney 1995; the smoothing KenLM itself ships as its default, so this is
    the closest engine-portable form of the CCNet perplexity filter):
    per-doc mean of

        ln( max(c(w1 w2) - d, 0)/c(w1 .)
            + d * N1+(w1, .)/c(w1 .) * N1+(., w2)/N_types )

    where ``N1+(w1, .)`` = distinct continuations of the context,
    ``N1+(., w2)`` = distinct contexts the word FOLLOWS (the continuation
    count — KN's insight: a word frequent in only one context, the
    "Francisco" effect, backs off low no matter its raw frequency), and
    ``N_types`` = total distinct bigram types. lm3's Jelinek-Mercer mixes
    in the raw unigram; KN replaces it with the continuation distribution
    and makes the mixture weight context-adaptive (mass freed by the
    discount), which is why it wins every held-out n-gram benchmark.

    Engine contract: the discount is binary-exact 3/4; every factor is a
    BIGINT ratio evaluated in the same parse shape on both engines (the
    ``max`` never binds on self-scoring — c2 >= 1 > d — but is kept for
    formula fidelity); the mean rounds to 6 dp (repo rule 6).

    Plan shape: lm2/lm3's verbatim — the pair stream collapses through one
    algebraic (w1, w2) count, then EVERY model statistic (c1, both N1+
    tallies, N_types) is an aggregate OF the bigram-TYPE table, so nothing
    past the first aggregate touches corpus cardinality; the scalar
    N_types broadcasts, the model joins back optimizer-decided (lm1's
    broadcast-or-degrade note). Docs with < 2 tokens: n_bigrams = 0, NULL.
    """
    toks = F.split("text", " ")
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"), F.slice(toks, 2, n - 1).alias("w2")
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = documents.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # context total + distinct-continuation tally: one pass over the types
    c1 = c2.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count("*").alias("n1f")
    )
    n1b = c2.groupBy("w2").agg(F.count("*").alias("n1b"))
    nt = c2.agg(F.count("*").cast("double").alias("nt"))
    dd = F.lit(float(d))
    model = (
        c2.join(c1, "w1")
        .join(n1b, "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            # shape contract with _LM4_SQL: divisions evaluate FIRST so
            # every factor is already DOUBLE when the products apply —
            # DuckDB's bare 0.75 literal is DECIMAL and decimal-typed
            # subtraction/division would round differently (note 6).
            F.log(
                F.greatest(F.col("c2").cast("double") - dd, F.lit(0.0))
                / F.col("c1")
                + (dd * (F.col("n1f") / F.col("c1")))
                * (F.col("n1b") / F.col("nt"))
            ).alias("lp"),
        )
    )
    scored = (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_kn_logprob"),
        )
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_kn_logprob",
        )
    )


_LM4_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 2)
), c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1f
  FROM c2 GROUP BY w1
), n1b AS (
  SELECT w2, count(*) AS n1b FROM c2 GROUP BY w2
), nt AS (
  SELECT CAST(count(*) AS DOUBLE) AS nt FROM c2
), model AS (
  SELECT c2.w1, c2.w2,
         ln(greatest(CAST(c2.c2 AS DOUBLE) - {LM4_DISCOUNT}, 0.0) / c1.c1
            + ({LM4_DISCOUNT} * (c1.n1f / c1.c1)) * (n1b.n1b / nt.nt)) AS lp
  FROM c2 JOIN c1 USING (w1) JOIN n1b USING (w2) CROSS JOIN nt
), sc AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_kn_logprob
  FROM bg JOIN model USING (w1, w2)
  GROUP BY doc_id
)
SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams, sc.avg_kn_logprob
FROM documents d LEFT JOIN sc USING (doc_id)
"""


IS1_TARGET_SOURCE = "src0"
IS1_KEEP_FRAC = 0.5


def importance_resample(
    documents: DataFrame,
    target_source: str = IS1_TARGET_SOURCE,
    keep_frac: float = IS1_KEEP_FRAC,
) -> DataFrame:
    """is1 — DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling", with the
    paper's hashed-n-gram features swapped for the engine-portable unigram
    LM lm1 already uses): score every pool document by its mean token
    log-ratio ``ln p_target(tok) - ln p_pool(tok)`` and keep the top
    ``keep_frac`` — raw-corpus docs that LOOK like the target domain get
    selected. Target = docs from ``target_source``; pool = the rest.
    Returns ``(doc_id, n_tokens, weight, kept)`` for the pool.

    Both LMs are Laplace-smoothed over the SHARED vocabulary
    (``(c + 1)/(T + V)``) so pool tokens unseen in the target stay finite
    and the ratio is defined everywhere. The selection cutpoint is
    ``percentile_disc`` over the 3-dp-QUANTIZED weight — bounded aggregate
    state (note 24) and an actual data value, so no interpolation can flip
    a boundary doc; the comparison runs on the same quantized value.

    Scale shape: exactly lm1's — two type-level vocab aggregates (map-side
    partials collapse the token stream to vocabulary cardinality), a 1-row
    scalar frame (V, T_target, T_pool) broadcast, the per-token log-ratio
    table joined back on the term (auto-broadcast while vocab-sized, lm1's
    shuffle-degradation argument past that), one per-doc aggregate, one
    bounded-state cutpoint broadcast back. The corpus is never re-scanned
    per stage and no cartesian exists anywhere.
    """
    toks = documents.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    is_t = F.col("source") == target_source
    vt = toks.where(is_t).groupBy("tok").agg(F.count("*").alias("ct"))
    pool_toks = toks.where(~is_t).select("doc_id", "tok")
    vr = pool_toks.groupBy("tok").agg(F.count("*").alias("cr"))
    scal = toks.agg(
        F.countDistinct("tok").cast("double").alias("v"),
        F.sum(F.when(is_t, 1).otherwise(0)).cast("double").alias("tt"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("double").alias("tr"),
    )
    lr = (
        vr.join(vt, "tok", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "tok",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0)) / (F.col("tt") + F.col("v")))
                - F.log((F.col("cr") + F.lit(1.0)) / (F.col("tr") + F.col("v")))
            ).alias("lw"),
        )
    )
    scored = (
        pool_toks.join(lr, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lw"), 6).alias("weight"),
        )
    )
    qw = F.round(F.col("weight"), 3)
    cut = scored.agg(
        F.expr(
            f"percentile_disc({1.0 - keep_frac!r}) WITHIN GROUP"
            " (ORDER BY round(weight, 3))"
        ).alias("c")
    )
    return scored.crossJoin(F.broadcast(cut)).select(
        "doc_id", "n_tokens", "weight", (qw >= F.col("c")).alias("kept")
    )


_IS1_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents
),
scal AS (
  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v,
         CAST(sum(CASE WHEN source = '{IS1_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS DOUBLE) AS tt,
         CAST(sum(CASE WHEN source <> '{IS1_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS DOUBLE) AS tr
  FROM toks
),
vt AS (SELECT tok, count(*) AS ct FROM toks
       WHERE source = '{IS1_TARGET_SOURCE}' GROUP BY tok),
vr AS (SELECT tok, count(*) AS cr FROM toks
       WHERE source <> '{IS1_TARGET_SOURCE}' GROUP BY tok),
lr AS (
  SELECT vr.tok,
         ln((coalesce(ct, 0) + 1.0) / (tt + v)) - ln((cr + 1.0) / (tr + v)) AS lw
  FROM vr LEFT JOIN vt USING (tok) CROSS JOIN scal
),
scored AS (
  SELECT doc_id, count(*) AS n_tokens, round(avg(lw), 6) AS weight
  FROM (SELECT doc_id, tok FROM toks WHERE source <> '{IS1_TARGET_SOURCE}') p
  JOIN lr USING (tok)
  GROUP BY doc_id
),
cut AS (SELECT quantile_disc(round(weight, 3), {1.0 - IS1_KEEP_FRAC!r}) AS c
        FROM scored)
SELECT doc_id, n_tokens, weight, (round(weight, 3) >= c) AS kept
FROM scored CROSS JOIN cut
"""


PPL1_QLO = 1.0 / 3.0
PPL1_QHI = 2.0 / 3.0


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """ppl1 — CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020 §4.4: score every doc with a language model, split each language
    into head/middle/tail thirds by perplexity, train preferentially on
    head). The LM is lm1's corpus unigram (the engine-portable stand-in
    for CCNet's KenLM 5-gram); since perplexity = exp(-avg_logprob) is a
    monotone transform, bucketing directly on ``avg_logprob`` is the same
    split without the exp — head = highest mean logprob = lowest
    perplexity. Returns ``(doc_id, lang, n_tokens, avg_logprob, bucket)``.

    Cutpoints are per-lang ``percentile_disc`` over the 3-dp-QUANTIZED
    score — bounded aggregate state (note 24), an actual data value (no
    interpolation boundary-flip; the disc selection rule is the SQL
    standard's smallest-cume_dist>=q on BOTH engines — probed empirically
    for thirds), and the comparison runs on the same quantized value.
    Boundary docs tie into the lower bucket on both engines.

    Scale shape: lm1's exactly (vocab aggregate with map-side partials,
    broadcast-or-shuffle score join, one per-doc aggregate), plus one
    lang-level cutpoint aggregate (2 values per language) broadcast back.
    """
    toks = documents.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = toks.agg(F.count("*").cast("double").alias("t"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "tok", F.log(F.col("c") / F.col("t")).alias("lp")
    )
    scored = (
        toks.join(lp, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )
    cuts = scored.groupBy("lang").agg(
        F.expr(
            f"percentile_disc({PPL1_QLO!r}) WITHIN GROUP"
            " (ORDER BY round(avg_logprob, 3))"
        ).alias("c_lo"),
        F.expr(
            f"percentile_disc({PPL1_QHI!r}) WITHIN GROUP"
            " (ORDER BY round(avg_logprob, 3))"
        ).alias("c_hi"),
    )
    q = F.round(F.col("avg_logprob"), 3)
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "avg_logprob",
        F.when(q <= F.col("c_lo"), F.lit("tail"))
        .when(q <= F.col("c_hi"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("bucket"),
    )


_PPL1_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS t FROM toks
), scored AS (
  SELECT doc_id, lang, count(*) AS n_tokens,
         round(avg(ln(vocab.c / tot.t)), 6) AS avg_logprob
  FROM toks JOIN vocab USING (tok) CROSS JOIN tot
  GROUP BY doc_id, lang
), cuts AS (
  SELECT lang,
         quantile_disc(round(avg_logprob, 3), {PPL1_QLO!r}) AS c_lo,
         quantile_disc(round(avg_logprob, 3), {PPL1_QHI!r}) AS c_hi
  FROM scored GROUP BY lang
)
SELECT doc_id, scored.lang, n_tokens, avg_logprob,
       CASE WHEN round(avg_logprob, 3) <= c_lo THEN 'tail'
            WHEN round(avg_logprob, 3) <= c_hi THEN 'middle'
            ELSE 'head' END AS bucket
FROM scored JOIN cuts USING (lang)
"""


# Bin width a power of two: value/width only rescales the float exponent,
# so floor() is bit-identical in Spark and DuckDB (the same binary-exact
# argument as the 0.5/0.25 quantile weights, note 24).
QD1_BIN_WIDTH = 64.0
QD1_SHARDS = 8
# Quantiles as integer (num, den) pairs so the crossing test is
# integer-exact on both engines: cum * den >= num * n.
QD1_QS = ((1, 4, "p25"), (2, 4, "p50"), (3, 4, "p75"))


def digest_partial(
    df: DataFrame,
    value_col: str,
    group_col: str,
    width: float = QD1_BIN_WIDTH,
) -> DataFrame:
    """One shard's digest: (grp, bin, cnt) bin counts — the O(bins)
    partial state an ingest task / stream micro-batch / day partition
    keeps. Digests merge by summing cnt (associative + commutative)."""
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.floor(F.col(value_col) / F.lit(width)).cast("long").alias("bin"),
        )
        .groupBy("grp", "bin")
        .agg(F.count("*").alias("cnt"))
    )


def digest_quantiles(merged: DataFrame, width: float = QD1_BIN_WIDTH) -> DataFrame:
    """Quantile query over a merged digest (grp, bin, cnt): per group and
    q = num/den, the lower edge of the first bin where cumulative count
    crosses (integer-exact: ``cum * den >= num * n``). One pass for all
    quantiles — the spec explodes as a literal array (a per-q union would
    rescan the input, note 12)."""
    w = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = merged.select(
        "grp",
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("grp")).alias("n"),
    )
    qspec = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(num).alias("num"),
                    F.lit(den).alias("den"),
                    F.lit(label).alias("q"),
                )
                for num, den, label in QD1_QS
            ]
        )
    ).alias("qq")
    return (
        cum.select("grp", "bin", "cum", "n", qspec)
        .where(F.col("cum") * F.col("qq.den") >= F.col("n") * F.col("qq.num"))
        .groupBy("grp", F.col("qq.q").alias("q"))
        .agg(F.min("bin").alias("bin"), F.max("n").alias("n"))
        .select("grp", "q", "bin", (F.col("bin") * F.lit(width)).alias("est"), "n")
    )


def quantile_digest(
    lineitem: DataFrame,
    value_col: str = "l_extendedprice",
    group_col: str = "l_returnflag",
    width: float = QD1_BIN_WIDTH,
) -> DataFrame:
    """qd1 — MERGEABLE equi-width quantile digest: the bounded-state scale
    path for distribution queries that exact ``percentile`` cannot take
    (its state is O(distinct values), note 24 — never feed it a continuous
    column at 100 TB). The digest is a fixed-width binned histogram:

    1. **Shard digests**: per (group, shard) bin counts — the state each
       ingest task / stream batch / day partition would keep, O(bins) per
       shard regardless of row count (shard = a deterministic key split
       here, standing in for whatever the physical unit is).
    2. **Merge**: digests combine by summing bin counts — one hash
       aggregate, associative and commutative, the same mergeability
       contract as cs2 (HLL cards) and hh2 (frequent-items) but for
       quantiles.
    3. **Query**: per group and q = num/den, the estimate is the lower
       edge of the first bin where cumulative count crosses
       ``ceil(q * n)`` (integer-exact crossing: ``cum * den >= num * n``).
       Error is bounded by one bin width by construction.

    Everything after the first scan runs at (groups x bins) cardinality;
    the cumulative window partitions by group over ~|value range|/width
    rows. The DuckDB twin runs the identical algebra — integer counts and
    power-of-two scaling keep both engines bit-identical.
    """
    binc = F.floor(F.col(value_col) / F.lit(width)).cast("long").alias("bin")
    shard = F.pmod(F.col("l_orderkey"), F.lit(QD1_SHARDS)).alias("shard")
    shard_digests = (
        lineitem.select(F.col(group_col).alias("grp"), shard, binc)
        .groupBy("grp", "shard", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    merged = shard_digests.groupBy("grp", "bin").agg(F.sum("cnt").alias("cnt"))
    return digest_quantiles(merged, width)


_QD1_SQL = f"""
WITH digests AS (
  SELECT l_returnflag AS grp,
         l_orderkey % {QD1_SHARDS} AS shard,
         CAST(floor(l_extendedprice / {QD1_BIN_WIDTH}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2, 3
), merged AS (
  SELECT grp, bin, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM digests GROUP BY 1, 2
), cum AS (
  SELECT grp, bin,
         CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM merged
), qs AS (
  SELECT * FROM (VALUES {", ".join(f"({num}, {den}, '{label}')" for num, den, label in QD1_QS)})
       t(num, den, q)
)
SELECT grp, q, CAST(min(bin) AS BIGINT) AS bin,
       min(bin) * {QD1_BIN_WIDTH} AS est,
       CAST(max(n) AS BIGINT) AS n
FROM cum JOIN qs ON cum.cum * qs.den >= cum.n * qs.num
GROUP BY grp, q
"""


# --- registry wiring -------------------------------------------------------


def build_queries():
    def q(fn, name, spread=False):
        def run(spark: SparkSession, sf: str) -> DataFrame:
            return fn(tables.load(spark, sf, name, spread=spread))

        return run

    return {
        "vec1_label_centroids": (q(label_centroids, "embeddings"), _VEC1_SQL),
        "tf1_tfidf_top_terms": (q(tfidf_top_terms, "documents", spread=True), _TF1_SQL),
        "sp1_deterministic_split": (q(deterministic_split, "documents"), _SP1_SQL),
        "sp2_temporal_split": (q(temporal_split, "events"), _SP2_SQL),
        "pk1_pack_sequences": (q(pack_sequences, "documents"), _PK1_SQL),
        "pk2_pack_chunked": (q(pack_sequences_chunked, "documents"), _PK2_SQL),
        "pk3_pack_assignments": (q(pack_assignments, "documents"), _PK3_SQL),
        "sm1_stratified_sample": (q(stratified_sample, "documents"), _SM1_SQL),
        "ws1_weighted_sample": (q(weighted_sample, "documents"), _WS1_SQL),
        "sm2_mixture_sample": (q(mixture_sample, "documents"), _SM2_SQL),
        "sm3_mixture_expand": (q(mixture_expand, "documents"), _SM3_SQL),
        "ds1_shuffle_shards": (q(shuffle_shards, "documents"), _DS1_SQL),
        "ds2_curriculum_shards": (q(curriculum_shards, "documents"), _DS2_SQL),
        "nt1_equidepth_histogram": (q(equidepth_histogram, "documents"), _NT1_SQL),
        "qd1_quantile_digest": (q(quantile_digest, "lineitem"), _QD1_SQL),
        "qf1_quality_quantile": (q(quality_quantile_report, "documents"), _qf1_sql()),
        "pp1_prep_pipeline": (q(prep_pipeline, "documents"), _PP1_SQL),
        # pp3 = pp1's default chain as a stage-by-stage survivor audit.
        "pp3_prep_funnel": (q(prep_funnel, "documents"), _PP3_SQL),
        "ck1_chunk_overlap": (q(chunk_overlap, "documents"), _CK1_SQL),
        "lm1_unigram_logprob": (q(unigram_logprob, "documents", spread=True), _LM1_SQL),
        "ppl1_perplexity_buckets": (q(perplexity_buckets, "documents", spread=True), _PPL1_SQL),
        "lm2_bigram_logprob": (q(bigram_logprob, "documents", spread=True), _LM2_SQL),
        "is1_importance_resample": (q(importance_resample, "documents", spread=True), _IS1_SQL),
        "sp3_kfold_split": (q(kfold_split, "documents"), _SP3_SQL),
        "lm3_interpolated_logprob": (q(interpolated_logprob, "documents", spread=True), _LM3_SQL),
        "lm4_kneser_ney_logprob": (q(kneser_ney_logprob, "documents", spread=True), _LM4_SQL),
        # fuzzy form: the dd3 MinHash stage rides xxhash64 (no DuckDB twin)
        # -> rows-only, rank 2, outside the hash window like dd3/sim5;
        # ground truth = planted-corpus equivalence in tests/test_pipeline_ops.py.
        "pp2_prep_pipeline_fuzzy": (
            lambda spark, sf: prep_pipeline(
                tables.load(spark, sf, "documents", spread=True),
                fuzzy_min_est_jaccard=0.5,
            ),
            None,
        ),
    }


_VEC1_SQL = """
WITH pe AS (
  SELECT label, i - 1 AS pos, embedding[i] AS val
  FROM embeddings CROSS JOIN generate_series(1, 8) AS t(i)
), agg AS (
  SELECT label, pos, round(avg(CAST(val AS DOUBLE)), 6) AS c
  FROM pe GROUP BY label, pos
)
SELECT label,
       max(CASE WHEN pos = 0 THEN c END) AS c0,
       max(CASE WHEN pos = 1 THEN c END) AS c1,
       max(CASE WHEN pos = 2 THEN c END) AS c2,
       max(CASE WHEN pos = 3 THEN c END) AS c3,
       max(CASE WHEN pos = 4 THEN c END) AS c4,
       max(CASE WHEN pos = 5 THEN c END) AS c5,
       max(CASE WHEN pos = 6 THEN c END) AS c6,
       max(CASE WHEN pos = 7 THEN c END) AS c7
FROM agg GROUP BY label
"""

_TF1_SQL = """
WITH toks AS (
  SELECT source, doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY source, term),
scored AS (
  SELECT tf.source, tf.term,
         round(tf.tf * ln((nd.nd + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN nd
), r AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT source, CAST(rank AS INT) AS rank, term, tfidf FROM r WHERE rank <= 5
"""

_SP1_SQL = f"""
WITH s AS (
  SELECT CASE WHEN ({_KEY_HASH_SQL.format(col="doc_id")}) * 100 < 80 * 1000003
              THEN 'train' ELSE 'test' END AS split,
         lang
  FROM documents
)
SELECT split, lang, count(*) AS n_docs FROM s GROUP BY split, lang
"""

_PK1_SQL = """
WITH c AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
         sum(len(string_split(text, ' '))) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM documents
), b AS (
  SELECT *, CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS bin FROM c
)
SELECT source, bin, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM b GROUP BY source, bin
"""


def user_trend_custom(events: DataFrame) -> DataFrame:
    """ga1 — custom group aggregate via applyInPandas: per-user least-squares
    trend fitted with numpy. The pattern for aggregates no built-in
    expresses (here deliberately one that IS expressible — regr_slope — so
    tests can verify the custom path against the built-in bit-for-bit
    semantics). Arrow-batched per group; the fold is a closure (executors
    can't import this package).
    """
    import pandas as pd

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        x = pdf["ts_us"].to_numpy(np.float64) / 3.6e9
        y = pdf["value"].to_numpy(np.float64)
        xm, ym = x.mean(), y.mean()
        dx = x - xm
        slope = float((dx * (y - ym)).sum() / (dx * dx).sum())
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n": [len(pdf)],
                "slope": [slope],
            }
        )

    return events.groupBy("user_id").applyInPandas(fit, "user_id long, n long, slope double")


def stratified_sample(documents: DataFrame, per_lang: int = 20) -> DataFrame:
    """sm1 — deterministic stratified sampling: top-N per language by a
    portable hash ranking. Like sp1, sampling is a pure function of the
    row key — reproducible across engines, partitionings, and retries.
    Emits per-stratum sample membership counts plus extremes for audit.
    """
    h = _sample_hash("doc_id")
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    picked = documents.select("doc_id", "lang").withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= per_lang
    )
    return picked.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum("doc_id").alias("id_sum"),
    )


WS1_SAMPLE_N = 50


def weighted_sample(documents: DataFrame, n: int = WS1_SAMPLE_N) -> DataFrame:
    """ws1 — weighted sampling WITHOUT replacement by the
    Efraimidis–Spirakis exponential-key rule: each doc draws a
    deterministic pseudo-uniform ``u`` from its id (:func:`_sample_hash`'s
    decorrelated mixing) and competes on ``ln(u)/w`` with weight ``w`` =
    ``n_chars``; the global top-``n`` keys are EXACTLY a weight-
    proportional without-replacement draw (Efraimidis & Spirakis 2006 —
    the ``u^(1/w)`` key under the monotone ln transform). The principled
    per-doc-weight subsample (by length, quality, importance score) that
    hash-threshold sampling (sm1/sm2's per-STRATUM rates) cannot express.
    Reproducible across engines, partitionings and retries: sampling is a
    pure function of (doc_id, weight). Returns
    ``(doc_id, n_chars, skey)``, best key first.

    Determinism: key rounded to 6 dp BEFORE ranking with doc_id
    tie-break (rule 6 — both engines then agree bit-for-bit even where
    libm ulps differ). Plan: a pure column expression + global top-n —
    TakeOrderedAndProject (h3's no-global-sort shape), no shuffle beyond
    the final n rows. Weights must be POSITIVE (the ES precondition;
    ``n_chars`` is — a zero weight would put ``ln(u)/0`` = ±inf/NaN into
    the key order, where Spark and SQL NaN ordering diverge).
    """
    u = (_sample_hash("doc_id") + 1) / F.lit(float(_SPLIT_MOD + 1))
    skey = F.round(F.log(u) / F.col("n_chars"), 6)
    return (
        documents.select("doc_id", "n_chars", skey.alias("skey"))
        .orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(n)
    )


_WS1_SQL = f"""
SELECT doc_id, n_chars,
       round(ln((({_SAMPLE_HASH_SQL.format(col="doc_id")}) + 1) / {float(_SPLIT_MOD + 1)!r})
             / n_chars, 6) AS skey
FROM documents
ORDER BY skey DESC, doc_id ASC
LIMIT {WS1_SAMPLE_N}
"""


def _mixture_rates(
    d: DataFrame, temperature: float, budget_frac: float, cap: bool = True
) -> DataFrame:
    """Per-source temperature rates ``(source, src_tokens, rate)`` for
    ``(doc_id, source, n_tokens)`` rows: rate ∝ src_tokens^T scaled so the
    expected sampled total is ``budget_frac`` of the corpus. ``cap=True``
    clips at 1 (downsample-only); ``cap=False`` lets small sources exceed 1
    (the upsample/repeat regime :func:`mixture_expand` materializes)."""
    t = d.groupBy("source").agg(
        F.sum(F.col("n_tokens").cast("bigint")).alias("src_tokens")
    )
    tot = t.agg(
        F.sum("src_tokens").cast("double").alias("tot_toks"),
        F.sum(F.pow(F.col("src_tokens").cast("double"), F.lit(temperature))).alias(
            "tot_pow"
        ),
    )
    raw = (
        F.lit(budget_frac)
        * F.col("tot_toks")
        * F.pow(F.col("src_tokens").cast("double"), F.lit(temperature))
        / F.col("tot_pow")
        / F.col("src_tokens").cast("double")
    )
    rate = F.round(F.least(F.lit(1.0), raw) if cap else raw, 6)
    return t.crossJoin(F.broadcast(tot)).select(
        "source", "src_tokens", rate.alias("rate")
    )


def _mixture_accept(d: DataFrame, temperature: float, budget_frac: float) -> DataFrame:
    """Shared acceptance core of sm2 and pp1's mixture stage: given
    ``(doc_id, source, n_tokens)`` rows, compute the per-source temperature
    rates and return the accepted rows with ``rate``/``src_tokens``
    attached. ONE definition so the registered query and the pipeline stage
    can never desynchronize (same rule as ``_split_expr``)."""
    rates = _mixture_rates(d, temperature, budget_frac)
    return d.join(F.broadcast(rates), "source").where(
        _sample_hash("doc_id") < F.floor(F.col("rate") * F.lit(float(_SPLIT_MOD)))
    )


def mixture_expand(
    documents: DataFrame, temperature: float = 0.7, budget_frac: float = 1.0
) -> DataFrame:
    """sm3 — the UPSAMPLING mixture form: materialize the per-copy doc
    stream where a source's rate may exceed 1 (the standard pretraining
    mix repeats small high-quality sources for several effective epochs
    while downsampling the crawl). Each doc yields
    ``floor(rate) + (hash-threshold on the fractional part)`` copies —
    deterministic per (doc_id, source), expected tokens per source =
    rate x src_tokens. Output: one row per copy ``(doc_id, source, copy,
    n_tokens)`` with ``copy`` in [0, n_copies); a loader feeds ``copy``
    into the epoch-shuffle seed so repeats land in different batches.

    Same plan family as sm2 (two aggregates + broadcast rates); the 1->N
    fan-out is a JVM-side sequence explode at the input's partitioning —
    no shuffle grows with the repeat factor.
    """
    d = documents.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    rates = _mixture_rates(d, temperature, budget_frac, cap=False)
    n_copies = (
        F.floor("rate")
        + (
            _sample_hash("doc_id")
            < F.floor((F.col("rate") - F.floor("rate")) * F.lit(float(_SPLIT_MOD)))
        ).cast("bigint")
    )
    j = d.join(F.broadcast(rates), "source").withColumn("n_copies", n_copies)
    return j.where(F.col("n_copies") > 0).select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_copies") - 1)).alias(
            "copy"
        ),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


_SM3_SQL = f"""
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents
),
t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens FROM d GROUP BY source),
tot AS (
  SELECT CAST(sum(src_tokens) AS DOUBLE) AS tot_toks,
         sum(pow(CAST(src_tokens AS DOUBLE), 0.7)) AS tot_pow
  FROM t
),
r AS (
  SELECT source,
         round(1.0 * tot_toks * pow(CAST(src_tokens AS DOUBLE), 0.7)
               / tot_pow / CAST(src_tokens AS DOUBLE), 6) AS rate
  FROM t CROSS JOIN tot
),
j AS (
  SELECT d.doc_id, d.source, d.n_tokens,
         CAST(floor(r.rate) AS BIGINT) +
         CASE WHEN ({_SAMPLE_HASH_SQL.format(col="doc_id")})
                   < floor((r.rate - floor(r.rate)) * 1000003.0)
              THEN 1 ELSE 0 END AS n_copies
  FROM d JOIN r USING (source)
)
SELECT doc_id, source,
       unnest(generate_series(0, n_copies - 1)) AS copy,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM j WHERE n_copies > 0
"""


def mixture_sample(
    documents: DataFrame, temperature: float = 0.7, budget_frac: float = 0.5
) -> DataFrame:
    """sm2 — deterministic temperature-weighted mixture sampling with TOKEN
    budgets: the data-mixing step between corpus prep and packing. Each
    source's token budget is proportional to ``T_s^temperature`` (T_s = the
    source's total tokens; temperature < 1 upweights small sources — the
    standard pretraining mix rule), scaled so the expected sampled total is
    ``budget_frac`` of the corpus; a doc is accepted iff its portable key
    hash clears the source's acceptance rate — rand()-free, so the sample
    is identical across engines, partitionings, and retries (sm1's
    fixed-count per-stratum form is the audit sibling; sm2 budgets TOKENS,
    which is what a training mix actually allocates).

    Acceptance is ``key_hash(doc_id) < floor(rate * MOD)`` with the rate
    rounded to 6 decimals BEFORE thresholding (repo rule 6: pow/div ulps
    must not flip a comparison; both engines then compare identical
    doubles). Rates cap at 1 (a source can't oversample itself —
    temperature upweighting saturates small sources instead).

    Plan shape: one hash aggregate for per-source token totals (map-side
    partials), a broadcast of the source-level rate table (sources are a
    handful), one narrow filter, one final aggregate — no extra shuffle
    beyond the two aggregates at any corpus size. Output per source:
    acceptance rate, sampled docs/tokens and the source's total tokens.
    """
    d = documents.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    accepted = _mixture_accept(d, temperature, budget_frac)
    # rate/src_tokens are functionally dependent on source — grouping by all
    # three (instead of first()-style picks) keeps the output provably
    # deterministic on both engines.
    return accepted.groupBy("source", "rate", "src_tokens").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tokens").cast("bigint")).alias("n_tokens"),
    )


_SM2_SQL = f"""
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents
),
t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens FROM d GROUP BY source),
tot AS (
  SELECT CAST(sum(src_tokens) AS DOUBLE) AS tot_toks,
         sum(pow(CAST(src_tokens AS DOUBLE), 0.7)) AS tot_pow
  FROM t
),
r AS (
  SELECT source, src_tokens,
         round(least(1.0,
           0.5 * tot_toks * pow(CAST(src_tokens AS DOUBLE), 0.7)
             / tot_pow / CAST(src_tokens AS DOUBLE)), 6) AS rate
  FROM t CROSS JOIN tot
),
a AS (
  SELECT d.source, r.rate, r.src_tokens, d.n_tokens
  FROM d JOIN r USING (source)
  WHERE ({_SAMPLE_HASH_SQL.format(col="doc_id")}) < floor(r.rate * 1000003.0)
)
SELECT source, rate, CAST(src_tokens AS BIGINT) AS src_tokens,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM a GROUP BY source, rate, src_tokens
"""


def equidepth_histogram(documents: DataFrame, buckets: int = 4) -> DataFrame:
    """nt1 — equi-depth histogram WITHOUT a global sort: exact percentile
    cutpoints + broadcast bucket assignment. ``percentile`` is a distributed
    value-count aggregate (partial/merge over distinct values — cheap for
    bounded-cardinality columns like doc length), and assignment is a
    narrow pass against the broadcast one-row cutpoint frame; the previous
    form (partition-less ``ntile`` window) serialized the corpus through a
    single reducer and is exactly the shape that dies at 100 TB.

    Tie semantics: equal lengths land in one bucket (cutpoint semantics)
    rather than being split arbitrarily (ntile semantics) — which is also
    what makes the result engine-portable (DuckDB ``quantile_cont`` twin).
    Cutpoints are rounded to 6 decimals before the comparison (repo rule:
    round float scores BEFORE thresholding) so an ulp of interpolation
    difference between percentile and quantile_cont can't flip a boundary
    row — with buckets=4 the quartile weights are exact in binary, but e.g.
    buckets=3 (1/3 weights) would not be.
    """
    ps = [i / buckets for i in range(1, buckets)]
    cuts = documents.agg(
        F.expr(f"percentile(n_chars, array({', '.join(map(str, ps))}))").alias("cuts")
    )
    bucket = F.lit(1)
    for i in range(len(ps)):
        bucket = bucket + (F.col("n_chars") > F.round(F.col("cuts")[i], 6)).cast("int")
    return (
        documents.select("doc_id", "n_chars")
        .crossJoin(F.broadcast(cuts))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("lo_chars"),
            F.max("n_chars").alias("hi_chars"),
        )
    )


# Shared default so the registered query and the oracle's quantile weight
# cannot drift apart (the LINE_DEDUP_MIN_COUNT rule); keep it binary-exact
# (0.5/0.25 family) per the interpolation-parity argument below.
QF1_KEEP_FRAC = 0.5


def quality_quantile_cutpoints(
    documents: DataFrame, keep_frac: float = QF1_KEEP_FRAC, by: str = "source"
) -> DataFrame:
    """Per-group score cutpoint at quantile ``1 - keep_frac`` of the
    3-decimal-QUANTIZED tx2 quality score. The quantization is the scale
    contract: ``percentile``'s aggregation state is O(distinct values), so
    a continuous per-doc score would grow the state with the corpus, while
    the 1e-3 grid caps it at ~2k values per group regardless of N (the
    same bounded-cardinality argument as nt1 over doc lengths).

    Engine parity: grid values are decimal multiples of 1e-3, so the
    0.5-weight interpolation lands on multiples of 5e-4 — exactly
    representable at the 6-decimal rounding applied to the cutpoint, which
    keeps Spark ``percentile`` and DuckDB ``quantile_cont`` agreeing (nt1's
    argument; prefer binary-exact ``keep_frac`` values like 0.5/0.25).
    """
    from samsa_spark.operators.text import quality_score_col

    scored = documents.select(
        by, F.round(quality_score_col(), 3).alias("qscore")
    )
    return scored.groupBy(by).agg(
        F.round(F.expr(f"percentile(qscore, {1.0 - keep_frac!r})"), 6).alias(
            "cutpoint"
        )
    )


def quality_quantile_filter(
    documents: DataFrame, keep_frac: float = QF1_KEEP_FRAC, by: str = "source"
) -> DataFrame:
    """Corpus-relative quality filtering (the FineWeb-style prep stage,
    Penedo et al. 2024 §3): keep the top ``keep_frac`` of each ``by`` group
    by tx2 quality score, with the threshold learned from the corpus itself
    rather than fixed a priori — absolute thresholds mis-fire when sources
    have different score baselines.

    Scale shape: the cutpoint frame is one bounded-state aggregate down to
    |groups| rows (see :func:`quality_quantile_cutpoints`), broadcast back;
    the filter itself is a scan-local comparison. No window function, no
    global sort — the naive per-source ``percent_rank`` window would
    serialize each source through one reducer (3 sources at 100 TB = 3
    reducers). Ties at the cutpoint are all kept (cutpoint semantics, like
    nt1), so the kept fraction is >= keep_frac, not exact.

    Input scans twice (score aggregate + filter); callers composing over an
    expensive upstream plan should localCheckpoint it first (CLAUDE.md
    note 12) — prep_pipeline applies this right after the cheap base
    filter, where the double scan is two parquet passes.
    """
    from samsa_spark.operators.text import quality_score_col

    cuts = F.broadcast(quality_quantile_cutpoints(documents, keep_frac, by))
    scored = documents.withColumn(
        "qscore", F.round(quality_score_col(), 3)
    )
    return scored.join(cuts, by).where(F.col("qscore") >= F.col("cutpoint"))


def quality_quantile_report(
    documents: DataFrame, keep_frac: float = QF1_KEEP_FRAC, by: str = "source"
) -> DataFrame:
    """qf1 — the registered aggregate form of
    :func:`quality_quantile_filter`: per group the learned cutpoint, total
    docs, kept docs, and a kept-id checksum. One pass over the scored
    corpus after the broadcast cutpoint join."""
    from samsa_spark.operators.text import quality_score_col

    cuts = F.broadcast(quality_quantile_cutpoints(documents, keep_frac, by))
    scored = documents.select(
        by, "doc_id", F.round(quality_score_col(), 3).alias("qscore")
    )
    kept = F.col("qscore") >= F.col("cutpoint")
    return (
        scored.join(cuts, by)
        .groupBy(by)
        .agg(
            F.min("cutpoint").alias("cutpoint"),
            F.count("*").alias("n_docs"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            # checksum mod-reduced: raw 64-bit doc_ids sum past 2^63 at
            # corpus scale and ANSI throws (note 2); the residue keeps the
            # same drift-detection power.
            F.sum(
                F.when(kept, F.col("doc_id") % _SPLIT_MOD).otherwise(0).cast("bigint")
            ).alias("kept_id_sum"),
        )
    )


def _qf1_sql(keep_frac: float = QF1_KEEP_FRAC) -> str:
    from samsa_spark.operators.text import QUALITY_SCORE_SQL, quality_base_sql

    return f"""
WITH b AS ({quality_base_sql("doc_id, source")}
), s AS (
  SELECT doc_id, source, round({QUALITY_SCORE_SQL}, 3) AS qscore FROM b
), c AS (
  SELECT source, round(quantile_cont(qscore, {1.0 - keep_frac!r}), 6) AS cutpoint
  FROM s GROUP BY source
)
SELECT s.source AS source, min(cutpoint) AS cutpoint, count(*) AS n_docs,
       CAST(sum(CASE WHEN qscore >= cutpoint THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN qscore >= cutpoint THEN doc_id % {_SPLIT_MOD} ELSE 0 END)
            AS BIGINT) AS kept_id_sum
FROM s JOIN c USING (source) GROUP BY s.source
"""


_SM1_SQL = f"""
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {_SAMPLE_HASH_SQL.format(col="doc_id")} ASC, doc_id ASC) AS rk
  FROM documents
)
SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM r WHERE rk <= 20 GROUP BY lang
"""

_NT1_SQL = """
WITH cuts AS (
  SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS c FROM documents
), t AS (
  SELECT doc_id, n_chars,
         1 + CAST(n_chars > round(c[1], 6) AS INTEGER)
           + CAST(n_chars > round(c[2], 6) AS INTEGER)
           + CAST(n_chars > round(c[3], 6) AS INTEGER) AS bucket
  FROM documents CROSS JOIN cuts
)
SELECT CAST(bucket AS INT) AS bucket, count(*) AS n_docs,
       min(n_chars) AS lo_chars, max(n_chars) AS hi_chars
FROM t GROUP BY bucket
"""
