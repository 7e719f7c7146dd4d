"""Text-analysis operators over the ``documents`` table (training-data
pipeline surface; extension X4 in SURVEY.md §2.4 — the reference has no
engine-level functions at all, SURVEY.md §2.3).

Everything here is pure ``pyspark.sql.functions`` column algebra — no Python
UDFs — so at 100 TB the whole pipeline stays inside whole-stage codegen: one
parquet scan, narrow per-row transforms, and (for the stats query) one hash
aggregate. Each query has an exact DuckDB oracle; the cross-engine contract
is spelled per function (regex dialect, split semantics, codepoint fns).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from samsa_spark import tables

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic. Order matters: tie-break precedence is list order.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los", "un"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "des", "une", "est"),
    "zh": ("的", "是", "了", "在", "有", "我", "不"),
}

# BPE-ish pre-tokenizer: runs of alphanumerics, or single non-space symbols.
# ASCII classes only — Java and RE2 agree on these; \w would drag in
# engine-specific unicode tables.
BPE_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

_STOP_EN = LANG_PROFILES["en"]


def _toks(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


def _stop_hits(toks: F.Column, words: tuple[str, ...]) -> F.Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def token_counts(documents: DataFrame) -> DataFrame:
    """tx1 — token counting: whitespace tokens + BPE-ish regex pre-tokens.

    Both engines split on a literal space (consecutive spaces yield empty
    tokens on both) and count regex matches with the same ASCII pattern.
    """
    return documents.select(
        "doc_id",
        F.size(_toks()).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_RE)).alias("n_re_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.octet_length("text").alias("n_bytes"),
    )


def quality_score_col() -> F.Column:
    """The tx2 composite quality score as a reusable column expression over
    a ``text`` column — qf1 (pipeline_ops) thresholds exactly this, so the
    two operators can never drift apart. Row-wise double arithmetic only;
    identical IEEE ops on both engines."""
    toks = _toks()
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    spaces = n_chars - F.length(F.regexp_replace("text", " ", ""))
    n_toks = F.size(toks)
    stop = _stop_hits(toks, _STOP_EN)
    alpha_ratio = alpha / n_chars
    stop_ratio = stop / n_toks
    mean_tok_len = (n_chars - spaces) / n_toks
    return (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.3) * stop_ratio
        + F.lit(0.3) * (F.lit(1.0) - F.abs(mean_tok_len - F.lit(5.0)) / F.lit(10.0))
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """tx2 — quality scoring: alpha ratio, whitespace ratio, stopword ratio,
    mean token length, composite score. All row-wise double arithmetic —
    identical IEEE ops on both engines, no rounding roulette.
    """
    toks = _toks()
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    spaces = n_chars - F.length(F.regexp_replace("text", " ", ""))
    n_toks = F.size(toks)
    stop = _stop_hits(toks, _STOP_EN)
    alpha_ratio = alpha / n_chars
    space_ratio = spaces / n_chars
    stop_ratio = stop / n_toks
    mean_tok_len = (n_chars - spaces) / n_toks
    score = quality_score_col()
    return documents.select(
        "doc_id",
        alpha_ratio.alias("alpha_ratio"),
        space_ratio.alias("space_ratio"),
        stop_ratio.alias("stop_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        score.alias("quality_score"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """tx3 — language identification by stopword-profile voting: score each
    language by exact stopword hits among the document's tokens; argmax with
    fixed precedence (en > es > de > fr > zh) for determinism.
    """
    toks = _toks()
    scores = {lang: _stop_hits(toks, words) for lang, words in LANG_PROFILES.items()}
    s = {lang: F.col(f"s_{lang}") for lang in LANG_PROFILES}
    langs = list(LANG_PROFILES)
    # CASE chain in profile order: first language whose score >= all later ones.
    expr = None
    for i, lang in enumerate(langs):
        later = langs[i + 1 :]
        cond = None
        for other in later:
            c = s[lang] >= s[other]
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        if cond is None:
            tail = branch
        elif expr is None:
            expr = F.when(cond, branch)
        else:
            expr = expr.when(cond, branch)
    pred_col = expr.otherwise(tail)
    return documents.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"s_{lang}") for lang in langs],
    ).select(
        "doc_id",
        "lang",
        *[f"s_{lang}" for lang in langs],
        pred_col.alias("pred_lang"),
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """tx4 — document fingerprinting: md5 of whitespace-normalized text plus a
    rolling polynomial hash folded over per-token codes (exact integer
    arithmetic — engine-portable, unlike murmur/xxhash which only Spark has).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = _toks()
    tok_code = F.transform(toks, lambda t: (F.length(t) * F.lit(31) + F.ascii(t)).cast("long"))
    rolling = F.aggregate(
        tok_code,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(131) + x) % F.lit(1000000007),
    )
    return documents.select(
        "doc_id",
        F.md5(norm).alias("md5_fp"),
        rolling.alias("rolling_fp"),
    )


def gopher_rules(
    documents: DataFrame,
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_dup_bigram_frac: float = 0.15,
    min_stop_hits: int = 1,
    min_alpha_word_frac: float = 0.8,
    max_symbol_word_ratio: float = 0.1,
    max_dup_line_frac: float = 0.3,
) -> DataFrame:
    """tx6 — Gopher-style quality rules (Rae et al. 2021 §A1.1, adapted to
    this corpus's scale): per-doc word count, mean word length, duplicate-
    bigram fraction and duplicate-line fraction (the repetition signals),
    stopword hits, alphabetic-word fraction, symbol-to-word ratio
    (hash/ellipsis), and a single pass/fail flag over the classic threshold
    battery. The industry-standard rule filter next to tx2's continuous
    score.

    All signals are exact column algebra (counts + 6-decimal-rounded ratios
    compared AFTER rounding on both engines — repo rule 6); the bigram and
    line lists keep multiplicity, so dup_frac = 1 - distinct/total. The
    corpus tables are single-line word salad (dup_line_frac 0, symbols 0 —
    the oracle still locks the expression parity); the discriminating paths
    are pytest-checked on planted multi-line/symbol docs (tests/
    test_text.py), the tx7 pattern.
    """
    toks = _toks()
    n_words = F.size(toks)
    n_chars = F.length("text")
    spaces = n_chars - F.length(F.regexp_replace("text", " ", ""))
    mwl = F.round((n_chars - spaces) / n_words, 6)
    idx = F.sequence(F.lit(1), n_words - 1)
    bigrams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1))
    )
    dup_frac = F.when(
        n_words >= 2,
        F.round(F.lit(1.0) - F.size(F.array_distinct(bigrams)) / (n_words - 1), 6),
    ).otherwise(F.lit(0.0))
    stop = _stop_hits(toks, _STOP_EN)
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))) / n_words, 6
    )
    symbols = F.regexp_count(F.col("text"), F.lit("#")) + F.regexp_count(
        F.col("text"), F.lit(r"\.\.\.")
    )
    sym_ratio = F.round(symbols / n_words, 6)
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    dup_lines = F.round(F.lit(1.0) - F.size(F.array_distinct(lines)) / n_lines, 6)
    scored = documents.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        dup_frac.alias("dup_bigram_frac"),
        stop.alias("stop_hits"),
        alpha_frac.alias("alpha_word_frac"),
        sym_ratio.alias("symbol_word_ratio"),
        dup_lines.alias("dup_line_frac"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("dup_bigram_frac") <= max_dup_bigram_frac)
        & (F.col("stop_hits") >= min_stop_hits)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("dup_line_frac") <= max_dup_line_frac)
    )
    return scored.withColumn("passes", passes)


# PII patterns (Dolma-style scrub stage: Soldaini et al. 2024 §4.1 runs
# exactly this email/phone/IP regex battery before training). ASCII classes
# and explicit quantifiers only — Java regex (Spark) and RE2 (DuckDB) agree
# on these; no \w/\p{...} which drag in engine-specific unicode tables.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """tx7 — PII scrubbing: count and redact emails / NANP-style phone
    numbers / IPv4 literals, the standard pre-training redaction battery.

    Counts come from ``regexp_count`` on the raw text; the scrubbed text
    applies the replacements in a fixed order (email, then phone, then IP —
    order matters because redaction tokens must not feed later patterns).
    Pure per-row regex column algebra: at 100 TB this is a narrow
    scan-transform with zero shuffles, and the counts aggregate (if any)
    is the caller's. The corpus tables are synthetic word-salad (zero
    matches — the oracle still locks regex-dialect parity on the no-match
    path); the match path is pytest-checked on a PII-injected corpus
    against the same DuckDB twin (tests/test_text.py).
    """
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), F.lit(EMAIL_RE), F.lit("[EMAIL]")),
            F.lit(PHONE_RE),
            F.lit("[PHONE]"),
        ),
        F.lit(IP_RE),
        F.lit("[IP]"),
    )
    n_emails = F.regexp_count(F.col("text"), F.lit(EMAIL_RE))
    n_phones = F.regexp_count(F.col("text"), F.lit(PHONE_RE))
    n_ips = F.regexp_count(F.col("text"), F.lit(IP_RE))
    return documents.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        scrubbed.alias("scrubbed"),
        ((n_emails + n_phones + n_ips) > 0).alias("had_pii"),
    )


TX8_MAX_RUN = 2


def collapse_runs(documents: DataFrame, max_run: int = TX8_MAX_RUN) -> DataFrame:
    """tx8 — within-doc repetition REWRITE: collapse every run of
    consecutive identical whitespace tokens to its first ``max_run``
    occurrences and rebuild the text ("ha ha ha ha" -> "ha ha") — the
    repetition-removal cleanup that complements tx6's Gopher repetition
    COUNTERS (which only flag) and dd11's corpus-level line rule
    (run-length noise is within-doc and needs no corpus pass). Returns
    ``(doc_id, n_tokens, n_removed, text_clean)``.

    Run identification is engine-portable window algebra: a null-safe
    token != lag(token) flag, its running sum as the run id, a row_number
    cap within each run, and an ordered string re-aggregation. All four
    windows partition BY DOC — at 100 TB this is embarrassingly parallel
    per doc-id hash, one shuffle on doc_id (the explode's natural key),
    no corpus-wide state. Empty-token runs (consecutive spaces) collapse
    under the same rule on both engines.
    """
    e = documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    run = F.sum(
        (~F.lag("tok").over(wd).eqNullSafe(F.col("tok"))).cast("int")
    ).over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    k = e.withColumn("run_id", run).withColumn(
        "rn", F.row_number().over(Window.partitionBy("doc_id", "run_id").orderBy("pos"))
    )
    kept = (
        k.where(F.col("rn") <= max_run)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("text_clean"),
        )
    )
    n_tokens = F.size(F.split("text", " "))
    return documents.select("doc_id", n_tokens.alias("n_tokens")).join(
        kept, "doc_id"
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.col("n_kept")).cast("bigint").alias("n_removed"),
        "text_clean",
    )


_TX8_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), e AS (
  SELECT doc_id, i AS pos, toks[i] AS tok
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t)
), f AS (
  SELECT doc_id, pos, tok,
         CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
              IS DISTINCT FROM tok THEN 1 ELSE 0 END AS is_new
  FROM e
), r AS (
  SELECT *, sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS run_id
  FROM f
), k AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, run_id ORDER BY pos) AS rn
  FROM r
), kept AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM k WHERE rn <= {TX8_MAX_RUN} GROUP BY doc_id
)
SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
       CAST(len(string_split(d.text, ' ')) - kept.n_kept AS BIGINT) AS n_removed,
       kept.text_clean
FROM documents d JOIN kept USING (doc_id)
"""


TX10_MAX_DIST = 2


def typo_pairs(documents: DataFrame, max_dist: int = TX10_MAX_DIST) -> DataFrame:
    """tx10 — vocabulary typo/OCR-noise pairs: every pair of distinct
    corpus words within Levenshtein distance ``max_dist`` (<= 2), with
    corpus counts — the signal behind typo normalization and OCR-noise
    audits (a rare word one edit from a frequent one is a misspelling
    candidate; the caller thresholds on the count ratio).

    Candidate generation is SymSpell's deletion-neighborhood blocking
    (Garbe): if ``ed(a, b) <= d`` then some string is reachable from BOTH
    by at most ``d`` character deletions (each edit op consumes at most
    one character of each side), so candidates are exactly the pairs
    whose depth-``d`` deletion neighborhoods intersect — an equi-join on
    the neighborhood key, never a vocab cross join. Survivors verify with
    the real ``levenshtein`` (both engines implement plain Levenshtein
    with identical values — checked kitten/sitting=3, ab/ba=2).

    Scale shape: everything runs at word-TYPE cardinality (the corpus
    collapses through one vocab aggregate, lm1's argument); the
    neighborhood fan-out is O(len^d) keys per type (≤ ~900 at d=2 for
    30-char words), the join key is a short string, and the verify is
    per-candidate-pair. The oracle is the algorithmically INDEPENDENT
    brute-force vocab self-join — stronger than a shared-shape twin.
    """
    if max_dist not in (1, 2):
        raise ValueError("typo_pairs supports max_dist 1 or 2")
    vocab = (
        documents.select(F.explode(_toks()).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # feeds keys + both verify sides
    )
    d1 = (
        "transform(sequence(1, length({x})), i -> "
        "concat(substring({x}, 1, i-1), substring({x}, i+1, length({x}))))"
    )
    nb = f"array(w) || {d1.format(x='w')}"
    if max_dist == 2:
        inner = d1.format(x="x")
        nb += (
            f" || flatten(transform({d1.format(x='w')}, x -> "
            f"if(length(x) = 0, array(), {inner})))"
        )
    keys = vocab.select("w", F.explode(F.expr(f"array_distinct({nb})")).alias("k"))
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.w") < F.col("b.w")))
        .select(F.col("a.w").alias("word_a"), F.col("b.w").alias("word_b"))
        .distinct()
    )
    dist = F.levenshtein("word_a", "word_b")
    ca = vocab.select(F.col("w").alias("word_a"), F.col("c").alias("count_a"))
    cb = vocab.select(F.col("w").alias("word_b"), F.col("c").alias("count_b"))
    return (
        cand.where(dist <= max_dist)
        .join(ca, "word_a")
        .join(cb, "word_b")
        .select(
            "word_a",
            "word_b",
            "count_a",
            "count_b",
            dist.cast("bigint").alias("dist"),
        )
    )


_TX10_SQL = f"""
WITH v AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w != '' GROUP BY w
)
SELECT a.w AS word_a, b.w AS word_b, a.c AS count_a, b.c AS count_b,
       CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
FROM v a JOIN v b ON a.w < b.w AND levenshtein(a.w, b.w) <= {TX10_MAX_DIST}
"""


def corpus_stats(documents: DataFrame) -> DataFrame:
    """tx5 — corpus statistics per (lang, source): doc counts, char totals,
    token totals, length extents. One hash aggregate over narrow projections.
    """
    toks_n = F.size(_toks())
    out = documents.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(toks_n.cast("bigint")).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    return out.withColumn("avg_chars", F.col("total_chars") / F.col("n_docs"))


def corpus_card(documents: DataFrame, rsd: float = 0.05, accuracy: int = 10_000) -> DataFrame:
    """cs1 — the SKETCH-based per-source data card: the 100 TB form of
    tx5/nt1. Exact distinct content counts need a full distinct shuffle and
    exact percentiles an O(distinct-values) aggregation state (CLAUDE.md
    note 24); at corpus scale both are replaced by mergeable constant-size
    sketches in ONE partial/merge hash aggregate, no second shuffle:

    - ``approx_distinct_contents``: HyperLogLog++ over the content sha
      (``approx_count_distinct``, relative error ``rsd``) — the dedup-rate
      estimate a crawl report shows before anyone pays for dd1.
    - ``p50/p90/p99_tokens``: Greenwald-Khanna quantile summaries
      (``percentile_approx``, 1/``accuracy`` rank error) over per-doc
      token counts — the sequence-length profile that sizes packing bins.
    - exact cheap aggregates beside them (n_docs, total_tokens).

    Sketches are algorithm-specific, so there is no DuckDB twin (its HLL
    and quantile sketches differ) — rows-only on the driver surface;
    pytest bounds the estimates against the exact values (tests/
    test_text.py), the dd3 pattern. Sketch merge is commutative, so the
    HLL estimate is repartition-invariant; GK summaries may vary ±rank
    error with partition layout — consumers must treat the percentiles as
    estimates, never join keys.
    """
    toks_n = F.size(_toks())
    pcts = F.percentile_approx(
        toks_n, F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(accuracy)
    )
    return (
        documents.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(toks_n.cast("bigint")).alias("total_tokens"),
            F.approx_count_distinct(F.sha2("text", 256), rsd).alias(
                "approx_distinct_contents"
            ),
            pcts.alias("_p"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "approx_distinct_contents",
            F.col("_p")[0].alias("p50_tokens"),
            F.col("_p")[1].alias("p90_tokens"),
            F.col("_p")[2].alias("p99_tokens"),
        )
    )


def classifier_score(documents: DataFrame, weights: DataFrame | None = None) -> DataFrame:
    """cls1 — MODEL-BASED quality scoring: the linear-classifier filter
    shape (fastText-style bag-of-words scorer — the FineWeb-Edu / DCLM
    "classifier filter" stage) as first-class plumbing. Each whitespace
    token contributes a weight; the document score is
    ``sigmoid(mean(weight))`` and ``keep`` thresholds it at 0.5. Pass a
    trained model as a ``(token, weight)`` DataFrame — one row per token
    (a duplicated token would duplicate matching rows and skew the mean);
    with ``weights=None``
    a DETERMINISTIC hash-derived stand-in model is used (weight = the
    token's 24-bit sha256 prefix scaled to ``[-1, 1)``) — the container
    ships no model artifacts (same stance as mm2's codec stub), but unlike
    a random stub the stand-in is exactly reproducible in any engine, so
    the full scoring plumbing sits in the exact-oracle gate.

    Scale shape: explode -> per-doc hash aggregate (algebraic, map-side
    partials) -> join back to keep token-less docs; the trained-weights
    path adds one broadcast join against the vocabulary (vocabularies are
    MBs — fastText quality models are ~1M buckets). Exactness: the
    stand-in path aggregates the 24-bit integer weights with an exact
    BIGINT sum (order-free; < 2^53 up to a million-token doc) and converts
    to double once per doc, so cross-engine parity holds to the last bit
    before the final documented round-to-6dp (CLAUDE.md note 6).
    """
    toks = documents.select(
        "doc_id", F.explode(_toks()).alias("tok")
    ).where(F.col("tok") != "")
    if weights is None:
        # 6 hex chars of sha256 -> [0, 2^24): portable (DuckDB
        # ('0x'||…)::BIGINT computes the identical integer).
        h = F.conv(F.substring(F.sha2("tok", 256), 1, 6), 16, 10).cast("bigint")
        agg = toks.groupBy("doc_id").agg(
            F.count("*").alias("n_scored_tokens"), F.sum(h).alias("_hsum")
        )
        mean_w = F.col("_hsum") / F.col("n_scored_tokens") / F.lit(float(1 << 23)) - 1
    else:
        w = toks.join(F.broadcast(weights), toks.tok == weights.token, "left").select(
            "doc_id", F.coalesce(weights.weight, F.lit(0.0)).alias("w")
        )
        agg = w.groupBy("doc_id").agg(
            F.count("*").alias("n_scored_tokens"), F.sum("w").alias("_wsum")
        )
        mean_w = F.col("_wsum") / F.col("n_scored_tokens")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean_w)), 6)
    return (
        documents.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_scored_tokens", F.lit(0)).alias("n_scored_tokens"),
            score.alias("clf_score"),
            F.coalesce(score >= 0.5, F.lit(False)).alias("keep"),
        )
    )


_CLS1_SQL = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_scored_tokens,
         CAST(sum(('0x' || substr(sha256(tok), 1, 6))::BIGINT) AS BIGINT)
           AS hsum
  FROM t WHERE tok <> '' GROUP BY doc_id
),
sc AS (
  SELECT doc_id, n_scored_tokens,
         round(1 / (1 + exp(-(hsum / n_scored_tokens / 8388608.0 - 1))), 6)
           AS clf_score
  FROM s
)
SELECT d.doc_id,
       coalesce(sc.n_scored_tokens, 0) AS n_scored_tokens,
       sc.clf_score,
       coalesce(sc.clf_score >= 0.5, false) AS keep
FROM documents d LEFT JOIN sc USING (doc_id)
"""


def train_classifier(
    documents: DataFrame,
    label_col: str = "label",
    n_features: int = 1024,
    iters: int = 40,
    lr: float = 50.0,
) -> DataFrame:
    """cls2 — IN-ENGINE training for cls1's linear quality classifier
    (the fastText/FineWeb-Edu stage's fit half; cls1 was apply-only with
    externally fitted weights). Full-batch logistic regression on hashed
    bag-of-words features, returned as the ``(token, weight)`` frame
    :func:`classifier_score` consumes directly — the model form IS cls1's
    scoring rule: with per-token weights w, cls1's ``mean(weight)`` equals
    ``w . x`` for x = token counts / doc length (x sums to 1), so the
    trained decision boundary transfers exactly.

    Algorithm: tokens hash into ``n_features`` buckets (32-bit sha256
    prefix mod n_features — cls1's portable-hash idiom); each training
    doc becomes a sparse (buckets, x) pair list built ONCE (one explode +
    two aggregates, then ``localCheckpoint`` so the per-iteration lineage
    is flat); every iteration is ONE Arrow-batched ``mapInPandas`` pass
    emitting sparse per-partition gradient partials (at most n_features
    rows each, vectorized ``np.add.at`` inside — corpus rows never reach
    the driver), reduced by a (bucket, value) hash aggregate exactly like
    rp2's moment reduction; the driver updates the n_features-float
    weight vector and re-broadcasts it as the next closure (sim5's
    bounded-driver-state exception class). Cost: ``iters`` jobs over the
    checkpointed feature frame — the BPE-loop shape, not a shuffle chain.

    Rows-only surface (like rp2): partial gradient sums are float adds
    across partitions, order-dependent in the last ulp, so there is no
    cross-engine hash; ground truth in pytest is an independently coded
    numpy trainer (identical math, different code — the note-27 stance),
    planted-label separation, and the cls1-consumes-cls2 composition.

    Docs with no tokens carry no gradient and are excluded; returned
    weights cover the training vocabulary (token -> its bucket's weight).
    The default ``lr`` looks large because features are L1-normalized
    (x sums to 1 per doc), which shrinks gradients by ~doc length —
    measured on the planted-label pytest corpus, lr=5 needs ~200
    iterations for separation where lr=50-100 needs ~40.
    """
    import numpy as np

    lab = F.col(label_col).cast("double").alias("_y")
    toks = documents.select("doc_id", lab, F.explode(_toks()).alias("tok")).where(
        F.col("tok") != ""
    )
    bucket = F.pmod(
        F.conv(F.substring(F.sha2("tok", 256), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_features),
    ).cast("int")
    bt = toks.select("doc_id", "_y", bucket.alias("b"))
    cnt = bt.groupBy("doc_id", "_y", "b").agg(F.count("*").alias("c"))
    tot = bt.groupBy("doc_id").agg(F.count("*").alias("n"))
    feat = (
        cnt.join(tot, "doc_id")
        .select("doc_id", "_y", "b", (F.col("c") / F.col("n")).alias("x"))
        .groupBy("doc_id", "_y")
        .agg(F.sort_array(F.collect_list(F.struct("b", "x"))).alias("p"))
        .select(
            "_y",
            F.transform("p", lambda s: s["b"]).alias("bs"),
            F.transform("p", lambda s: s["x"]).alias("xs"),
        )
        .localCheckpoint(eager=True)
    )
    stats = feat.agg(
        F.count("*").alias("nd"), F.sum(F.size("bs")).alias("np")
    ).collect()[0]
    n_docs = stats.nd
    if n_docs == 0:
        raise ValueError("train_classifier: no documents with tokens")

    w = np.zeros(n_features, dtype=np.float64)
    # Size-conditional driver loop (note 59 / the kmeans & CC precedent):
    # the distributed iteration pays a full mapInPandas job + hash agg +
    # collect PER ITERATION (~0.13 s x 40 = most of cls2's floor) while the
    # feature frame at gate scale is a few MB. At or below the posting cap,
    # collect the sparse features once and run the IDENTICAL gradient math
    # (same np.add.at accumulation; r15 parity check: cls2 weights and the
    # downstream cls3 grid byte-identical at all three scales). Above the
    # cap — posting count grows with the corpus — the per-iteration Spark
    # reduction below runs unchanged.
    if stats.np is not None and stats.np <= CLS2_DRIVER_MAX_POSTINGS:
        pdfs = tables.arrow_to_pandas(feat)
        lens = pdfs["bs"].map(len).to_numpy()
        keep = lens > 0
        bs = (
            np.concatenate(pdfs["bs"][keep].to_list()).astype(np.int64)
            if keep.any()
            else np.zeros(0, np.int64)
        )
        xs = np.concatenate(pdfs["xs"][keep].to_list()) if keep.any() else np.zeros(0)
        y = pdfs["_y"].to_numpy(np.float64)[keep]
        seg = np.repeat(np.arange(keep.sum()), lens[keep])
        for _ in range(iters):
            m = np.zeros(int(keep.sum()))
            np.add.at(m, seg, w[bs] * xs)
            r = 1.0 / (1.0 + np.exp(-m)) - y
            g = np.zeros(n_features, dtype=np.float64)
            np.add.at(g, bs, r[seg] * xs)
            w = w - lr * g / n_docs
        return _classifier_weight_frame(documents, w, n_features)
    for _ in range(iters):
        w_lit = w  # rebind per iteration: the closure must pickle THIS w

        def _grad(it, w_lit=w_lit, n_features=n_features):
            import numpy as _np
            import pandas as _pd

            g = _np.zeros(n_features, dtype=_np.float64)
            for pdf in it:
                if not len(pdf):
                    continue
                lens = pdf["bs"].map(len).to_numpy()
                keep = lens > 0
                if not keep.any():
                    continue
                bs = _np.concatenate(pdf["bs"][keep].to_list()).astype(_np.int64)
                xs = _np.concatenate(pdf["xs"][keep].to_list())
                y = pdf["_y"].to_numpy(_np.float64)[keep]
                seg = _np.repeat(_np.arange(keep.sum()), lens[keep])
                m = _np.zeros(keep.sum())
                _np.add.at(m, seg, w_lit[bs] * xs)
                r = 1.0 / (1.0 + _np.exp(-m)) - y
                _np.add.at(g, bs, r[seg] * xs)
            idx = _np.nonzero(g)[0]
            yield _pd.DataFrame({"i": idx.astype("int64"), "g": g[idx]})

        parts = feat.mapInPandas(_grad, schema="i long, g double")
        reduced = parts.groupBy("i").agg(F.sum("g").alias("g")).collect()
        grad = np.zeros(n_features, dtype=np.float64)
        for r in reduced:
            grad[r.i] = r.g
        w = w - lr * grad / n_docs
    return _classifier_weight_frame(documents, w, n_features)


# (b, x) posting pairs collected to the driver by train_classifier's fast
# path: 2M pairs ≈ 50 MB of Arrow columns — safe in the external driver's
# vanilla 1 GiB heap (note 48); posting count grows with the corpus, so a
# 100 TB training set stays on the per-iteration Spark reduction.
CLS2_DRIVER_MAX_POSTINGS = 2_000_000


def _classifier_weight_frame(documents: DataFrame, w, n_features: int) -> DataFrame:
    """(token, weight) frame from a trained weight vector — the shared tail
    of both train_classifier regimes."""
    vocab = (
        documents.select(F.explode(_toks()).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    vb = F.pmod(
        F.conv(F.substring(F.sha2("token", 256), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_features),
    ).cast("int")
    wdf = tables.local_rows(
        documents.sparkSession,
        [(i, float(v)) for i, v in enumerate(w)],
        "b int, weight double",
    )
    return (
        vocab.select("token", vb.alias("b"))
        .join(F.broadcast(wdf), "b")
        .select("token", "weight")
    )


CLS3_THRESHOLDS = (0.45, 0.475, 0.5, 0.525, 0.55)


def classifier_eval(
    documents: DataFrame,
    weights: DataFrame | None = None,
    thresholds: tuple[float, ...] = CLS3_THRESHOLDS,
) -> DataFrame:
    """cls3 — threshold-sweep evaluation of the model-based filter against
    the heuristic gate, closing the quality-classifier loop (cls2 trains,
    cls1 scores, cls3 GRADES): ``(threshold, tp, fp, fn, tn, prec, rec,
    f1, acc)`` per candidate keep-threshold. 'Truth' is the tx2 composite
    quality score at the qf1-family cut (rounded to 6 dp before the >=,
    note 6 discipline) — exactly the question a pipeline engineer asks
    before swapping the heuristic gate for a model: at which threshold
    does the classifier best reproduce the gate it replaces?

    Scale shape: one cls1 scoring pass + one row-wise label projection,
    joined once, then a |thresholds|-way in-row expansion feeding ONE
    combining aggregate (map-side partials; output rows = thresholds).
    Ratios are integer-count arithmetic in a fixed op order — f1 from the
    2tp/(2tp+fp+fn) single-expression form — each NULL-guarded against
    empty denominators (ANSI division throws, note 53)."""
    scored = classifier_score(documents, weights).select("doc_id", "clf_score")
    labeled = documents.select(
        "doc_id", (F.round(quality_score_col(), 6) >= F.lit(0.5)).alias("label")
    )
    ex = scored.join(labeled, "doc_id").select(
        "clf_score",
        "label",
        F.explode(F.array(*[F.lit(float(t)) for t in thresholds])).alias("threshold"),
    )
    pred = F.coalesce(F.col("clf_score") >= F.col("threshold"), F.lit(False))
    lab = F.col("label")

    def _n(cond: F.Column) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    agg = ex.groupBy("threshold").agg(
        _n(pred & lab).alias("tp"),
        _n(pred & ~lab).alias("fp"),
        _n(~pred & lab).alias("fn"),
        _n(~pred & ~lab).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(tp + fp > 0, F.round(tp.cast("double") / (tp + fp), 6)).alias("prec"),
        F.when(tp + fn > 0, F.round(tp.cast("double") / (tp + fn), 6)).alias("rec"),
        F.when(
            F.lit(2) * tp + fp + fn > 0,
            F.round(F.lit(2.0) * tp / (F.lit(2) * tp + fp + fn), 6),
        ).alias("f1"),
        F.round((tp + tn).cast("double") / (tp + fp + fn + tn), 6).alias("acc"),
    ).orderBy("threshold")


def _cls3_sql() -> str:
    values = ", ".join(f"({t!r})" for t in CLS3_THRESHOLDS)
    return f"""
WITH b AS ({quality_base_sql("doc_id")}
),
lab AS (
  SELECT doc_id, round({QUALITY_SCORE_SQL}, 6) >= 0.5 AS label FROM b
),
t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored_tokens,
         CAST(sum(('0x' || substr(sha256(tok), 1, 6))::BIGINT) AS BIGINT) AS hsum
  FROM t WHERE tok <> '' GROUP BY doc_id
),
sc AS (
  SELECT doc_id,
         round(1 / (1 + exp(-(hsum / n_scored_tokens / 8388608.0 - 1))), 6) AS clf_score
  FROM s
),
j AS (
  SELECT d.doc_id, sc.clf_score, lab.label
  FROM documents d LEFT JOIN sc USING (doc_id) JOIN lab USING (doc_id)
),
x AS (
  SELECT j.*, CAST(th.threshold AS DOUBLE) AS threshold,
         coalesce(j.clf_score >= th.threshold, false) AS pred
  FROM j CROSS JOIN (VALUES {values}) th(threshold)
),
c AS (
  SELECT threshold,
         CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM x GROUP BY threshold
)
SELECT threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
       CASE WHEN tp + fn > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS rec,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1,
       round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS acc
FROM c ORDER BY threshold
"""


def bpe_pair_counts(documents: DataFrame, top: int = 20) -> DataFrame:
    """tok1 — the tokenizer-TRAINING primitive: corpus-weighted adjacent
    character-pair counts, i.e. the statistic the first BPE merge
    iteration maximizes (Sennrich et al. 2016). Returns the ``top`` pairs
    as ``(left, right, pair_count)``, count-desc with a deterministic
    (left, right) tie-break.

    Scale shape — the part that matters at 100 TB: the ONLY
    corpus-cardinality work is the word-frequency aggregate (one explode +
    algebraic count). Pair extraction then runs over the word VOCABULARY
    (type-level, millions of rows at web scale, not trillions), weighted
    by the frequency — the standard BPE-training factorization. Pairs are
    lm2's slice-zip array algebra; the final top-k is
    TakeOrderedAndProject, no global sort.

    Within-word pairs only (no cross-word merges), matching BPE's
    word-boundary convention; multi-codepoint graphemes count per
    codepoint (both engines split identically by codepoint).
    """
    words = documents.select(F.explode(_toks()).alias("w")).where(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count("*").alias("freq"))
    chars = F.split("w", "")
    n = F.size(chars)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(chars, 1, n - 1).alias("l"), F.slice(chars, 2, n - 1).alias("r")
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        vocab.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "left", "right")
        .limit(top)
    )


_TOK1_SQL = """
WITH w AS (
  SELECT tok AS w, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok
), p AS (
  SELECT freq,
         unnest([{'l': cs[i], 'r': cs[i + 1]}
                 for i in generate_series(1, len(cs) - 1)],
                recursive := true)
  FROM (SELECT freq, string_split(w, '') AS cs FROM w)
)
SELECT l AS "left", r AS "right", CAST(sum(freq) AS BIGINT) AS pair_count
FROM p GROUP BY l, r
ORDER BY pair_count DESC, "left", "right" LIMIT 20
"""


def _merge_pairs_col(sym: str, pairs: list[tuple[str, str]]) -> F.Column:
    """Greedy left-to-right replacement of adjacent (left, right) symbols
    with their concatenation — one or more SYMBOL-DISJOINT BPE merges
    applied to a symbol array in a single pure ``aggregate`` fold (no
    Python). A merged token never re-merges within the same pass
    ("aaa" + (a,a) -> [aa, a]), matching the reference algorithm's
    non-overlapping scan; because the pairs share no symbol (and none
    consumes another's freshly created concat — the batch selector
    guarantees both), applying them in one fold equals applying each as
    its own full pass over the same input in the CHOSEN
    (count desc, left, right) order. Not "any order": the selector blocks
    only the symbol-consumes-concat direction, so an earlier pair's
    symbol may equal a later pair's concat — e.g. (ab,c) admitted before
    (a,b) — and the reverse sequential order would then merge
    freshly-created "ab" symbols with "c", diverging from the fold.
    ``pairs`` are per-iteration literals, so nothing row-level is
    re-evaluated inside the lambda (note 20)."""

    def step(acc, s):
        hit = None
        for left, right in pairs:
            cond = (acc.prev == F.lit(left)) & (s == F.lit(right))
            merged = F.struct(
                F.concat(acc.out, F.array(F.lit(left + right))).alias("out"),
                F.lit(None).cast("string").alias("prev"),
            )
            hit = F.when(cond, merged) if hit is None else hit.when(cond, merged)
        return hit.otherwise(
            F.when(
                acc.prev.isNull(), F.struct(acc.out.alias("out"), s.alias("prev"))
            ).otherwise(
                F.struct(
                    F.concat(acc.out, F.array(acc.prev)).alias("out"), s.alias("prev")
                )
            )
        )

    return F.aggregate(
        sym,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("prev"),
        ),
        step,
        lambda acc: F.when(acc.prev.isNull(), acc.out).otherwise(
            F.concat(acc.out, F.array(acc.prev))
        ),
    )


def _merge_pair_col(sym: str, left: str, right: str) -> F.Column:
    """Single-merge form of :func:`_merge_pairs_col` (kept for callers and
    tests that apply one merge at a time)."""
    return _merge_pairs_col(sym, [(left, right)])


def train_bpe_merges(
    documents: DataFrame, n_merges: int = 8, batch: int = 1
) -> DataFrame:
    """tok2 — learn the first ``n_merges`` BPE merges (Sennrich et al.
    2016), completing tok1's single-iteration statistic into the full
    training loop. Returns ``(merge_rank, left, right, pair_count)`` in
    learned order.

    Scale shape (the BPE-training factorization): the CORPUS is touched
    exactly once — one explode + word-frequency aggregate. Every
    iteration after that runs over the word VOCABULARY (type-level,
    millions of rows at web scale, not trillions of tokens): one
    slice-zip pair count weighted by frequency, one bounded top-k collect
    (a per-pass KB-scale scalar to the driver, the same documented
    exception class as sim5's centroid matrix), then the pass's merges
    applied as ONE vocabulary-wide column fold. The vocabulary is
    ``localCheckpoint``'d per pass (sim5's pattern) so lineage stays flat.

    ``batch`` is the driver-round-trip lever for realistic vocabularies:
    ``batch=1`` is EXACT sequential BPE (argmax, apply, recount — the
    pure-Python ground-truth trainer in pytest). ``batch=M`` is standard
    batched BPE: each pass takes the top merges from one count table,
    greedily in (count desc, left, right) order, keeping only pairs that
    are SYMBOL-DISJOINT from every pair already chosen this pass (no
    shared left/right, and neither symbol equals an already-chosen pair's
    concat — interacting pairs wait for the next pass, where the recount
    sees the merged symbols). Driver-coordinated jobs then scale as
    ~n_merges/M instead of n_merges — a 30k-merge production run drops
    from ~60k sequential jobs to ~2k×(2) at M=16 (measured in
    scripts/scale_sweep.py). The learned table can differ from strict
    sequential order only where a merge would have created a pair hotter
    than the batch's next pick — the documented batched-BPE trade.

    Deterministic at any ``batch``: selection tie-breaks on (count desc,
    left, right), and the merge fold is order-independent across rows —
    repartitioning cannot change the learned sequence (pytest-locked).
    Rows-only on the driver surface: the loop is iterative (DuckDB's
    recursive CTEs cannot re-aggregate per step); ground truth is an
    independent pure-Python trainer in pytest (sequential and batched).
    """
    spark = documents.sparkSession
    words = documents.select(F.explode(_toks()).alias("w")).where(F.col("w") != "")
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select("freq", F.split("w", "").alias("sym"))
        .localCheckpoint()
    )
    n = F.size("sym")
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice("sym", 1, n - 1).alias("l"), F.slice("sym", 2, n - 1).alias("r")
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        # Over-fetch so the disjointness filter can still fill the batch on
        # clustered count tables; leftovers just wait for the next pass.
        top = (
            vocab.select("freq", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(4 * want + 8)
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        new_syms: set[str] = set()
        chosen: list[tuple[str, str, int]] = []
        for row in top:
            if len(chosen) == want:
                break
            if {row.l, row.r} & (used | new_syms):
                continue
            used.update((row.l, row.r))
            new_syms.add(row.l + row.r)
            chosen.append((row.l, row.r, int(row.c)))
        for left, right, c in chosen:
            merges.append((len(merges), left, right, c))
        vocab = vocab.withColumn(
            "sym", _merge_pairs_col("sym", [(left, right) for left, right, _ in chosen])
        ).localCheckpoint()
    return tables.local_rows(
        spark, merges, "merge_rank int, left string, right string, pair_count bigint"
    )


def apply_bpe(documents: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Encode documents with a learned merge list (:func:`train_bpe_merges`
    order): per word, start from characters and apply each merge greedily
    left-to-right in rank order — the reference BPE encoder. Returns
    ``(doc_id, tokens, n_tokens)``.

    Scale shape: one narrow Arrow-batched pandas-UDF projection (the
    tokenizer-apply step is inherently per-document Python/library work —
    the same stance as mm2's decode); the merge list is a closure
    constant, and a per-batch word cache collapses repeated types, so the
    cost is ~O(distinct words per batch x merges). No shuffle, no join.
    The UDF is a closure (note 4)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    merge_list = [(str(a), str(b)) for a, b in merges]

    def _encode_fn(texts):
        cache: dict[str, list[str]] = {}

        def enc_word(w):
            got = cache.get(w)
            if got is None:
                sym = list(w)
                for a, b in merge_list:
                    out, prev = [], None
                    for s in sym:
                        if prev == a and s == b:
                            out.append(a + b)
                            prev = None
                        else:
                            if prev is not None:
                                out.append(prev)
                            prev = s
                    if prev is not None:
                        out.append(prev)
                    sym = out
                got = cache[w] = sym
            return got

        return texts.map(
            lambda t: [s for w in t.split(" ") if w for s in enc_word(w)],
            na_action="ignore",
        )

    _encode = pandas_udf(ArrayType(StringType()))(_encode_fn)
    return documents.select(
        "doc_id", _encode(F.col("text")).alias("tokens")
    ).withColumn("n_tokens", F.size("tokens"))


def _ngram_frame(documents: DataFrame, n: int) -> DataFrame:
    """One-column frame of all word ``n``-grams (space-joined, empty tokens
    dropped) — the slice/arrays_zip algebra of tok1/lm2, no lambdas, so
    the whole projection stays in codegen. Shared by hh1 and hh2."""
    toks = F.filter(_toks(), lambda t: t != "")
    m = F.size(toks)
    slices = [F.slice(toks, i + 1, m - (n - 1)).alias(f"t{i}") for i in range(n)]
    empty = F.array().cast(
        "array<struct<" + ",".join(f"t{i}:string" for i in range(n)) + ">>"
    )
    zipped = F.when(m >= n, F.arrays_zip(*slices)).otherwise(empty)
    return documents.select(F.explode(zipped).alias("g")).select(
        F.concat_ws(" ", *[F.col(f"g.t{i}") for i in range(n)]).alias("gram")
    )


# shared by the hh1 default and its oracle SQL so the twin cannot drift:
# heavy = count * _HH1_SUPPORT_DENOM >= total grams (support 1/5000,
# integer-exact on both engines)
_HH1_SUPPORT_DENOM = 5000


def heavy_ngrams(
    documents: DataFrame,
    n: int = 3,
    min_count: int | None = None,
    support_denom: int = _HH1_SUPPORT_DENOM,
    max_candidates: int | None = None,
    max_tracked: int = 1 << 16,
    sketch: bool = True,
) -> DataFrame:
    """hh1 — EXACT heavy hitters over the n-gram keyspace: every word
    ``n``-gram whose corpus-wide count clears the SUPPORT threshold
    ``count * support_denom >= total_grams`` (i.e. frequency ≥
    1/support_denom of the corpus — integer arithmetic, so both engines
    agree bit-for-bit), with its exact count. The
    boilerplate/contamination detector that runs where the keyspace
    (distinct n-grams — billions at web scale) dwarfs any vocabulary.
    Pass ``min_count`` for an ABSOLUTE threshold instead (diagnostics on
    a known corpus size); the support form is the default because an
    absolute cutoff silently changes meaning as the corpus grows — the
    defect the sf0.1 deep check caught: 26k grams cleared min_count=5
    and overflowed any candidate cap.

    Plan: two passes, neither of which shuffles the gram space.
    Pass 1 builds a DataSketches frequent-items sketch (``approx_top_k``,
    one mergeable aggregate — partials combine map-side, KB-scale state)
    plus the total gram count, and explodes the top candidates into a
    broadcast frame. Pass 2 rescans, semi-joins grams against the
    broadcast candidates, and takes EXACT counts; the support threshold
    is applied to those. The only shuffle is over candidate rows.

    Why this is structurally exact (support form): (a) coverage — the
    DataSketches frequent-items sketch has no false negatives above its
    error bound ~3.5N/max_tracked (~N/18.7k at the 2^16 default), and
    support N/support_denom exceeds it whenever ``max_tracked >
    3.5 * support_denom`` (~3.7x margin at the defaults); (b) no
    truncation — ``approx_top_k`` ranks by ESTIMATE, so the candidate
    list must hold every item whose estimate can reach a qualifying
    gram's: such items have true frequency ≥ 1/support_denom −
    3.5/max_tracked, and by pigeonhole at most the reciprocal of that
    (~6.8k at the defaults) exist. ``max_candidates`` defaults to
    ``2 * support_denom``, which covers that bound whenever
    ``max_tracked ≥ 7 * support_denom`` (defaults: 13.1x) — candidates
    are broadcast-cheap KB-scale rows, so the headroom is free. With an
    absolute ``min_count`` neither bound is automatic:
    size ``max_candidates``/``max_tracked`` yourself and treat a result
    of exactly max_candidates rows as possible truncation. Threshold
    (tie-inclusive), not top-k: the sketch's internal tie order at a k
    boundary is unspecified; membership here cannot depend on it.

    WHEN to use which plan (measured — PLANS.md heavy sweep):
    ``sketch=False`` runs the plain partial-agg group-by (identical
    output), and at ≤ ~300k distinct grams it wins 4-6x — map-side
    partials already collapse the heavy keys and the distinct-tail
    shuffle is cheap, while a saturated frequent-items sketch pays
    purge churn per update. The sketch path is for the regime Spark
    can't shuffle/spill comfortably: billions of distinct grams
    (bounded per-partition memory, candidate-bounded shuffle) — and for
    incremental accumulation, where hh2's mergeable partials have no
    group-by equivalent. The same crossover logic as salting
    (CLAUDE.md note 18): don't pay the clever plan below its regime.
    """
    grams = _ngram_frame(documents, n)
    if min_count is not None:
        thresh = F.col("n_occurrences") >= min_count
    else:
        thresh = F.col("n_occurrences") * support_denom >= F.col("total_grams")
    if max_candidates is None:
        # 2x the pigeonhole count of possibly-qualifying grams: items that
        # can out-rank a qualifying gram in the ESTIMATE order have true
        # frequency >= 1/denom - 3.5/max_tracked, at most ~1/(1/denom -
        # 3.5/max_tracked) of them exist, and 2*denom covers that whenever
        # max_tracked >= 7*denom (defaults: 13.1x). See docstring.
        max_candidates = 2 * support_denom
    if not sketch:
        counts = grams.groupBy("gram").agg(F.count("*").alias("n_occurrences"))
        total = counts.agg(F.sum("n_occurrences").alias("total_grams"))
        return (
            counts.crossJoin(F.broadcast(total))
            .where(thresh)
            .select("gram", "n_occurrences")
            .orderBy(F.col("n_occurrences").desc(), "gram")
        )
    pass1 = grams.agg(
        F.expr(f"approx_top_k(gram, {max_candidates}, {max_tracked})").alias("tk"),
        F.count("*").alias("total_grams"),
    )
    cand = pass1.select(F.explode("tk").alias("c"), "total_grams").select(
        F.col("c.item").alias("gram"), "total_grams"
    )
    return (
        grams.join(F.broadcast(cand), "gram")
        .groupBy("gram", "total_grams")
        .agg(F.count("*").alias("n_occurrences"))
        .where(thresh)
        .select("gram", "n_occurrences")
        .orderBy(F.col("n_occurrences").desc(), "gram")
    )


_HH1_SQL = """
WITH t AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
), g AS (
  SELECT unnest([toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
                 for i in generate_series(1, len(toks) - 2)]) AS gram
  FROM t
), tot AS (SELECT count(*) AS total_grams FROM g)
SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
FROM g, tot GROUP BY gram, total_grams
HAVING count(*) * {denom} >= total_grams
ORDER BY n_occurrences DESC, gram
""".format(denom=_HH1_SUPPORT_DENOM)


def topk_sketch_partial(
    documents: DataFrame, n: int = 3, max_tracked: int = 1 << 16
) -> DataFrame:
    """Accumulate half of hh2: one row holding a DataSketches
    frequent-items sketch state (``approx_top_k_accumulate``) over this
    batch's n-grams — the heavy-hitter sibling of cs2's HLL partials. At
    100 TB the point is the same: yesterday's sketches persist as KB-scale
    parquet and today's batch adds one aggregate over its own grams;
    :func:`merge_topk_sketches` answers for the union corpus without
    re-reading either."""
    return _ngram_frame(documents, n).agg(
        F.expr(f"approx_top_k_accumulate(gram, {max_tracked})").alias("topk_sketch")
    )


def merge_topk_sketches(
    *parts: DataFrame, k: int = 20, max_tracked: int = 1 << 16
) -> DataFrame:
    """hh2 — combine any number of :func:`topk_sketch_partial` states
    (``approx_top_k_combine`` — sketch merge, one tiny aggregate over
    |batches| rows) and estimate the union corpus's top ``k`` n-grams.
    While ``max_tracked`` exceeds the distinct-gram count the sketch never
    evicts, so merged counts are EXACT and equal a single-pass sketch over
    the union (pytest locks both); past that the standard frequent-items
    bounds apply (count error ≤ ~N/max_tracked, no false negatives above
    it). Rows-only on the driver surface: the boundary tie order at rank k
    is sketch-internal, not SQL-reproducible."""
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.agg(F.expr(f"approx_top_k_combine(topk_sketch, {max_tracked})").alias("s"))
        .select(F.explode(F.expr(f"approx_top_k_estimate(s, {k})")).alias("e"))
        .select(F.col("e.item").alias("gram"), F.col("e.count").alias("est_count"))
    )


# KLL sketch size: rank error ~1.65/sqrt(k) (~1.1% at 200). Small enough
# to ride the partial-card rows, large enough that gate-scale corpora
# (n < k per source) are stored EXACTLY (no compaction).
_KLL_K = 200


def corpus_card_partial(documents: DataFrame) -> DataFrame:
    """Per-source PARTIAL data card whose distinct-content state is an
    explicit Apache DataSketches HLL column (``hll_sketch_agg`` binary):
    the mergeable half of cs2. At 100 TB the point is INCREMENTAL stats —
    yesterday's cards persist as small parquet (one row per source, a
    KB-scale sketch each) and today's batch produces its own partial;
    :func:`merge_corpus_cards` combines them without re-reading a byte of
    either corpus. cs1 answers "what does this corpus look like" in one
    pass; cs2 answers it for a GROWING corpus with daily batches.
    """
    toks_n = F.size(_toks())
    return documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(toks_n.cast("bigint")).alias("total_tokens"),
        F.hll_sketch_agg(F.sha2("text", 256)).alias("content_sketch"),
        # DataSketches KLL over per-doc token counts: the mergeable
        # quantile state GK (cs1) lacks — merged cards carry length
        # percentiles of the UNION corpus.
        F.expr(f"kll_sketch_agg_bigint(CAST(size(split(text, ' ')) AS BIGINT), {_KLL_K})").alias(
            "tokens_sketch"
        ),
    )


def merge_corpus_cards(*cards: DataFrame) -> DataFrame:
    """cs2 — merge any number of partial cards (:func:`corpus_card_partial`)
    into the card of the UNION corpus: counts add, HLL sketches union
    (``hll_union_agg`` — set union is exact on the sketch, so the merged
    estimate EQUALS the estimate a single pass over the union would give;
    pytest locks that equality) and KLL token-count sketches merge into
    union-corpus length percentiles (rank error ~1.65/sqrt(k); exact
    while per-source n < k, estimate-bounded past that — KLL compaction
    is randomized, so quantiles get BOUND tests, never equality). One
    tiny aggregate over |sources| x |batches| rows — never touches the
    corpora.
    """
    u = cards[0]
    for c in cards[1:]:
        u = u.unionByName(c)
    return (
        u.groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tokens").alias("total_tokens"),
            F.hll_union_agg("content_sketch").alias("content_sketch"),
            F.expr("kll_merge_agg_bigint(tokens_sketch)").alias("tokens_sketch"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.hll_sketch_estimate("content_sketch").alias("approx_distinct_contents"),
            F.expr("kll_sketch_get_quantile_bigint(tokens_sketch, 0.5)").alias(
                "approx_p50_tokens"
            ),
            F.expr("kll_sketch_get_quantile_bigint(tokens_sketch, 0.95)").alias(
                "approx_p95_tokens"
            ),
        )
    )


def corpus_overlap(documents: DataFrame) -> DataFrame:
    """cs3 — pairwise estimated distinct-content overlap between sources
    via DataSketches THETA sketches: for every source pair, the estimated
    distinct contents in common, in each side only, in the union, and the
    Jaccard — WITHOUT any cross-corpus join. The pre-dedup diagnostic at
    100 TB: "how much does crawl A overlap crawl B" answered from one
    scan before committing to exact dedup (dd10/dc1 are the exact forms
    this triages for).

    Plan: one hash aggregate builds a KB-scale theta sketch per source
    (mergeable, partials combine map-side); the pair algebra
    (``theta_intersection``/``theta_union``/``theta_difference``) runs on
    the |sources|-row frame — the crossJoin is against a BROADCAST
    source-cardinality frame (the repo's tiny-frame crossJoin class),
    never corpus rows. Theta sketches are deterministic (k minimum
    hashes), so results are repartition-invariant and EXACT below the
    sketch's nominal entries (pytest locks exact parity there); past it,
    standard theta relative-error bounds apply. Rows-only on the driver
    surface (sketch internals have no DuckDB twin)."""
    sk = documents.groupBy("source").agg(
        F.expr("theta_sketch_agg(sha2(text, 256))").alias("th")
    )
    x, y = sk.alias("x"), sk.alias("y")
    inter = F.expr("theta_sketch_estimate(theta_intersection(x.th, y.th))")
    uni = F.expr("theta_sketch_estimate(theta_union(x.th, y.th))")
    return (
        x.crossJoin(F.broadcast(y))
        .where(F.col("x.source") < F.col("y.source"))
        .select(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
            F.round(inter, 1).alias("est_common"),
            F.round(
                F.expr("theta_sketch_estimate(theta_difference(x.th, y.th))"), 1
            ).alias("est_a_only"),
            F.round(
                F.expr("theta_sketch_estimate(theta_difference(y.th, x.th))"), 1
            ).alias("est_b_only"),
            F.round(uni, 1).alias("est_union"),
            F.round(inter / uni, 6).alias("est_jaccard"),
        )
    )


def compression_signals(documents: DataFrame, level: int = 6) -> DataFrame:
    """tx9 — zlib compression ratio per document: the classic cheap
    repetition/boilerplate signal (highly repetitive or templated text
    compresses far below ~0.4x; near-random text stays near 1.0x) used as
    a quality gate alongside the Gopher rules (tx6 measures bigram/line
    repetition structurally; the ratio catches long-range repetition those
    miss).

    Scale shape: one narrow Arrow-batched pandas-UDF projection — no
    shuffle, no join; zlib runs in C per batch. The UDF is a CLOSURE
    (CLAUDE.md note 4) and the level is pinned so the ratio is
    deterministic. zlib output bytes are implementation-defined across
    zlib builds in principle, which is why this is rows-only on the driver
    surface (no DuckDB zlib); pytest checks EXACT parity with Python's
    zlib on the same container (tests/test_text.py) plus the
    planted-boilerplate discrimination the signal exists for.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    def _zlen_fn(texts):
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level)),
            na_action="ignore",
        )

    _zlen = pandas_udf(LongType())(_zlen_fn)

    raw_len = F.length(F.encode("text", "utf-8"))
    return documents.select(
        "doc_id",
        raw_len.alias("raw_bytes"),
        _zlen(F.col("text")).alias("zlib_bytes"),
    ).withColumn(
        "compression_ratio",
        F.when(
            F.col("raw_bytes") > 0,
            F.round(F.col("zlib_bytes") / F.col("raw_bytes"), 6),
        ).otherwise(F.lit(None).cast("double")),
    )


# BM25 constants (Robertson & Zaragoza 2009, "The Probabilistic Relevance
# Framework: BM25 and Beyond"). k1+1 and 1-b are pre-folded so the Spark
# expression and the DuckDB twin share one literal arithmetic sequence.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    documents: DataFrame,
    probe_max_id: int = 20,
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """bm1 — BM25 full-text retrieval: each probe document's distinct
    tokens act as a keyword query against the rest of the corpus; returns
    the top-``k`` corpus docs per query as ``(q_id, doc_id, score, rank)``.
    The retrieval primitive a curation pipeline runs for retrieval-based
    decontamination, targeted data selection, and eval-neighbor audits.

    Scoring is textbook Okapi BM25 with the Lucene non-negative idf:
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, term weight
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``, each distinct
    query term counted once. Per-term contributions round to 6 dp and sum
    as DECIMAL(22,6) (repo rule 6) so shuffle-order float summation and
    libm-vs-Java ``ln`` ulps cannot flip a rank; ties break on doc_id.

    Scale shape: the corpus is touched once to build the posting list
    (tf per (doc_id, term) — one hash aggregate over the exploded token
    stream); doc lengths and document frequencies are second-order
    aggregates OF that posting list, never a re-scan. Query terms are a
    probe-set-bounded frame: they broadcast into the vocabulary join (df)
    and the resulting per-(q_id, term) idf table — thousands of rows —
    broadcasts into the posting-list join, so the corpus side moves only
    matching (doc_id, term, tf) rows and the only wide exchanges are the
    per-doc score aggregate and the per-query top-k window. No cartesian
    anywhere; corpus text is pruned after tokenization. At true web scale
    the broadcast degrades to a shuffle equi-join on the term (lm1's
    argument) with cost one posting-list shuffle.
    """
    corpus = documents.where(F.col("doc_id") >= probe_max_id)
    probes = documents.where(F.col("doc_id") < probe_max_id)
    idx = build_text_index(corpus)
    return _bm25_score(
        idx["postings"], idx["doclens"], idx["docfreq"],
        _query_terms(probes), k=k, k1=k1, b=b,
    )


def build_text_index(corpus: DataFrame) -> dict[str, DataFrame]:
    """Build bm1's retrieval index as three frames — ``postings``
    ``(doc_id, tok, tf)``, ``doclens`` ``(doc_id, dl)``, ``docfreq``
    ``(tok, df)`` — the persistable artifacts of the build-once/query-many
    regime (:func:`save_text_index` / :func:`bm25_query`). dl/df derive
    from the posting list (sum/count of tf rows), never a corpus re-scan;
    the 1-row corpus stats scalar is recomputed per query from doclens (a
    doc-cardinality skinny aggregate) so the index stays APPEND-ONLY."""
    toks = corpus.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    postings = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    doclens = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    docfreq = postings.groupBy("tok").agg(F.count("*").alias("df"))
    return {"postings": postings, "doclens": doclens, "docfreq": docfreq}


def _query_terms(probes: DataFrame) -> DataFrame:
    return probes.select(
        F.col("doc_id").alias("q_id"),
        F.explode(F.split("text", " ")).alias("tok"),
    ).distinct()


def _bm25_score(
    postings: DataFrame,
    doclens: DataFrame,
    docfreq: DataFrame,
    qt: DataFrame,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """The shared BM25 scoring tail: identical arithmetic whether the index
    frames were just built (bm1) or loaded from a prebuilt on-disk index
    (bm2) — equivalence is structural, so bm2 runs under bm1's oracle (the
    dc2/dc1 shared-oracle pattern)."""
    stats = doclens.agg(
        F.sum("dl").cast("double").alias("sdl"), F.count("*").alias("nd")
    )
    qidf = (
        docfreq.join(F.broadcast(qt), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "q_id",
            "tok",
            F.log(
                F.lit(1.0)
                + (F.col("nd") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
            "sdl",
            "nd",
        )
    )
    kk1 = float(k1)
    contrib = F.round(
        F.col("idf")
        * (F.col("tf") * F.lit(kk1 + 1.0))
        / (
            F.col("tf")
            + F.lit(kk1)
            * (F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl") * F.col("nd") / F.col("sdl"))
        ),
        6,
    )
    scored = (
        postings.join(F.broadcast(qidf), "tok")
        .join(doclens, "doc_id")
        .groupBy("q_id", "doc_id")
        .agg(F.sum(contrib.cast("decimal(22,6)")).cast("double").alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "doc_id", "score", "rank")
    )


def bm25_query(
    index: dict[str, DataFrame],
    probes: DataFrame,
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    pushdown: bool = False,
) -> DataFrame:
    """bm2 — BM25 over a PREBUILT text index: same output contract and
    bit-identical arithmetic as :func:`bm25_topk` (row-for-row equal,
    pytest-locked), but the corpus-touching stages — posting list, doc
    lengths, document frequencies — come from ``index``
    (:func:`build_text_index` frames or :func:`load_text_index`'s on-disk
    reads) instead of being rebuilt per call. The build-once/query-many
    regime a production retrieval store actually runs (the PLANS.md ivfpq
    argument, text side): per query the engine touches matching posting
    rows + the skinny doclens frame, never the corpus text.

    ``docfreq`` may hold per-append PARTIALS (``append_text_index`` is
    append-only); they are summed per token before the idf join — exact
    integer merge, so appended == rebuilt-on-union (pytest-locked).

    ``pushdown=True`` collects the probe set's distinct terms (a
    probe-bounded driver list, the centroid-collect argument) and pushes
    ``tok IN (...)`` into the postings/docfreq parquet scans —
    row-group-skippable because :func:`save_text_index` writes postings
    range-partitioned and sorted by ``tok``. Identical output: the scoring
    join discards non-query tokens anyway; only scan volume changes.
    """
    postings, doclens, docfreq = (
        index["postings"], index["doclens"], index["docfreq"],
    )
    qt = _query_terms(probes)
    if pushdown:
        terms = [r[0] for r in qt.select("tok").distinct().collect()]
        postings = postings.where(F.col("tok").isin(terms))
        docfreq = docfreq.where(F.col("tok").isin(terms))
    docfreq = docfreq.groupBy("tok").agg(F.sum("df").cast("bigint").alias("df"))
    return _bm25_score(postings, doclens, docfreq, qt, k=k, k1=k1, b=b)


def save_text_index(corpus: DataFrame, path: str) -> None:
    """Materialize :func:`build_text_index`'s frames under ``path`` —
    postings range-partitioned + sorted by ``tok`` so each parquet row
    group covers a token range and ``bm25_query(pushdown=True)`` skips
    row groups by min/max stats; doclens/docfreq as-is (skinny,
    doc-/vocab-cardinality)."""
    idx = build_text_index(corpus)
    (
        idx["postings"]
        .repartitionByRange(F.col("tok"))
        .sortWithinPartitions("tok")
        .write.mode("overwrite")
        .parquet(f"{path}/postings")
    )
    idx["doclens"].write.mode("overwrite").parquet(f"{path}/doclens")
    idx["docfreq"].write.mode("overwrite").parquet(f"{path}/docfreq")


def load_text_index(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Open a :func:`save_text_index`/:func:`append_text_index` index for
    :func:`bm25_query`. docfreq is returned raw (possibly per-append
    partials); the query merges it."""
    return {
        name: spark.read.parquet(f"{path}/{name}")
        for name in ("postings", "doclens", "docfreq")
    }


def append_text_index(
    spark: SparkSession, path: str, new_docs: DataFrame
) -> dict[str, DataFrame]:
    """Incrementally index a NEW batch of documents (disjoint doc_ids —
    same contract as shard append): appends the batch's postings/doclens
    rows and its docfreq PARTIAL. Append-only by design — no table is
    rewritten, so there is no stale-overwrite hazard and day-N cost is the
    batch's own aggregates (the appended batch's postings are not
    tok-sorted; re-run :func:`save_text_index` on the union corpus to
    restore full pushdown locality when appended mass dominates).
    refreshByPath after the appends: the session FileStatusCache otherwise
    serves the pre-append file list to the next read (CLAUDE.md note 28).
    Returns the reopened index."""
    idx = build_text_index(new_docs)
    idx["postings"].write.mode("append").parquet(f"{path}/postings")
    idx["doclens"].write.mode("append").parquet(f"{path}/doclens")
    idx["docfreq"].write.mode("append").parquet(f"{path}/docfreq")
    for name in ("postings", "doclens", "docfreq"):
        spark.catalog.refreshByPath(f"{path}/{name}")
    return load_text_index(spark, path)


# The twin mirrors the Spark stages 1:1 — posting list, dl/df as aggregates
# of it, Lucene idf, the identical literal arithmetic sequence (constants
# pre-folded the same way), 6-dp-rounded contributions summed as
# DECIMAL(22,6). avgdl enters as dl*nd/sdl with sdl already DOUBLE, so both
# engines run the same float ops left-to-right.
_BM1_SQL = """
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
scored AS (
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
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT q_id, doc_id, score, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
"""


# PMI support threshold, RELATIVE (CLAUDE.md note 29: absolute count
# floors silently change meaning as the corpus grows): a bigram is a
# candidate iff c2 * PMI_SUPPORT_DENOM >= B (integer-exact on both
# engines). Pigeonhole bounds the candidate set at PMI_SUPPORT_DENOM
# pairs no matter how large the corpus is.
PMI_SUPPORT_DENOM = 20_000


def pmi_collocations(
    documents: DataFrame, k: int = 20, support_denom: int = PMI_SUPPORT_DENOM
) -> DataFrame:
    """pmi1 — collocation mining by pointwise mutual information (Church &
    Hanks 1990): the corpus's top-``k`` adjacent word pairs by
    ``PMI = ln( P(w1,w2) / (P(w1) P(w2)) )``, restricted to pairs whose
    count clears the RELATIVE support floor ``c2 * support_denom >= B``.
    The phrase-discovery pass a tokenizer/vocab pipeline runs to decide
    which multi-word units deserve fusing, and a light-weight corpus-drift
    probe (top collocations shifting = domain mix shifting).

    Determinism/parity: PMI is computed as divisions-first double algebra
    (``(c2/B) / ((c1/T) * (c1'/T))`` — no integer product that could
    overflow under ANSI at corpus scale), rounded to 6 dp BEFORE ranking
    (repo rule 6), ties broken on (w1, w2).

    Scale shape: bigram/unigram counts are algebraic hash aggregates with
    map-side partials (type-level cardinality crosses the shuffle, not the
    corpus); the support filter runs BEFORE the unigram joins, so only the
    pigeonhole-bounded candidate set (<= support_denom rows) joins back to
    the vocab and the global rank window sorts a bounded frame — the same
    sketch-free variant of hh1's candidate argument.
    """
    toks_arr = F.split("text", " ")
    n = F.size(toks_arr)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks_arr, 1, n - 1).alias("w1"),
            F.slice(toks_arr, 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = documents.select(F.explode(pairs).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    tok = documents.select(F.explode(toks_arr).alias("w"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    totb = bg.agg(F.count("*").alias("b"))
    c1 = tok.groupBy("w").agg(F.count("*").alias("c"))
    tott = tok.agg(F.count("*").alias("t"))
    cand = c2.crossJoin(F.broadcast(totb)).where(
        F.col("c2") * F.lit(support_denom) >= F.col("b")
    )
    scored = (
        cand.join(c1.select(F.col("w").alias("w1"), F.col("c").alias("cw1")), "w1")
        .join(c1.select(F.col("w").alias("w2"), F.col("c").alias("cw2")), "w2")
        .crossJoin(F.broadcast(tott))
        .select(
            "w1",
            "w2",
            F.col("c2").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c2") / F.col("b"))
                    / ((F.col("cw1") / F.col("t")) * (F.col("cw2") / F.col("t")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("w1", "w2", "pair_count", "pmi", "rank")
    )


_PMI1_SQL = f"""
WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents),
bg AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM toks WHERE len(ws) >= 2)
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
totb AS (SELECT count(*) AS b FROM bg),
tok AS (SELECT unnest(ws) AS w FROM toks),
c1 AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
tott AS (SELECT count(*) AS t FROM tok),
cand AS (
  SELECT c2.w1, c2.w2, c2.c2, b FROM c2 CROSS JOIN totb
  WHERE c2.c2 * {PMI_SUPPORT_DENOM} >= b
),
scored AS (
  SELECT cand.w1, cand.w2, cand.c2 AS pair_count,
         round(ln((cand.c2 / b) / ((u1.c / t) * (u2.c / t))), 6) AS pmi
  FROM cand
  JOIN c1 u1 ON u1.w = cand.w1
  JOIN c1 u2 ON u2.w = cand.w2
  CROSS JOIN tott
),
r AS (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
  FROM scored
)
SELECT w1, w2, pair_count, pmi, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 20
"""


PSI_BINS = 10


def quality_drift(documents: DataFrame, bins: int = PSI_BINS) -> DataFrame:
    """psi1 — per-source distribution drift by Population Stability Index
    over the tx2 quality score: each source's score histogram compared to
    the REST of the corpus, ``PSI = Σ_b (p_s - p_r) ln(p_s / p_r)`` with
    Laplace-smoothed bin probabilities (``(c+1)/(n+bins)`` — defined even
    for empty bins). The drift tripwire a multi-source pipeline runs per
    ingest: PSI < 0.1 is conventionally stable, > 0.25 a shifted
    distribution worth a look — and unlike cs3's sketch OVERLAP (shared
    content), PSI flags a source whose content is all-new but whose
    QUALITY PROFILE silently changed. Returns ``(source, n_docs, psi)``.

    Determinism/parity: the score is rounded to 3 dp before binning and
    the bin is the same clamped ``floor(qs * bins)`` double expression on
    both engines (identical IEEE ops, so even boundary values bin the
    same way); each PSI term rounds to 6 dp and sums as DECIMAL (order
    free). Scale shape: ONE corpus pass to (source, bin) counts —
    algebraic, map-side partials — then everything downstream (global bin
    counts, the sources x bins grid, the PSI fold) is source x bins
    cardinality, vanishing next to the corpus; the 1-row total broadcasts.
    """
    qs = F.round(quality_score_col(), 3)
    b = (
        F.least(F.greatest(F.floor(qs * bins), F.lit(0)), F.lit(bins - 1))
        .cast("int")
        .alias("bin")
    )
    d = documents.select("source", b)
    sb = d.groupBy("source", "bin").agg(F.count("*").alias("c"))
    gb = sb.groupBy("bin").agg(F.sum("c").alias("g"))
    ns = sb.groupBy("source").agg(F.sum("c").alias("n"))
    tot = ns.agg(F.sum("n").alias("t"))
    grid = (
        ns.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n",
            "t",
            F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"),
        )
    )
    j = grid.join(sb, ["source", "bin"], "left").join(
        F.broadcast(gb), "bin", "left"
    )
    sc = F.coalesce(F.col("c"), F.lit(0))
    gc = F.coalesce(F.col("g"), F.lit(0))
    ps = (sc + F.lit(1.0)) / (F.col("n") + F.lit(bins))
    pr = (gc - sc + F.lit(1.0)) / (F.col("t") - F.col("n") + F.lit(bins))
    term = F.round((ps - pr) * F.log(ps / pr), 6).cast("decimal(22,6)")
    return (
        j.select("source", "n", term.alias("term"))
        .groupBy("source", "n")
        .agg(F.sum("term").cast("double").alias("psi"))
        .select("source", F.col("n").alias("n_docs"), "psi")
    )


def _psi1_sql() -> str:
    from samsa_spark.operators.text import QUALITY_SCORE_SQL, quality_base_sql

    return f"""
WITH b AS ({quality_base_sql("source")}
),
d AS (
  SELECT source,
         CAST(least(greatest(floor(round({QUALITY_SCORE_SQL}, 3) * 10), 0), 9) AS INT) AS bin
  FROM b
),
sb AS (SELECT source, bin, count(*) AS c FROM d GROUP BY source, bin),
gb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS g FROM sb GROUP BY bin),
ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sb GROUP BY source),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM ns),
grid AS (
  SELECT source, n, t, unnest(generate_series(0, 9)) AS bin
  FROM ns CROSS JOIN tot
),
j AS (
  SELECT grid.source, grid.n, grid.t, grid.bin,
         coalesce(sb.c, 0) AS sc, coalesce(gb.g, 0) AS gc
  FROM grid
  LEFT JOIN sb ON sb.source = grid.source AND sb.bin = grid.bin
  LEFT JOIN gb ON gb.bin = grid.bin
),
terms AS (
  SELECT source, n,
         CAST(round(((sc + 1.0) / (n + 10) - (gc - sc + 1.0) / (t - n + 10))
              * ln(((sc + 1.0) / (n + 10)) / ((gc - sc + 1.0) / (t - n + 10))), 6)
           AS DECIMAL(22,6)) AS term
  FROM j
)
SELECT source, n AS n_docs, CAST(sum(term) AS DOUBLE) AS psi
FROM terms GROUP BY source, n
"""


def train_unigram_pieces(
    documents: DataFrame,
    max_piece_len: int = 6,
    iterations: int = 2,
    top_n: int = 50,
    floor_num: int = 1,
    floor_den: int = 2,
) -> DataFrame:
    """uni1 — unigram-LM tokenizer training (Kudo 2018 — the SentencePiece
    default, the tokenizer family Llama/T5 ship), simplified to the core
    EM loop: candidate pieces are all word substrings up to
    ``max_piece_len`` chars above a MEAN-relative occurrence floor — keep
    iff ``floor_den * cnt * n_candidates >= floor_num * total occurrences``
    (cnt >= (num/den) x the average candidate count, integer-exact). The
    floor is mean-relative, not fraction-of-total: the substring UNIVERSE
    grows with the corpus (the note-51 degeneracy class — a fixed
    fraction-of-total floor silently prunes every multi-char piece as the
    corpus widens, the exact failure fp1's basket floor had), while the
    over-the-mean band keeps a stable quantile of pieces at every scale
    (single chars always kept for coverage); each iteration Viterbi-
    segments every vocabulary word under the current piece log-probs and
    recounts pieces from the best segmentations (hard-EM). Returns the
    ``top_n`` surviving pieces as ``(piece, piece_count, logprob)``.

    Scale shape (tok2's factorization): the corpus is touched once — one
    explode + word-frequency aggregate; candidate generation and every EM
    pass run over the word VOCABULARY (type-level). The piece table is
    the bounded model artifact (chars + above-floor substrings — the same
    driver-sized class as BPE merge tables and k-means centroids); it
    rides each segmentation pass as a closure over an Arrow-batched
    mapInPandas (defined in-closure per note 4). Deterministic: Viterbi
    ties prefer the longest final piece (smallest split point, scanned
    ascending with strict improvement), and only used pieces survive a
    pass, so every word stays segmentable by construction. Rows-only on
    the driver surface (iterative EM); ground truth is an independent
    pure-Python trainer in pytest plus the mass-conservation invariant
    (sum piece_count x len(piece) == total corpus chars).
    """
    import math

    spark = documents.sparkSession
    words = (
        documents.select(F.explode(_toks()).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint(eager=True)
    )
    subs = F.expr(
        f"flatten(transform(sequence(1, length(w)), i -> "
        f"transform(sequence(i, least(length(w), i + {int(max_piece_len)} - 1)), j -> "
        f"substring(w, i, j - i + 1))))"
    )
    cand = (
        words.select("freq", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    stats = cand.agg(
        F.sum("cnt").cast("bigint").alias("t"), F.count("*").alias("n")
    ).collect()[0]
    tot, n_cand = int(stats.t), int(stats.n)
    kept = cand.where(
        (F.length("piece") == 1)
        | (F.col("cnt") * F.lit(floor_den) * F.lit(n_cand) >= F.lit(floor_num) * F.lit(tot))
    ).collect()
    total = sum(r.cnt for r in kept)
    logp = {r.piece: math.log(r.cnt / total) for r in kept}
    counts = {r.piece: int(r.cnt) for r in kept}

    for _ in range(iterations):
        pieces = dict(logp)
        lmax = max(len(p) for p in pieces)

        def seg_fn(batches):
            import pandas as pd

            def viterbi(w):
                n = len(w)
                dp = [0.0] + [float("-inf")] * n
                back = [0] * (n + 1)
                for i in range(1, n + 1):
                    for j in range(max(0, i - lmax), i):
                        if dp[j] == float("-inf"):
                            continue
                        lp = pieces.get(w[j:i])
                        if lp is None:
                            continue
                        s = dp[j] + lp
                        if s > dp[i]:
                            dp[i], back[i] = s, j
                out, i = [], n
                while i > 0:
                    out.append(w[back[i]:i])
                    i = back[i]
                return out[::-1]

            for pdf in batches:
                ps, wt = [], []
                for w, fr in zip(pdf["w"], pdf["freq"]):
                    for p in viterbi(w):
                        ps.append(p)
                        wt.append(int(fr))
                yield pd.DataFrame({"piece": ps, "wt": wt})

        used = (
            words.mapInPandas(seg_fn, "piece string, wt long")
            .groupBy("piece")
            .agg(F.sum("wt").cast("bigint").alias("cnt"))
            .collect()
        )
        total = sum(r.cnt for r in used)
        logp = {r.piece: math.log(r.cnt / total) for r in used}
        counts = {r.piece: int(r.cnt) for r in used}

    out = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
    return tables.local_rows(
        spark,
        [(p, c, round(logp[p], 6)) for p, c in out],
        "piece string, piece_count bigint, logprob double",
    )


# --- registry wiring -------------------------------------------------------


def _bm2_query(spark: SparkSession, sf: str) -> DataFrame:
    docs = tables.load(spark, sf, "documents")
    idx = build_text_index(docs.where(F.col("doc_id") >= 20))
    return bm25_query(idx, docs.where(F.col("doc_id") < 20), k=5)


def build_queries():
    def q(fn):
        def run(spark: SparkSession, sf: str) -> DataFrame:
            return fn(tables.load(spark, sf, "documents"))

        return run

    return {
        "tx1_token_counts": (q(token_counts), _TX1_SQL),
        "tx2_quality_scores": (q(quality_scores), _TX2_SQL),
        "tx3_lang_id": (q(lang_id), _TX3_SQL),
        "tx4_fingerprints": (q(fingerprints), _TX4_SQL),
        "tx5_corpus_stats": (q(corpus_stats), _TX5_SQL),
        "tx6_gopher_rules": (q(gopher_rules), _TX6_SQL),
        "tx7_pii_scrub": (q(pii_scrub), _TX7_SQL),
        "tx8_collapse_runs": (q(collapse_runs), _TX8_SQL),
        "tx10_typo_pairs": (q(typo_pairs), _TX10_SQL),
        "cls1_classifier_score": (q(classifier_score), _CLS1_SQL),
        "cls3_classifier_eval": (q(classifier_eval), _cls3_sql()),
        "tok1_bpe_pair_counts": (q(bpe_pair_counts), _TOK1_SQL),
        "hh1_heavy_ngrams": (q(heavy_ngrams), _HH1_SQL),
        "bm1_bm25_topk": (q(bm25_topk), _BM1_SQL),
        # bm2 = bm1 through the prebuilt-index split (build_text_index ->
        # bm25_query): bit-identical arithmetic, so it shares _BM1_SQL (the
        # dc2/dc1 shared-oracle pattern); the disk round-trip, append-merge,
        # and pushdown forms are pytest-locked row-for-row against bm1.
        "bm2_bm25_prebuilt": (_bm2_query, _BM1_SQL),
        "pmi1_collocations": (q(pmi_collocations), _PMI1_SQL),
        "psi1_quality_drift": (q(quality_drift), _psi1_sql()),
        # sketch-based: HLL++/GK internals have no DuckDB twin -> rows-only,
        # rank 2, outside the hash window like dd3; pytest bounds the
        # estimates against exact values (tests/test_text.py).
        "cs1_corpus_card": (q(corpus_card), None),
        # zlib-backed: no DuckDB compression function -> rows-only; pytest
        # checks exact parity with Python zlib + planted-doc discrimination.
        "tx9_compression_signals": (q(compression_signals), None),
        # DataSketches HLL internals have no DuckDB twin -> rows-only;
        # pytest locks merge(halves) == whole-corpus card exactly plus the
        # estimate bound vs exact distincts (tests/test_text.py).
        "cs2_mergeable_card": (_cs2_query, None),
        # frequent-items sketch boundary tie order is sketch-internal ->
        # rows-only; pytest locks merge(halves) == single-pass sketch ==
        # exact counts while max_tracked exceeds the distinct-gram count
        # (tests/test_text.py), plus a planted-skew eviction test.
        "hh2_mergeable_topk": (_hh2_query, None),
        # iterative (argmax + re-aggregate per step) -> no DuckDB twin;
        # ground truth is an independent pure-Python BPE trainer in pytest
        # plus determinism-under-repartition and tok1-first-merge checks.
        "tok2_bpe_train": (q(train_bpe_merges), None),
        "uni1_unigram_tokenizer": (q(train_unigram_pieces), None),
        # theta-sketch set algebra has no DuckDB twin -> rows-only; pytest
        # locks exact parity below nominal entries (planted overlapping
        # sources) and repartition-invariance.
        "cs3_corpus_overlap": (q(corpus_overlap), None),
        # iterative gradient fit with float-order-dependent partial sums
        # (rp2's reason) -> rows-only; ground truth is an independent
        # numpy trainer + planted-label separation + the
        # cls1-consumes-cls2-weights composition (tests/test_text.py).
        # The registered form fits an English-vs-rest model on the lang
        # column (the fixture's only honest binary label).
        "cls2_train_classifier": (_cls2_query, None),
        # the full tokenizer lifecycle: train merges in-engine (tok2),
        # then encode the SAME corpus with them (apply_bpe) — the
        # train->tokenize loop a data pipeline actually runs before
        # packing (pk1's n_tokens would come from here in production).
        # Iterative trainer + closure-UDF encoder -> rows-only; ground
        # truth is the pure-Python trainer+encoder composition in pytest
        # (tests/test_text.py::test_tok3_*).
        "tok3_bpe_encode": (_tok3_query, None),
    }


def _tok3_query(spark: SparkSession, sf: str) -> DataFrame:
    """tok3 — train-then-encode composition over the gate corpus: tok2's
    batched trainer learns 8 merges, apply_bpe encodes every document with
    them; output is the per-doc BPE token count (the statistic packing and
    budget stages consume). The merge list is a bounded driver artifact by
    construction (n_merges rows — tok2's documented collect exception);
    the encode pass is one Arrow-batched projection, no shuffle."""
    docs = tables.load(spark, sf, "documents", spread=True)
    merges = train_bpe_merges(docs, n_merges=8, batch=4)
    ml = [(r.left, r.right) for r in merges.orderBy("merge_rank").collect()]
    return apply_bpe(docs, ml).select("doc_id", "n_tokens")


def _cls2_query(spark: SparkSession, sf: str) -> DataFrame:
    docs = tables.load(spark, sf, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    return train_classifier(docs, iters=15)


def _hh2_query(spark: SparkSession, sf: str) -> DataFrame:
    """The registered hh2 form: accumulate a frequent-items sketch per
    corpus half, combine, estimate — the incremental path the operator
    exists for (a single-batch call would reduce to hh1's pass 1)."""
    docs = tables.load(spark, sf, "documents")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    return merge_topk_sketches(
        topk_sketch_partial(half_a), topk_sketch_partial(half_b)
    )


def _cs2_query(spark: SparkSession, sf: str) -> DataFrame:
    """The registered cs2 form: split the corpus into two batches, build a
    partial card per batch, merge — exercising the incremental path the
    operator exists for (a single-batch call would reduce to cs1)."""
    docs = tables.load(spark, sf, "documents")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    return merge_corpus_cards(corpus_card_partial(half_a), corpus_card_partial(half_b))


_TX1_SQL = rf"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_RE}')) AS n_re_tokens,
       length(text) AS n_chars_computed,
       strlen(text) AS n_bytes
FROM documents
"""

_STOP_EN_SQL = "(" + ", ".join(f"'{w}'" for w in _STOP_EN) + ")"

# Shared DuckDB fragments for the tx2 score — qf1's oracle (pipeline_ops)
# reuses these so the SQL twin can't drift from the Spark expression either.
def quality_base_sql(cols: str = "doc_id") -> str:
    """The per-doc component CTE body (n_chars/alpha/spaces/n_toks/stop)
    with the caller's passthrough columns."""
    return f"""
  SELECT {cols},
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(text) - length(regexp_replace(text, ' ', '', 'g')) AS spaces,
         len(string_split(text, ' ')) AS n_toks,
         len(list_filter(string_split(text, ' '), t -> t IN {_STOP_EN_SQL})) AS stop
  FROM documents"""


QUALITY_SCORE_SQL = (
    "0.4 * (alpha / n_chars) + 0.3 * (stop / n_toks)"
    " + 0.3 * (1.0 - abs((n_chars - spaces) / n_toks - 5.0) / 10.0)"
)

_TX2_SQL = f"""
WITH b AS ({quality_base_sql()}
)
SELECT doc_id,
       alpha / n_chars AS alpha_ratio,
       spaces / n_chars AS space_ratio,
       stop / n_toks AS stop_ratio,
       (n_chars - spaces) / n_toks AS mean_tok_len,
       {QUALITY_SCORE_SQL} AS quality_score
FROM b
"""


def _lang_sql() -> str:
    scores = []
    for lang, words in LANG_PROFILES.items():
        inlist = "(" + ", ".join(f"'{w}'" for w in words) + ")"
        scores.append(f"len(list_filter(string_split(text, ' '), t -> t IN {inlist})) AS s_{lang}")
    langs = list(LANG_PROFILES)
    branches = []
    for i, lang in enumerate(langs[:-1]):
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in langs[i + 1 :])
        branches.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"
    return f"""
WITH s AS (SELECT doc_id, lang, {", ".join(scores)} FROM documents)
SELECT doc_id, lang, {", ".join(f"s_{lang}" for lang in langs)}, {case} AS pred_lang
FROM s
"""


_TX3_SQL = _lang_sql()

_TX4_SQL = r"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
         string_split(text, ' ') AS toks
  FROM documents
)
SELECT doc_id,
       md5(norm) AS md5_fp,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(toks, t -> CAST(length(t) * 31 + ascii(t) AS BIGINT))),
         (acc, x) -> (acc * 131 + x) % 1000000007) AS rolling_fp
FROM n
"""

_TX5_SQL = """
WITH a AS (
  SELECT lang, source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         min(n_chars) AS min_chars, max(n_chars) AS max_chars
  FROM documents GROUP BY lang, source
)
SELECT *, total_chars / n_docs AS avg_chars FROM a
"""

_TX6_SQL = f"""
WITH b AS (
  SELECT doc_id,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, ' ', '', 'g')) AS spaces,
         len(list_filter(string_split(text, ' '), t -> t IN {_STOP_EN_SQL})) AS stop,
         string_split(text, chr(10)) AS lines,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols
  FROM documents
), g AS (
  SELECT doc_id, n_words,
         round((n_chars - spaces) / n_words, 6) AS mean_word_len,
         CASE WHEN n_words >= 2 THEN
           round(1.0 - len(list_distinct([toks[i] || ' ' || toks[i+1]
                                          for i in generate_series(1, n_words - 1)]))
                       / (n_words - 1), 6)
         ELSE 0.0 END AS dup_bigram_frac,
         stop AS stop_hits,
         round(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
               / n_words, 6) AS alpha_word_frac,
         round(symbols / n_words, 6) AS symbol_word_ratio,
         round(1.0 - len(list_distinct(lines)) / len(lines), 6) AS dup_line_frac
  FROM b
)
SELECT doc_id, n_words, mean_word_len, dup_bigram_frac, stop_hits,
       alpha_word_frac, symbol_word_ratio, dup_line_frac,
       (n_words BETWEEN 30 AND 100000)
         AND (mean_word_len BETWEEN 3.0 AND 10.0)
         AND (dup_bigram_frac <= 0.15)
         AND (stop_hits >= 1)
         AND (alpha_word_frac >= 0.8)
         AND (symbol_word_ratio <= 0.1)
         AND (dup_line_frac <= 0.3) AS passes
FROM g
"""

_TX7_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
       len(regexp_extract_all(text, '{IP_RE}')) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'),
           '{PHONE_RE}', '[PHONE]', 'g'),
         '{IP_RE}', '[IP]', 'g') AS scrubbed,
       (len(regexp_extract_all(text, '{EMAIL_RE}'))
        + len(regexp_extract_all(text, '{PHONE_RE}'))
        + len(regexp_extract_all(text, '{IP_RE}'))) > 0 AS had_pii
FROM documents
"""
