"""Record linkage / entity resolution (er1): blocked fuzzy matching over a
catalog's name column, connected components at NAME-TYPE cardinality, and
a golden-record rollup per resolved entity.

The reference engine stores rows under opaque keys (samsa/db/rocksdb.py —
one key, one value; no notion of two keys naming the same real-world
thing); entity resolution is the operator a catalog/state-store user
reaches for the moment two feeds disagree on spelling. This is the
classic three-stage linkage pipeline (Fellegi–Sunter blocking/compare/
cluster, re-expressed Spark-first):

1. **Collapse to name types.** All matching runs on ``DISTINCT`` name
   strings, never on rows (lm1/tx10's type-cardinality argument): a
   100 TB catalog has billions of rows but orders of magnitude fewer
   distinct names, and the rollup joins the resolved map back in one
   equi-join.
2. **Token blocking.** Candidate pairs share at least one whitespace
   token (an equi-join on the token key — never a name cross join);
   survivors verify with the real ``levenshtein`` (both engines
   implement plain Levenshtein with identical values — the tx10
   parity check). Blocking IS the spec: a pair differing in every
   token is definitionally a different entity here, and the oracle
   mirrors the same blocking so both engines decide identically.
3. **Cluster + golden record.** Matched name pairs form a graph;
   :func:`samsa_spark.operators.dedup.propagate_min_labels` (the dd6/sd1
   core) resolves connected components by iterative min-label
   propagation at name-type cardinality, and the canonical entity name
   (smallest member, lexicographic — identical collation on ASCII in
   both engines) keys a hash-aggregate rollup: row count, variant
   count, brand/type spread, price extents.

Scale shape: the only per-row work is one equi-join against the resolved
name map (name-type cardinality; AQE broadcasts it while small — never
forced, note 55) and one combining hash aggregate. The match join, the
verify, and the label loop all run at name-type cardinality; per-block
pair counts are bounded by block token frequency (report skew via the
token histogram before raising ``max_dist``). The exact DuckDB twin uses
the dd6 recursive-CTE closure over the same blocked edge set.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from samsa_spark import tables
from samsa_spark.operators.dedup import propagate_min_labels
from samsa_spark.session import scoped_conf

# Shared default so the registered query and the oracle cannot drift
# (the LINE_DEDUP_MIN_COUNT rule). Edit distance 2 is the SymSpell-family
# default (tx10) — one typo plus one pluralization.
ER1_MAX_DIST = 2
# Label-propagation safety bound: convergence needs component-diameter
# iterations; fuzzy-name clusters are shallow (a chain needs every hop
# within edit distance 2 while still sharing a token). The loop exits on
# convergence — this only caps a pathological corpus.
ER1_MAX_ITER = 25


def _name_tokens(names: DataFrame) -> DataFrame:
    """(p_name, tok) — the token-blocking key explode, shared by the
    within-corpus self-match and the batch-vs-map match."""
    return names.select(
        "p_name", F.explode(F.split("p_name", " ")).alias("tok")
    ).where(F.col("tok") != "")


def _name_labels(names: DataFrame, max_dist: int) -> DataFrame:
    """(p_name, entity_name) — token-blocked fuzzy match graph over a
    distinct-name frame, resolved to connected components. The shared core
    of er1 (whole-corpus resolution) and er2 (the within-batch stage).

    The names frame feeds the token explode (both join sides) and the node
    list — at name-type cardinality a recompute is cheap, so no checkpoint
    here; propagate_min_labels checkpoints its own loop state."""
    spark = names.sparkSession
    toks = _name_tokens(names)
    a, b = toks.alias("a"), toks.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.p_name") < F.col("b.p_name")))
        .select(F.col("a.p_name").alias("src"), F.col("b.p_name").alias("dst"))
        .distinct()
    )
    edges = cand.where(F.levenshtein("src", "dst") <= max_dist)
    # The propagation loop EXECUTES here (convergence count per iteration):
    # pin shuffle partitions so tiny name-type iterations don't run 200
    # tasks on a vanilla session (dd6's scoping pattern).
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "16"):
        labels = propagate_min_labels(
            names.select(F.col("p_name").alias("id")), edges, max_iter=ER1_MAX_ITER
        )
    return labels.select(
        F.col("id").alias("p_name"), F.col("label").alias("entity_name")
    )


def resolve_entities(part: DataFrame, max_dist: int = ER1_MAX_DIST) -> DataFrame:
    """er1 — resolve fuzzy name variants in ``part`` to canonical entities
    and roll up one golden record per entity: ``(entity_name, n_parts,
    n_variants, n_brands, n_types, min_price, max_price)``."""
    ent_map = _name_labels(part.select("p_name").distinct(), max_dist)
    return (
        part.join(ent_map, "p_name")
        .groupBy("entity_name")
        .agg(
            F.count("*").alias("n_parts"),
            F.countDistinct("p_name").alias("n_variants"),
            F.countDistinct("p_brand").alias("n_brands"),
            F.countDistinct("p_type").alias("n_types"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


_ER1_SQL = f"""
WITH RECURSIVE names AS (
  SELECT DISTINCT p_name FROM part
), toks AS (
  SELECT p_name, unnest(string_split(p_name, ' ')) AS tok FROM names
), cand AS (
  SELECT DISTINCT a.p_name AS src, b.p_name AS dst
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.p_name < b.p_name
  WHERE a.tok != ''
), edges AS (
  SELECT src, dst FROM cand WHERE levenshtein(src, dst) <= {ER1_MAX_DIST}
), sym AS (
  SELECT src AS a, dst AS b FROM edges
  UNION ALL
  SELECT dst AS a, src AS b FROM edges
), reach AS (
  SELECT p_name AS src, p_name AS dst FROM names
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
), lab AS (
  SELECT src AS p_name, min(dst) AS entity_name FROM reach GROUP BY src
)
SELECT l.entity_name,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT p.p_name) AS BIGINT) AS n_variants,
       CAST(count(DISTINCT p.p_brand) AS BIGINT) AS n_brands,
       CAST(count(DISTINCT p.p_type) AS BIGINT) AS n_types,
       min(p.p_retailprice) AS min_price,
       max(p.p_retailprice) AS max_price
FROM part p JOIN lab l USING (p_name)
GROUP BY 1
"""


def save_entity_map(part: DataFrame, path: str, max_dist: int = ER1_MAX_DIST) -> None:
    """er2 build side — persist the resolved name->entity map
    (``<path>/entities``: one row per distinct name variant) plus a meta
    file carrying ``max_dist`` (note-46 stance: the artifact owns its
    parameters; resolve never trusts a caller kwarg). The map is FROZEN
    from here on — incremental batches match against it one-hop, so every
    batch ever resolved shares one entity id space; drift only grows the
    new-entity tail, never reassigns an existing id (the dd19 frozen-order
    honesty argument)."""
    spark = part.sparkSession
    ent = _name_labels(part.select("p_name").distinct(), max_dist)
    ent.write.mode("overwrite").parquet(f"{path}/entities")
    # single-slice local frame: createDataFrame+coalesce(1) costs ~5 s of
    # sequential Python-RDD slice drains for one row (tables.local_rows)
    tables.local_rows(spark, [(int(max_dist),)], "max_dist int").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def resolve_against_map(spark: SparkSession, path: str, batch: DataFrame) -> DataFrame:
    """er2 — incremental entity resolution: assign each distinct name in
    ``batch`` a stable entity id against a saved map. Three tiers, each a
    name-type-cardinality join:

    1. **Exact**: the name is already a known variant -> its entity,
       ``match_dist = 0``.
    2. **Fuzzy**: token-blocked match against the map's VARIANT names
       (not just canonicals — a new typo usually sits closest to another
       variant), verified with ``levenshtein <= max_dist``; ties resolve
       by the named-struct min over (distance, entity) — deterministic on
       both engines (note-22 pattern). ``match_dist`` = that distance.
    3. **New**: still-unmatched names resolve among THEMSELVES
       (:func:`_name_labels` on the residue) into fresh entities,
       ``match_dist = -1``, ``is_new = true``.

    Deliberately one-hop against the frozen map: a batch name chaining to
    an existing entity only THROUGH another batch name stays a new entity
    — re-running :func:`save_entity_map` over the full corpus is the
    compaction that re-closes transitive chains (same contract as dd19's
    frozen df order: staleness degrades recall, never correctness).

    Returns ``(p_name, entity_name, match_dist, is_new)`` per distinct
    batch name.
    """
    max_dist = int(spark.read.parquet(f"{path}/meta").first().max_dist)
    ent = spark.read.parquet(f"{path}/entities").select("p_name", "entity_name")
    return _resolve(ent, batch.select("p_name").distinct(), max_dist)


def _resolve(ent: DataFrame, bnames: DataFrame, max_dist: int) -> DataFrame:
    """The three-tier assignment against an in-memory entity frame —
    shared by the path-artifact form above and the streaming resolver
    (st13), which supplies ``ent`` from prior-batch dirs only."""
    exact = bnames.join(ent, "p_name").select(
        "p_name",
        "entity_name",
        F.lit(0).cast("long").alias("match_dist"),
        F.lit(False).alias("is_new"),
    )
    rest = bnames.join(ent, "p_name", "left_anti")
    r, m = _name_tokens(rest).alias("r"), _name_tokens(ent.select("p_name")).alias("m")
    ver = (
        r.join(m, F.col("r.tok") == F.col("m.tok"))
        .select(
            F.col("r.p_name").alias("p_name"), F.col("m.p_name").alias("variant")
        )
        .distinct()
        .withColumn("d", F.levenshtein("p_name", "variant"))
        .where(F.col("d") <= max_dist)
        .join(ent.select(F.col("p_name").alias("variant"), "entity_name"), "variant")
    )
    pick = ver.groupBy("p_name").agg(
        F.min(
            F.struct(F.col("d").alias("d"), F.col("entity_name").alias("e"))
        ).alias("pick")
    )
    fuzzy = pick.select(
        "p_name",
        F.col("pick.e").alias("entity_name"),
        F.col("pick.d").cast("long").alias("match_dist"),
        F.lit(False).alias("is_new"),
    )
    un = rest.join(pick, "p_name", "left_anti")
    new = _name_labels(un, max_dist).select(
        "p_name",
        "entity_name",
        F.lit(-1).cast("long").alias("match_dist"),
        F.lit(True).alias("is_new"),
    )
    return exact.unionByName(fuzzy).unionByName(new)


# One recursive-CTE closure per resolution stage (map build + within-batch
# residue), the dd6 reach pattern; the fuzzy pick is the note-22
# named-struct min (field order = compare order).
_ER2_SQL = f"""
WITH RECURSIVE base AS (
  SELECT DISTINCT p_name FROM part WHERE p_partkey % 2 = 0
), btoks AS (
  SELECT p_name, unnest(string_split(p_name, ' ')) AS tok FROM base
), bcand AS (
  SELECT DISTINCT a.p_name AS src, b.p_name AS dst
  FROM btoks a JOIN btoks b ON a.tok = b.tok AND a.p_name < b.p_name
  WHERE a.tok != ''
), bedges AS (
  SELECT src, dst FROM bcand WHERE levenshtein(src, dst) <= {ER1_MAX_DIST}
), bsym AS (
  SELECT src AS a, dst AS b FROM bedges
  UNION ALL
  SELECT dst AS a, src AS b FROM bedges
), breach AS (
  SELECT p_name AS src, p_name AS dst FROM base
  UNION
  SELECT r.src, s.b FROM breach r JOIN bsym s ON r.dst = s.a
), emap AS (
  SELECT src AS p_name, min(dst) AS entity_name FROM breach GROUP BY src
), batch AS (
  SELECT DISTINCT p_name FROM part WHERE p_partkey % 2 = 1
), exact AS (
  SELECT b.p_name, m.entity_name, CAST(0 AS BIGINT) AS match_dist
  FROM batch b JOIN emap m USING (p_name)
), rest AS (
  SELECT p_name FROM batch
  WHERE p_name NOT IN (SELECT p_name FROM emap)
), rtoks AS (
  SELECT p_name, unnest(string_split(p_name, ' ')) AS tok FROM rest
), mtoks AS (
  SELECT p_name, unnest(string_split(p_name, ' ')) AS tok FROM emap
), ver AS (
  SELECT DISTINCT r.p_name, m.p_name AS variant,
         levenshtein(r.p_name, m.p_name) AS d
  FROM rtoks r JOIN mtoks m ON r.tok = m.tok
  WHERE r.tok != '' AND levenshtein(r.p_name, m.p_name) <= {ER1_MAX_DIST}
), fpick AS (
  SELECT ver.p_name,
         min({{'d': ver.d, 'e': emap.entity_name}}) AS pick
  FROM ver JOIN emap ON emap.p_name = ver.variant
  GROUP BY ver.p_name
), fuzzy AS (
  SELECT p_name, pick.e AS entity_name, CAST(pick.d AS BIGINT) AS match_dist
  FROM fpick
), un AS (
  SELECT p_name FROM rest
  WHERE p_name NOT IN (SELECT p_name FROM fpick)
), utoks AS (
  SELECT p_name, unnest(string_split(p_name, ' ')) AS tok FROM un
), ucand AS (
  SELECT DISTINCT a.p_name AS src, b.p_name AS dst
  FROM utoks a JOIN utoks b ON a.tok = b.tok AND a.p_name < b.p_name
  WHERE a.tok != ''
), uedges AS (
  SELECT src, dst FROM ucand WHERE levenshtein(src, dst) <= {ER1_MAX_DIST}
), usym AS (
  SELECT src AS a, dst AS b FROM uedges
  UNION ALL
  SELECT dst AS a, src AS b FROM uedges
), ureach AS (
  SELECT p_name AS src, p_name AS dst FROM un
  UNION
  SELECT r.src, s.b FROM ureach r JOIN usym s ON r.dst = s.a
), newe AS (
  SELECT src AS p_name, min(dst) AS entity_name FROM ureach GROUP BY src
)
SELECT p_name, entity_name, match_dist, FALSE AS is_new FROM exact
UNION ALL
SELECT p_name, entity_name, match_dist, FALSE AS is_new FROM fuzzy
UNION ALL
SELECT p_name, entity_name, CAST(-1 AS BIGINT) AS match_dist, TRUE AS is_new
FROM newe
"""


def append_entity_map(spark: SparkSession, path: str, resolved: DataFrame) -> DataFrame:
    """er2 append side — fold a batch's NEW entities back into the saved
    map so later batches one-hop onto them (run AFTER
    :func:`resolve_against_map` has assigned the batch; ``resolved`` is
    its output). Only ``is_new`` rows are candidates, and an anti-join on
    the variant name drops anything the map already carries — so the
    append is IDEMPOTENT under foreachBatch's at-least-once retry
    (note-50 (b): same name => same entity row, re-delivery not
    mutation). Existing entities are never touched: the map stays
    append-only, which is what keeps every previously-assigned id stable
    (the frozen-artifact contract; a full :func:`save_entity_map` rebuild
    is the compaction that re-closes cross-batch transitive chains).

    Returns the appended (p_name, entity_name) rows (empty if the batch
    created no new entities or they all raced in already)."""
    ent_path = f"{path}/entities"
    existing = spark.read.parquet(ent_path)
    new = (
        resolved.where("is_new")
        .select("p_name", "entity_name")
        .join(existing, "p_name", "left_anti")
        # collect-before-write: the append reads the same path it writes
        # (note 28's lazy-scan trap) and the new-entity set is name-type
        # cardinality bounded per batch
        .localCheckpoint(eager=True)
    )
    if new.isEmpty():
        return new
    new.write.mode("append").parquet(ent_path)
    spark.catalog.refreshByPath(ent_path)
    return new


# --- registry wiring -------------------------------------------------------


def build_queries():
    def _er1(spark: SparkSession, sf: str) -> DataFrame:
        return resolve_entities(tables.load(spark, sf, "part"))

    def _er2(spark: SparkSession, sf: str) -> DataFrame:
        """Build the map over even-partkey rows in a fresh temp dir,
        resolve the odd-partkey batch against it (dd19's registry form)."""
        import tempfile

        part = tables.load(spark, sf, "part")
        p = tempfile.mkdtemp(prefix="er2-")
        save_entity_map(part.where("p_partkey % 2 = 0"), p)
        return resolve_against_map(spark, p, part.where("p_partkey % 2 = 1"))

    return {
        "er1_entity_resolution": (_er1, _ER1_SQL),
        "er2_incremental_entities": (_er2, _ER2_SQL),
    }
