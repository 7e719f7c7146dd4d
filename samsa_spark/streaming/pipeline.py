"""Streaming pipeline operators beyond the core state stream.

- streaming exact dedup: the training-pipeline X1 operator in streaming
  form — drop duplicate message ids with watermark-bounded dedup state.
- materialized state sink: keep an external parquet state table
  continuously merged per micro-batch (transactional foreachBatch) — the
  queryable mirror of what samsa's SQLite file holds, maintained with one
  merge per batch instead of one commit per message (reference
  sqldb.py:52-64 commits per save).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from samsa_spark.operators.state import compact_latest, upsert_merge
from samsa_spark.session import scoped_conf

# Shuffle partitions the stream runners below hold for a query's lifetime:
# a fresh checkpoint keeps one RocksDB state store per partition, and a
# vanilla session's 200 would mean 200 stores for a gate-scale backlog.
STREAM_PARTITIONS = "8"


def dedup_stream(
    stream_df: DataFrame,
    id_cols: Sequence[str],
    ts_us_col: str = "ts_us",
    late: str | None = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each id.

    With ``late`` set (the default), the watermark bounds dedup state — ids
    older than the lateness horizon are dropped from state, so memory is
    O(window), not O(stream). At 100 TB/day of EVENTS this is the only
    viable shape (a replayed message id arrives near its original).

    ``late=None`` is the CONTENT-dedup form (st4): plain ``dropDuplicates``
    whose state is never evicted, because a duplicate document can arrive
    arbitrarily late in a crawl — forgetting a content hash means re-
    admitting its duplicates. State is O(distinct keys) in the RocksDB
    store — key the stream on the content HASH (sha2), never the text, so
    state rows stay fixed-width; this is the streaming twin of batch dd1,
    trading dd1's full-corpus shuffle for a persistent keyed store (the
    same trade the reference's K/V state makes, storage.py:228-253).
    """
    if late is None:
        return stream_df.dropDuplicates(list(id_cols))
    withtime = stream_df.withColumn("_event_time", F.timestamp_micros(F.col(ts_us_col)))
    return withtime.withWatermark("_event_time", late).dropDuplicatesWithinWatermark(
        list(id_cols)
    ).drop("_event_time")


class MaterializedStateSink:
    """foreachBatch sink that maintains a parquet state table by merging
    each micro-batch of events into the previous table generation
    (write-new-then-swap; readers always see a complete generation).

    Generations are keyed by micro-batch id and discovered from disk, never
    from sink-object memory: a restart from an existing checkpoint with a
    FRESH sink object resumes from the latest on-disk generation instead of
    silently discarding the accumulated table, and a retried batch rebuilds
    its own generation from strictly-older ones (overwrite, so the merge is
    idempotent under foreachBatch's at-least-once replay)."""

    def __init__(self, path: str, keys: Sequence[str] = ("user_id",)) -> None:
        self.path = path
        self.keys = tuple(keys)

    def _gens(self) -> list[int]:
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        return sorted(int(n.split("=", 1)[1]) for n in names if n.startswith("gen="))

    def _gen_path(self, g: int) -> str:
        return os.path.join(self.path, f"gen={g}")

    def current(self, spark: SparkSession, before: int | None = None) -> DataFrame | None:
        gens = [g for g in self._gens() if before is None or g < before]
        if not gens:
            return None
        return spark.read.parquet(self._gen_path(gens[-1]))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # `before=batch_id` makes a retried batch re-merge against the same
        # prior generation it saw the first time, not against its own output.
        prev = self.current(spark, before=batch_id)
        if prev is None:
            new = compact_latest(batch_df, self.keys, payload_cols=[
                c for c in batch_df.columns if c not in (*self.keys, "ts_us", "event_id")
            ])
        else:
            new = upsert_merge(prev, batch_df, self.keys)
        new.write.mode("overwrite").parquet(self._gen_path(batch_id))


def run_materialized_state(
    stream_df: DataFrame, checkpoint_dir: str, sink: MaterializedStateSink
):
    """Drain the stream through the sink with AvailableNow."""
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def purchase_attribution(stream_df: DataFrame, window: str = "1 hour") -> DataFrame:
    """Stream-stream join: each purchase joined to the same user's clicks in
    the preceding hour. Both sides carry watermarks + a time-range join
    condition, so join state is evicted once the watermark passes — the
    only way a stream-stream join survives unbounded input. Inner-join
    matches emit as soon as both sides are present (no watermark wait).
    """
    withtime = stream_df.withColumn("_t", F.timestamp_micros(F.col("ts_us")))
    clicks = (
        withtime.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("_t").alias("c_time"),
        )
        .withWatermark("c_time", window)
    )
    purchases = (
        withtime.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
            F.col("_t").alias("p_time"),
        )
        .withWatermark("p_time", window)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_time") <= F.col("p_time"))
        & (F.col("c_time") >= F.col("p_time") - F.expr(f"INTERVAL {window}")),
        "inner",
    ).select("p_user", "purchase_id", "click_id", "amount")


class IncrementalDedupIndex:
    """foreachBatch near-dup index: each micro-batch of documents is banded
    (MinHash-LSH) and joined against the ACCUMULATED index of every
    previously seen document, emitting (new_doc, prior_doc, est_jaccard)
    pairs plus within-batch pairs — then the batch's bands are appended to
    the index. This is how near-dup detection runs on a live ingest: one
    band-join per batch against an ever-growing but bucket-partitioned
    index, never a corpus-wide recompute.

    The index is parquet keyed by (band, bh); at scale it would be written
    bucketed on bh so the per-batch join is co-located.

    EXACTLY-ONCE (round-11 verdict task 4): both sinks write into their
    own ``batch_id=<n>`` directory with overwrite — a retried batch
    replaces itself byte-for-byte instead of appending a duplicate
    (MaterializedStateSink / StreamingCardAccumulator's generation
    pattern). The accumulated-index join reads only ``batch_id <
    current`` (partition-pruned), so a retry joins against exactly the
    index state its first attempt saw and emits exactly the same pairs.
    Readers of either root see the ``batch_id`` partition column
    alongside the data columns.
    """

    def __init__(self, index_path: str, pairs_path: str, min_est_jaccard: float = 0.5) -> None:
        self.index_path = index_path
        self.pairs_path = pairs_path
        self.min_est_jaccard = min_est_jaccard

    def _batches_before(self, batch_id: int) -> list[int]:
        # Discovered from disk, never from sink-object memory: a restart
        # from an existing checkpoint with a FRESH sink object keeps
        # joining against the accumulated index.
        try:
            names = os.listdir(self.index_path)
        except FileNotFoundError:
            return []
        return sorted(
            int(n.split("=", 1)[1])
            for n in names
            if n.startswith("batch_id=") and int(n.split("=", 1)[1]) < batch_id
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from samsa_spark.operators.dedup import (
            band_signatures,
            est_jaccard_col,
            minhash_signatures,
        )

        spark = batch_df.sparkSession
        bands = band_signatures(minhash_signatures(batch_df)).localCheckpoint(eager=True)

        # Same shuffle discipline as batch dd3: band joins and the pair
        # dedup move only (doc_id, band, bh) rows; the 64-long signatures
        # are re-attached to the surviving pairs afterwards.
        slim = bands.select("doc_id", "band", "bh")
        a, b = slim.alias("a"), slim.alias("b")
        within = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        candidates = within
        sig_sources = [bands.select("doc_id", "sig").dropDuplicates(["doc_id"])]
        prior = self._batches_before(batch_id)
        if prior:
            idx = spark.read.parquet(
                *[os.path.join(self.index_path, f"batch_id={g}") for g in prior]
            )
            cross = (
                slim.alias("n")
                .join(
                    idx.select("doc_id", "band", "bh").alias("i"),
                    (F.col("n.band") == F.col("i.band")) & (F.col("n.bh") == F.col("i.bh")),
                )
                .where(F.col("n.doc_id") != F.col("i.doc_id"))
                .select(
                    F.greatest(F.col("n.doc_id"), F.col("i.doc_id")).alias("doc_a"),
                    F.least(F.col("n.doc_id"), F.col("i.doc_id")).alias("doc_b"),
                )
            )
            candidates = within.unionByName(cross)
            sig_sources.append(idx.select("doc_id", "sig").dropDuplicates(["doc_id"]))
        import functools

        sigs = functools.reduce(
            lambda x, y: x.unionByName(y), sig_sources
        ).dropDuplicates(["doc_id"])
        pairs = (
            candidates.dropDuplicates(["doc_a", "doc_b"])
            .join(sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a")
            .join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
            .select("doc_a", "doc_b", est_jaccard_col())
            .where(F.col("est_jaccard") >= self.min_est_jaccard)
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(self.pairs_path, f"batch_id={int(batch_id)}")
        )
        bands.write.mode("overwrite").parquet(
            os.path.join(self.index_path, f"batch_id={int(batch_id)}")
        )


def run_incremental_dedup(stream_df: DataFrame, checkpoint_dir: str, index: IncrementalDedupIndex):
    q = (
        stream_df.writeStream.foreachBatch(index)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


class StreamingIndexAppender:
    """foreachBatch sink growing a saved IVF embedding index from a live
    vector stream — the embedding-side twin of :class:`IncrementalDedupIndex`
    and the streaming half of the index lifecycle
    (``save_index`` builds once; this keeps it current as vectors arrive).

    Each micro-batch runs :func:`samsa_spark.operators.similarity.append_index`:
    the batch's vectors are assigned against the SAVED centroids (the
    quantizer stays frozen — the append contract), their cell-partitioned
    parquet lands inside the existing layout, and a drift row per touched
    cell is recorded under a monotone ``append_id`` — so falling assignment
    cosines across batches are the live signal that the frozen quantizer no
    longer fits the incoming distribution and a rebuild is due.

    EXACTLY-ONCE (round-11 verdict task 4): ``append_index`` skips
    vec_ids already stored in the touched cells (frozen centroids assign
    deterministically, so a replayed batch lands on the same cells and
    writes zero rows), and the micro-batch id is passed through as the
    drift ``append_id`` so the drift rows overwrite their own partition
    on retry — a batch delivered twice leaves the index and drift table
    byte-identical to once (pytest-locked). Readers
    (``ivf_topk_prebuilt``) see each append atomically at the file level
    and the same partition pruning as a batch-built index."""

    def __init__(self, index_path: str) -> None:
        self.index_path = index_path

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from samsa_spark.operators.similarity import append_index

        if batch_df.isEmpty():
            return
        append_index(
            batch_df.sparkSession, self.index_path, batch_df, append_id=int(batch_id)
        )


def run_streaming_index_append(
    stream_df: DataFrame, checkpoint_dir: str, appender: StreamingIndexAppender
):
    """Drain a vector stream into the saved index with AvailableNow."""
    q = (
        stream_df.writeStream.foreachBatch(appender)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


class StreamingExactDedupIndex:
    """foreachBatch sink: EXACT threshold-Jaccard incremental dedup over a
    live document stream — the dd19 lifecycle as a streaming pipeline
    (the exact-guarantee sibling of :class:`IncrementalDedupIndex`'s
    MinHash estimates). The FIRST batch bootstraps the index and with it
    the frozen rarest-first shingle order (``save_dedup_index``; its
    within-batch pairs come from ``prefix_jaccard_pairs``). Every later
    batch emits its exact pairs against everything prior + itself
    (``dedup_against_index`` — the indexed corpus is never re-shingled),
    then appends itself under the frozen order
    (``append_dedup_index``). Each pair lands exactly once, at the batch
    where its LATER side arrives, so the union of per-batch pair files
    equals ``prefix_jaccard_pairs`` over the whole streamed corpus
    (pytest-locked; prefix filtering is lossless under ANY single total
    order, so the bootstrap-batch df order changes selectivity, never
    output).

    EXACTLY-ONCE: pairs write into their own ``batch_id=<n>`` dir with
    overwrite; the index append anti-joins already-present doc_ids and
    keys its drift row by the batch id (note-50 patterns a + b). A
    bootstrap-batch retry is detected via the recorded bootstrap batch
    id and re-runs the idempotent overwrite build; a later batch retried
    after its append landed re-emits an identical pair set, because
    every cross/within candidate it saw the first time reappears (its
    own docs now answer from the index side) and candidates are
    verified + distinct'd."""

    def __init__(
        self, index_path: str, pairs_path: str, min_jaccard: float | None = None
    ) -> None:
        from samsa_spark.operators.dedup import DD16_MIN_JACCARD

        self.index_path = index_path
        self.pairs_path = pairs_path
        self.min_jaccard = DD16_MIN_JACCARD if min_jaccard is None else float(min_jaccard)

    def _bootstrap_batch(self, spark: SparkSession) -> int | None:
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(f"{self.index_path}/bootstrap").first().batch_id
        except AnalysisException:
            return None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from samsa_spark.operators.dedup import (
            append_dedup_index,
            dedup_against_index,
            prefix_jaccard_pairs,
            save_dedup_index,
        )

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        boot = self._bootstrap_batch(spark)
        pair_dir = os.path.join(self.pairs_path, f"batch_id={int(batch_id)}")
        if boot is None or boot == int(batch_id):
            # first delivery OR a retry of the bootstrap batch: both the
            # index build and the pair write are pure overwrites
            save_dedup_index(batch_df, self.index_path)
            from samsa_spark import tables as _tables

            # single-slice local frame: the old createDataFrame+coalesce(1)
            # marker write cost ~5 s per stream (tables.local_rows)
            _tables.local_rows(
                spark, [(int(batch_id),)], "batch_id bigint"
            ).write.mode("overwrite").parquet(f"{self.index_path}/bootstrap")
            for sub in ("df", "sets"):
                spark.catalog.refreshByPath(f"{self.index_path}/{sub}")
            pairs = prefix_jaccard_pairs(batch_df, min_jaccard=self.min_jaccard)
            pairs.write.mode("overwrite").parquet(pair_dir)
            return
        pairs = dedup_against_index(
            spark, self.index_path, batch_df, min_jaccard=self.min_jaccard
        )
        # materialize pairs BEFORE the append mutates the index this lazy
        # plan reads (note 28: a post-append action would list post-append
        # files)
        pairs.write.mode("overwrite").parquet(pair_dir)
        append_dedup_index(spark, self.index_path, batch_df, append_id=int(batch_id))


def run_streaming_exact_dedup(
    stream_df: DataFrame,
    checkpoint_dir: str,
    sink: StreamingExactDedupIndex,
):
    """Drain a document stream through the exact dedup index with
    AvailableNow, at ``STREAM_PARTITIONS`` shuffle partitions for the
    stream's lifetime (restored after). They also size the per-batch
    relational pipeline inside the sink, which is join- and scan-bound:
    8, 16 and 32 partitions drained st10 in 11.0, 10.5 and 11.9 s warm
    (PLANS.md, "Streaming engine knobs")."""
    with scoped_conf(stream_df.sparkSession, "spark.sql.shuffle.partitions", STREAM_PARTITIONS):
        q = (
            stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


class StreamingGraphAppender:
    """foreachBatch sink growing a saved gx1 graph index from a live
    vector stream — the graph-tier parity of :class:`StreamingIndexAppender`
    (round-11 verdict task 6): each micro-batch runs
    :func:`samsa_spark.operators.similarity.append_graph`, which assigns
    the batch against the SAVED centroids (frozen quantizer), rebuilds
    exactly the affected cells from their combined members, and rewrites
    only those ``cell=`` partitions.

    EXACTLY-ONCE: append_graph anti-joins already-present vec_ids inside
    the batch's candidate cells — a replayed batch finds every id in
    place and skips the rebuild entirely, so a batch delivered twice
    leaves the graph byte-identical to once. A multi-batch stream over a
    split corpus equals one-shot ``append_graph`` of the whole split
    (pytest-locked), because cell membership under frozen centroids is
    batch-order-invariant and each cell rebuild is a pure function of
    its final member set."""

    def __init__(self, index_path: str) -> None:
        self.index_path = index_path

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from samsa_spark.operators.similarity import append_graph

        if batch_df.isEmpty():
            return
        append_graph(batch_df.sparkSession, self.index_path, batch_df)


def run_streaming_graph_append(
    stream_df: DataFrame, checkpoint_dir: str, appender: StreamingGraphAppender
):
    """Drain a vector stream into the saved graph index with AvailableNow."""
    q = (
        stream_df.writeStream.foreachBatch(appender)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


class StreamingCardAccumulator:
    """foreachBatch sink accumulating cs2 PARTIAL corpus cards from a live
    document stream — the sketch-side third of the streaming index
    lifecycle (:class:`IncrementalDedupIndex` grows the near-dup index,
    :class:`StreamingIndexAppender` the ANN index; this keeps the corpus
    DATA CARD current). Each micro-batch writes its per-source partial
    (one KB-scale row per source: counts + HLL content sketch + KLL
    length sketch) into its OWN ``batch_id=<n>`` directory with overwrite
    — a retried batch replaces itself, so unlike the two index sinks the
    accumulated cards are EXACTLY-ONCE and the merged card after a crash
    equals the batch card (pytest locks merged == one-pass cs2 over the
    whole corpus). :meth:`merged` answers for everything seen so far by
    merging batch-count x source-count rows — never re-reading a byte of
    the stream.
    """

    def __init__(self, cards_path: str) -> None:
        self.cards_path = cards_path

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from samsa_spark.operators.text import corpus_card_partial

        if batch_df.isEmpty():
            return
        corpus_card_partial(batch_df).write.mode("overwrite").parquet(
            f"{self.cards_path}/batch_id={int(batch_id)}"
        )

    def merged(self, spark: SparkSession) -> DataFrame:
        from samsa_spark.operators.text import merge_corpus_cards

        spark.catalog.refreshByPath(self.cards_path)
        cards = spark.read.parquet(self.cards_path).select(
            "source", "n_docs", "total_tokens", "content_sketch", "tokens_sketch"
        )
        return merge_corpus_cards(cards)


def run_streaming_card(
    stream_df: DataFrame, checkpoint_dir: str, acc: StreamingCardAccumulator
):
    """Drain a document stream into the card accumulator with AvailableNow."""
    q = (
        stream_df.writeStream.foreachBatch(acc)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


class StreamingDigestAccumulator:
    """st12 — streaming quantile digest: each micro-batch writes its own
    equi-width bin-count partial (:func:`pipeline_ops.digest_partial` —
    O(bins) rows regardless of batch size) into a ``batch_id=<n>``
    directory with overwrite, so a retried batch replaces itself and the
    accumulated digest is EXACTLY-ONCE (the cards pattern, note-50 (a)).
    Micro-batches ARE the digest's shards: merging by summation makes
    trigger boundaries invisible, which is what puts the whole streaming
    lifecycle under the batch oracle — :meth:`quantiles` over any replay
    of the backlog equals the one-pass digest over the full log. No
    stateful operator anywhere: the digest itself is the state, stored as
    data (bounded by groups x bins, never by events)."""

    def __init__(
        self,
        digest_path: str,
        value_col: str = "value",
        group_col: str = "event_type",
        width: float | None = None,
    ) -> None:
        from samsa_spark.operators.pipeline_ops import QD1_BIN_WIDTH

        self.digest_path = digest_path
        self.value_col = value_col
        self.group_col = group_col
        self.width = QD1_BIN_WIDTH if width is None else float(width)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from samsa_spark.operators.pipeline_ops import digest_partial

        if batch_df.isEmpty():
            return
        digest_partial(
            batch_df, self.value_col, self.group_col, self.width
        ).write.mode("overwrite").parquet(
            f"{self.digest_path}/batch_id={int(batch_id)}"
        )

    def merged(self, spark: SparkSession) -> DataFrame:
        """(grp, bin, cnt) summed across every batch partial seen so far."""
        import pyspark.sql.functions as F

        spark.catalog.refreshByPath(self.digest_path)
        return (
            spark.read.parquet(self.digest_path)
            .groupBy("grp", "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def quantiles(self, spark: SparkSession) -> DataFrame:
        from samsa_spark.operators.pipeline_ops import digest_quantiles

        return digest_quantiles(self.merged(spark), self.width)


def run_streaming_digest(
    stream_df: DataFrame, checkpoint_dir: str, acc: StreamingDigestAccumulator
):
    """Drain an event stream into the digest accumulator with AvailableNow."""
    q = (
        stream_df.writeStream.foreachBatch(acc)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


class StreamingEntityResolver:
    """st13 — incremental entity resolution as a STREAM: the first batch
    bootstraps the entity map from its own clustering (er1's `_name_labels`
    — every name a new entity), and each later batch runs er2's three-tier
    one-hop resolve against the entities of STRICTLY-PRIOR batches only,
    then folds its new entities into its own ``entities/batch_id=<n>`` dir.

    EXACTLY-ONCE under foreachBatch's at-least-once retry by the dd19
    argument: a retried batch re-reads only ``batch_id < current`` entity
    dirs — exactly what its first attempt saw — and both of its writes
    (resolved rows, new entities) overwrite their own ``batch_id`` dirs.
    The new-entity dir is written FROM the materialized resolved output
    (read back, not recomputed), so the two artifacts can never diverge.
    Entity ids assigned in earlier batches are immutable — the frozen-map
    contract, per micro-batch; a full :func:`~samsa_spark.operators.linkage.
    save_entity_map` rebuild is the compaction that re-closes transitive
    chains across batch boundaries."""

    def __init__(self, map_path: str, out_path: str, max_dist: int | None = None) -> None:
        from samsa_spark.operators.linkage import ER1_MAX_DIST

        self.map_path = map_path
        self.out_path = out_path
        self.max_dist = ER1_MAX_DIST if max_dist is None else int(max_dist)

    def _prior(self, batch_id: int) -> list[int]:
        ent_dir = f"{self.map_path}/entities"
        if not os.path.isdir(ent_dir):
            return []
        return sorted(
            int(n.split("=", 1)[1])
            for n in os.listdir(ent_dir)
            if n.startswith("batch_id=") and int(n.split("=", 1)[1]) < batch_id
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from samsa_spark.operators.linkage import _name_labels, _resolve

        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        bnames = batch_df.select("p_name").distinct()
        prior = self._prior(int(batch_id))
        out_dir = f"{self.out_path}/batch_id={int(batch_id)}"
        ent_dir = f"{self.map_path}/entities/batch_id={int(batch_id)}"
        if not prior:
            resolved = _name_labels(bnames, self.max_dist).select(
                "p_name",
                "entity_name",
                F.lit(-1).cast("long").alias("match_dist"),
                F.lit(True).alias("is_new"),
            )
        else:
            ent = spark.read.parquet(
                *[f"{self.map_path}/entities/batch_id={g}" for g in prior]
            ).select("p_name", "entity_name")
            resolved = _resolve(ent, bnames, self.max_dist)
        resolved.write.mode("overwrite").parquet(out_dir)
        spark.catalog.refreshByPath(out_dir)
        (
            spark.read.parquet(out_dir)
            .where("is_new")
            .select("p_name", "entity_name")
            .write.mode("overwrite")
            .parquet(ent_dir)
        )

    def resolved(self, spark: SparkSession) -> DataFrame:
        """Every batch's assignments seen so far (batch_id partition col)."""
        spark.catalog.refreshByPath(self.out_path)
        return spark.read.parquet(self.out_path)


def run_streaming_entity_resolution(
    stream_df: DataFrame, checkpoint_dir: str, resolver: StreamingEntityResolver
):
    """Drain a record stream through the entity resolver with AvailableNow."""
    q = (
        stream_df.writeStream.foreachBatch(resolver)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_first_occurrence_stream(
    spark,
    src_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 2,
):
    """st11's engine half: fold a keyed event backlog into per-key FIRST
    occurrences. The key is every ``schema`` column other than ``ts_us`` and
    ``event_id``; the state per key is ``min(struct(ts_us, event_id))``, a
    streaming aggregate in update mode on the RocksDB store, so the engine
    owns the fold and no Python worker starts. An 'earlier' event arriving
    in a LATER trigger (out-of-order files are the norm) overwrites the
    stored first. Returns the final state as ``(key..., ts_us, event_id)``.

    ``min`` is idempotent and commutative, which is what makes the
    multi-trigger replay exactly equal to batch sq1's groupBy-min, and a
    retried trigger harmless (same min twice). The stream holds
    ``STREAM_PARTITIONS`` shuffle partitions (restored after): with no
    Python worker per partition, 8 drained a 1M-event backlog faster than
    32 (CHANGES.md).

    Start from a fresh checkpoint. One written by this runner's former
    pandas fold (``applyInPandasWithState`` over a composite string key)
    does not resume here: the first trigger with new data raises Spark's
    ``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA`` and returns
    no rows. (With no new data no trigger runs, and the old state comes
    back unchanged in its old ``(k, ts_us, event_id)`` layout.)"""
    from samsa_spark.streaming.sources import file_stream
    from samsa_spark.streaming.state_stream import _select_store, read_state

    _select_store(spark, "rocksdb")
    keys = [c for c in schema.fieldNames() if c not in ("ts_us", "event_id")]
    firsts = (
        file_stream(spark, src_dir, schema, max_files_per_trigger=max_files_per_trigger)
        .groupBy(*keys)
        .agg(F.min(F.struct("ts_us", "event_id")).alias("first"))
    )
    with scoped_conf(spark, "spark.sql.shuffle.partitions", STREAM_PARTITIONS):
        q = (
            firsts.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return read_state(spark, checkpoint_dir)
