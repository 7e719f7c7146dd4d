"""Streaming dedup + materialized state sink."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL

KEY = "user_id"


@pytest.fixture(scope="module")
def staged(spark):
    from samsa_spark import tables

    base = tempfile.mkdtemp(prefix="samsa-pipe-")
    ev = tables.load(spark, SF_SMALL, "events").select(
        KEY, "ts_us", "event_id", "event_type", "value"
    )
    yield base, ev
    shutil.rmtree(base, ignore_errors=True)


def test_dedup_stream_drops_duplicates(spark, staged):
    base, ev = staged
    from samsa_spark.streaming.pipeline import dedup_stream
    from samsa_spark.streaming.sources import file_stream

    # duplicate the whole log (same event ids twice)
    dup_dir = os.path.join(base, "dup")
    ev.unionAll(ev).repartition(4).write.parquet(dup_dir)
    out_dir = os.path.join(base, "dedup-out")
    chk = os.path.join(base, "dedup-chk")

    src = file_stream(spark, dup_dir, ev.schema)
    dd = dedup_stream(src, ["event_id"])

    def _append(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        dd.writeStream.foreachBatch(_append)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_materialized_state_equals_batch_compaction(spark, staged):
    base, ev = staged
    from samsa_spark.operators.state import compact_latest
    from samsa_spark.streaming.pipeline import MaterializedStateSink, run_materialized_state
    from samsa_spark.streaming.sources import file_stream

    src_dir = os.path.join(base, "mat-src")
    ev.repartition(6).write.parquet(src_dir)
    sink = MaterializedStateSink(os.path.join(base, "mat-state"), (KEY,))
    run_materialized_state(
        file_stream(spark, src_dir, ev.schema, max_files_per_trigger=2),
        os.path.join(base, "mat-chk"),
        sink,
    )
    final = sink.current(spark)
    want = {tuple(r) for r in compact_latest(ev, payload_cols=("event_type", "value")).collect()}
    got = {tuple(r) for r in final.select(*[f.name for f in compact_latest(ev, payload_cols=("event_type", "value")).schema.fields]).collect()}
    assert got == want


def test_materialized_state_survives_restart(spark, staged):
    """Restart data-loss regression (round-2 ADVICE): a FRESH sink object
    pointed at an existing sink path + checkpoint must resume from the
    on-disk generation — the first post-restart micro-batch may not discard
    the accumulated table."""
    base, ev = staged
    from samsa_spark.operators.state import compact_latest
    from samsa_spark.streaming.pipeline import MaterializedStateSink, run_materialized_state
    from samsa_spark.streaming.sources import file_stream

    thr = ev.agg({"event_id": "max"}).collect()[0][0] // 2
    src_dir = os.path.join(base, "restart-src")
    os.makedirs(src_dir)
    chk = os.path.join(base, "restart-chk")
    state_path = os.path.join(base, "restart-state")

    ev.where(f"event_id <= {thr}").coalesce(2).write.parquet(os.path.join(base, "rh1"))
    for f in os.listdir(os.path.join(base, "rh1")):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(base, "rh1", f), os.path.join(src_dir, f"a-{f}"))
    run_materialized_state(
        file_stream(spark, src_dir, ev.schema, max_files_per_trigger=1),
        chk,
        MaterializedStateSink(state_path, (KEY,)),
    )

    # "crash": new data arrives, a NEW sink object restarts from the same path
    ev.where(f"event_id > {thr}").coalesce(2).write.parquet(os.path.join(base, "rh2"))
    for f in os.listdir(os.path.join(base, "rh2")):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(base, "rh2", f), os.path.join(src_dir, f"b-{f}"))
    fresh = MaterializedStateSink(state_path, (KEY,))
    run_materialized_state(
        file_stream(spark, src_dir, ev.schema, max_files_per_trigger=1), chk, fresh
    )

    want_df = compact_latest(ev, payload_cols=("event_type", "value"))
    want = {tuple(r) for r in want_df.collect()}
    got = {
        tuple(r)
        for r in fresh.current(spark).select(*[f.name for f in want_df.schema.fields]).collect()
    }
    assert got == want


def test_materialized_state_batch_retry_idempotent(spark, staged):
    """foreachBatch is at-least-once: re-invoking the sink with the same
    batch id must rebuild that generation from strictly-older ones, not
    double-apply it."""
    base, ev = staged
    from samsa_spark.streaming.pipeline import MaterializedStateSink

    sink = MaterializedStateSink(os.path.join(base, "retry-state"), (KEY,))
    b0 = ev.where("event_id % 2 = 0")
    b1 = ev.where("event_id % 2 = 1")
    sink(b0, 0)
    sink(b1, 1)
    once = {tuple(r) for r in sink.current(spark).collect()}
    sink(b1, 1)  # retry of the last batch
    twice = {tuple(r) for r in sink.current(spark).collect()}
    assert once == twice


def test_stream_stream_join_matches_batch(spark, staged):
    base, ev = staged
    from samsa_spark.streaming.pipeline import purchase_attribution
    from samsa_spark.streaming.sources import file_stream

    src = os.path.join(base, "ssj-src")
    ev.repartition(4).write.parquet(src)
    out_dir = os.path.join(base, "ssj-out")
    chk = os.path.join(base, "ssj-chk")

    joined = purchase_attribution(file_stream(spark, src, ev.schema, max_files_per_trigger=2))
    q = (
        joined.writeStream.foreachBatch(
            lambda b, i: b.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.p_user, r.purchase_id, r.click_id)
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch twin: plain self-join with the same range condition
    c = ev.where("event_type = 'click'").selectExpr(
        "user_id AS c_user", "event_id AS click_id", "ts_us AS c_ts"
    )
    p = ev.where("event_type = 'purchase'").selectExpr(
        "user_id AS p_user", "event_id AS purchase_id", "ts_us AS p_ts"
    )
    want = {
        (r.p_user, r.purchase_id, r.click_id)
        for r in p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - 3_600_000_000),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_incremental_dedup_index_matches_batch_lsh(spark):
    """Streaming the corpus through the incremental index in multiple
    batches must find exactly the pairs batch MinHash-LSH finds on the full
    corpus (within-batch pairs + cross-batch pairs cover every pair once)."""
    import tempfile

    from samsa_spark import tables
    from samsa_spark.operators.dedup import minhash_lsh_pairs
    from samsa_spark.streaming.pipeline import IncrementalDedupIndex, run_incremental_dedup
    from samsa_spark.streaming.sources import file_stream

    base = tempfile.mkdtemp(prefix="samsa-incdedup-")
    docs = tables.load(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = os.path.join(base, "src")
    docs.repartition(6).write.parquet(src)

    # low threshold so the word-salad corpus yields pairs at sf0.001
    thr = 0.05
    index = IncrementalDedupIndex(
        os.path.join(base, "index"), os.path.join(base, "pairs"), min_est_jaccard=thr
    )
    run_incremental_dedup(
        file_stream(spark, src, docs.schema, max_files_per_trigger=2),
        os.path.join(base, "chk"),
        index,
    )

    got = {
        (r.doc_a, r.doc_b) for r in spark.read.parquet(os.path.join(base, "pairs")).collect()
    }
    want = {
        (max(r.doc_a, r.doc_b), min(r.doc_a, r.doc_b))
        for r in minhash_lsh_pairs(docs, min_est_jaccard=thr).collect()
    }
    assert got == want and len(got) > 0


def test_st4_streaming_exact_dedup_oracle(spark):
    """st4 (native dropDuplicates content-dedup over the multi-trigger
    documents backlog) vs the DISTINCT oracle — the registered demoted-twin
    check the driver doesn't run."""
    from tests.oracle import check_query

    ok, msg = check_query(spark, "st4_streaming_exact_dedup", SF_SMALL)
    assert ok, msg


def test_unbounded_dedup_stream_dedups_across_batches(spark, staged):
    """late=None content dedup: duplicates planted in SEPARATE files (so
    they arrive in different micro-batches) still collapse to one emission
    per content hash — the case watermark-bounded dedup state would miss
    once the horizon passes."""
    base, _ = staged
    from samsa_spark.streaming.pipeline import dedup_stream
    from samsa_spark.streaming.sources import file_stream

    src_dir = os.path.join(base, "content-src")
    texts = ["alpha beta", "gamma delta", "alpha beta", "epsilon", "gamma delta"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).select(F.sha2("text", 256).alias("sha"), F.length("text").alias("n_chars"))
    # one file per row -> one micro-batch per row with maxFilesPerTrigger=1
    df.repartition(5).write.parquet(src_dir)
    out_dir = os.path.join(base, "content-out")
    q = (
        dedup_stream(
            file_stream(spark, src_dir, df.schema, max_files_per_trigger=1),
            ["sha"],
            late=None,
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(base, "content-chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    assert got.count() == 3
    assert got.select("sha").distinct().count() == 3


def test_st5_streaming_windowed_counts_oracle(spark):
    """st5: the watermark + tumbling-window append path, sentinel-flushed so
    every real window closes — emitted rows must hash-match the batch
    tumbling aggregate via the DuckDB oracle."""
    from tests.oracle import check_query

    ok, msg = check_query(spark, "st5_streaming_windowed_counts", SF_SMALL)
    assert ok, msg


def test_st6_streaming_attribution_join_oracle(spark):
    """st6: the stream-stream inner join over two multi-trigger backlogs
    must emit exactly the batch join's match set (pairs whose sides arrive
    in different triggers pair through the join state)."""
    from tests.oracle import check_query

    ok, msg = check_query(spark, "st6_streaming_attribution_join", SF_SMALL)
    assert ok, msg


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """st6's join state across a crash: purchases all arrive before the
    "crash"; half the clicks arrive after the restart from the same
    checkpoint. Every cross-restart match must still emit EXACTLY once —
    the final sink equals the batch join with no duplicates."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.streaming.sources import file_stream

    W = 3_600_000_000
    ev = tables.load(spark, SF_SMALL, "events")
    clicks = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts_us").alias("c_ts_us")
    )
    purchases = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts_us").alias("p_ts_us"),
    )
    c_dir, p_dir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    half = str(tmp_path / "clicks_half2")
    thr = clicks.agg(F.max("click_id")).first()[0] // 2
    os.makedirs(c_dir)
    clicks.where(F.col("click_id") <= thr).repartition(3).write.mode("overwrite").parquet(c_dir)
    clicks.where(F.col("click_id") > thr).repartition(3).write.parquet(half)
    purchases.repartition(3).write.parquet(p_dir)
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")

    def run():
        sc = file_stream(spark, c_dir, clicks.schema, max_files_per_trigger=2)
        sp = file_stream(spark, p_dir, purchases.schema, max_files_per_trigger=2)
        joined = sp.join(
            sc,
            (F.col("p_user_id") == F.col("user_id"))
            & (F.col("c_ts_us") <= F.col("p_ts_us"))
            & (F.col("c_ts_us") >= F.col("p_ts_us") - W),
            "inner",
        ).select("purchase_id", "p_user_id", "p_ts_us", "click_id", "c_ts_us")
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", chk)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    run()  # first run: all purchases, clicks half 1
    for f in os.listdir(half):  # "crash"; late clicks arrive
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(half, f), os.path.join(c_dir, f"h2-{f}"))
    run()  # restart from the same checkpoint

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(
            tuple,
            purchases.join(
                clicks,
                (purchases.p_user_id == clicks.user_id)
                & (clicks.c_ts_us <= purchases.p_ts_us)
                & (clicks.c_ts_us >= purchases.p_ts_us - W),
            )
            .select("purchase_id", "p_user_id", "p_ts_us", "click_id", "c_ts_us")
            .collect(),
        )
    )
    assert got == want
    assert len(got) == len(set(got)), "restart must not duplicate matches"


def test_streaming_index_append_matches_union_built_index(spark, tmp_path):
    """The embedding-side twin of the incremental dedup index: a saved IVF
    index grown from a multi-batch vector stream (one append_index call per
    micro-batch through foreachBatch) must answer queries exactly like the
    in-memory assignment of the UNION corpus against the same frozen
    centroids, and the drift ledger must carry one monotone append_id per
    non-empty batch covering every streamed vector once."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import (
        _ivf_query,
        ivf_topk_prebuilt,
        load_index,
        save_index,
    )
    from samsa_spark.streaming.pipeline import (
        StreamingIndexAppender,
        run_streaming_index_append,
    )
    from samsa_spark.streaming.sources import file_stream

    emb = tables.load(spark, SF_SMALL, "embeddings")
    half1 = emb.where(F.col("vec_id") % 2 == 0)
    half2 = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    save_index(half1, path, cells=8)

    src = str(tmp_path / "src")
    half2.repartition(4).write.parquet(src)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_streaming_index_append(
            file_stream(spark, src, half2.schema, max_files_per_trigger=1),
            str(tmp_path / "chk"),
            StreamingIndexAppender(path),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    cents, _ = load_index(spark, path)
    got = sorted(
        tuple(r) for r in ivf_topk_prebuilt(spark, path, n_probes=20, k=5).collect()
    )
    want = sorted(
        tuple(r)
        for r in _ivf_query(
            emb.select("vec_id", "embedding"), cents, "cell", n_probes=20, k=5
        ).collect()
    )
    assert got == want and len(got) > 0

    drift = spark.read.parquet(f"{path}/drift").collect()
    ids = sorted({r.append_id for r in drift})
    assert ids == list(range(len(ids))) and len(ids) >= 2  # several batches, monotone
    assert sum(r.n_appended for r in drift) == half2.count()


def test_st9_streaming_outer_join_oracle(spark):
    """st9: the watermarked LEFT OUTER stream-stream join must emit exactly
    the batch left join — every match once, plus every unmatched purchase
    once with null click columns (flushed by the far-future sentinel +
    AvailableNow's closing no-data batch)."""
    from tests.oracle import check_query

    ok, msg = check_query(spark, "st9_streaming_outer_join", SF_SMALL)
    assert ok, msg


def test_st9_emits_unmatched_purchases_with_nulls(spark):
    """The outer half is real: purchases with no qualifying click in the
    preceding hour appear exactly once with null click_id, and the
    sentinel row does not leak into the output."""
    from samsa_spark.registry import all_queries

    rows = all_queries()["st9_streaming_outer_join"](spark, SF_SMALL).collect()
    unmatched = [r for r in rows if r.click_id is None]
    assert len(unmatched) > 0
    assert all(r.c_ts_us is None for r in unmatched)
    assert all(r.purchase_id != -1 for r in rows)
    # exactly-once per unmatched purchase
    ids = [r.purchase_id for r in unmatched]
    assert len(ids) == len(set(ids))


def test_streaming_card_accumulator_equals_one_pass_card(spark, tmp_path):
    """Corpus card over a multi-batch document stream == the one-pass batch
    card (HLL union exactness + counts add + KLL exact below compaction);
    and a manually retried batch is EXACTLY-ONCE (overwrite-into-own-dir),
    leaving the merged card unchanged."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.text import corpus_card_partial, merge_corpus_cards
    from samsa_spark.streaming.pipeline import (
        StreamingCardAccumulator,
        run_streaming_card,
    )
    from samsa_spark.streaming.sources import file_stream

    docs = tables.load(spark, SF_SMALL, "documents").select(
        "doc_id", "text", "source"
    )
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)

    acc = StreamingCardAccumulator(str(tmp_path / "cards"))
    stream = file_stream(spark, src, docs.schema, max_files_per_trigger=1)
    run_streaming_card(stream, str(tmp_path / "chk"), acc)

    def card_rows(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "source",
                "n_docs",
                "total_tokens",
                F.round("approx_distinct_contents", 6).alias("adc"),
                "approx_p50_tokens",
                "approx_p95_tokens",
            ).collect()
        )

    want = card_rows(merge_corpus_cards(corpus_card_partial(docs)))
    got = card_rows(acc.merged(spark))
    assert got == want and len(got) > 0

    # exactly-once under retry: landing the SAME batch twice (same
    # batch_id) must leave the merged card unchanged — the overwrite
    # replaces, never double-counts
    extra = docs.limit(37)
    acc(extra, 99)
    after_once = card_rows(acc.merged(spark))
    acc(extra, 99)
    assert card_rows(acc.merged(spark)) == after_once


def test_st12_oracle_match(spark):
    from tests.oracle import check_query

    ok, msg = check_query(spark, "st12_streaming_quantile_digest", SF_SMALL)
    assert ok, msg


def test_streaming_digest_equals_one_pass_and_retry_exactly_once(spark, tmp_path):
    """st12's engine half: quantiles over a multi-batch event stream == the
    one-pass digest over the whole log (merge-by-sum makes trigger
    boundaries invisible), and a retried batch replaces itself — the
    merged digest never double-counts."""
    from samsa_spark import tables
    from samsa_spark.operators.pipeline_ops import (
        digest_partial,
        digest_quantiles,
    )
    from samsa_spark.streaming.pipeline import (
        StreamingDigestAccumulator,
        run_streaming_digest,
    )
    from samsa_spark.streaming.sources import file_stream

    ev = tables.load(spark, SF_SMALL, "events").select("event_type", "value")
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)

    acc = StreamingDigestAccumulator(str(tmp_path / "digest"), width=8.0)
    stream = file_stream(spark, src, ev.schema, max_files_per_trigger=1)
    run_streaming_digest(stream, str(tmp_path / "chk"), acc)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows(digest_quantiles(digest_partial(ev, "value", "event_type", 8.0), 8.0))
    got = rows(acc.quantiles(spark))
    assert got == want and len(got) > 0

    # exactly-once under retry: same batch_id delivered twice -> unchanged
    extra = ev.limit(41)
    acc(extra, 99)
    after_once = rows(acc.quantiles(spark))
    acc(extra, 99)
    assert rows(acc.quantiles(spark)) == after_once


def test_streaming_entity_resolver_chains_retries_and_replays(spark, tmp_path):
    """st13's engine half, driven at the foreachBatch contract: batch 0
    bootstraps the map (all new), batch 1 one-hops onto batch-0 entities
    and mints its own, batch 2 one-hops onto a BATCH-1 entity (the
    cross-batch chain); a retried batch is byte-identical (it reads only
    prior-batch entity dirs); and the registry's full streaming replay is
    deterministic run-to-run."""
    from samsa_spark.streaming.pipeline import StreamingEntityResolver

    def parts(rows):
        return spark.createDataFrame(
            [(i, n) for i, n in enumerate(rows)], "p_partkey long, p_name string"
        )

    res = StreamingEntityResolver(str(tmp_path / "emap"), str(tmp_path / "out"))
    res(parts(["red widget", "blue gear"]), 0)
    res(parts(["red widgett", "green cog"]), 1)
    res(parts(["green cogs"]), 2)

    def batch_rows(b):
        return {
            r.p_name: (r.entity_name, r.match_dist, r.is_new)
            for r in spark.read.parquet(str(tmp_path / "out" / f"batch_id={b}")).collect()
        }

    b0, b1, b2 = batch_rows(0), batch_rows(1), batch_rows(2)
    assert b0 == {
        "red widget": ("red widget", -1, True),
        "blue gear": ("blue gear", -1, True),
    }
    assert b1["red widgett"] == ("red widget", 1, False)  # one-hop to batch 0
    assert b1["green cog"] == ("green cog", -1, True)  # new entity in batch 1
    assert b2["green cogs"] == ("green cog", 1, False)  # chain onto BATCH 1
    # retry batch 1: prior-dirs-only read -> byte-identical assignment
    res(parts(["red widgett", "green cog"]), 1)
    assert batch_rows(1) == b1
    # and batch 2's entity dir holds nothing (no new entities there)
    ent2 = spark.read.parquet(str(tmp_path / "emap" / "entities" / "batch_id=2"))
    assert ent2.count() == 0


def test_st13_registry_replay_is_deterministic(spark):
    """Two full streaming replays of the same staged backlog assign
    identical (name, entity, dist, is_new) tuples — file order is
    (mtime, path), so batch composition is stable."""
    from samsa_spark import registry

    q = registry.all_queries()["st13_streaming_entity_resolution"]

    def rows():
        return sorted(
            (r.p_name, r.entity_name, r.match_dist, r.is_new)
            for r in q(spark, SF_SMALL).collect()
        )

    first = rows()
    assert len(first) > 0
    assert rows() == first


def test_incremental_dedup_index_retry_replay_exactly_once(spark, tmp_path):
    """Round-11 verdict task 4: the dedup index sink is exactly-once —
    delivering the SAME micro-batch twice (foreachBatch's at-least-once
    retry) leaves both the pairs ledger and the band index identical to a
    single delivery, because each batch overwrites its own batch_id
    directory and joins only against strictly-older batches."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.streaming.pipeline import IncrementalDedupIndex

    docs = tables.load(spark, SF_SMALL, "documents").select("doc_id", "text")
    b0 = docs.where("doc_id % 3 = 0")
    b1 = docs.where("doc_id % 3 = 1")
    sink = IncrementalDedupIndex(
        str(tmp_path / "index"), str(tmp_path / "pairs"), min_est_jaccard=0.05
    )
    sink(b0, 0)
    sink(b1, 1)

    def snap():
        pairs = {
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
        }
        idx = {
            (r.doc_id, r.band, r.bh)
            for r in spark.read.parquet(str(tmp_path / "index"))
            .select("doc_id", "band", "bh")
            .collect()
        }
        return pairs, idx

    once = snap()
    assert once[0] and once[1]
    sink(b1, 1)  # the retry
    spark.catalog.refreshByPath(str(tmp_path / "pairs"))
    spark.catalog.refreshByPath(str(tmp_path / "index"))
    assert snap() == once
    # a restart with a FRESH sink object still joins against old batches:
    # batch 2 must find cross-batch pairs vs b0/b1, matching a by-hand join
    fresh_sink = IncrementalDedupIndex(
        str(tmp_path / "index"), str(tmp_path / "pairs"), min_est_jaccard=0.05
    )
    b2 = docs.where("doc_id % 3 = 2")
    fresh_sink(b2, 2)
    pairs_after = spark.read.parquet(str(tmp_path / "pairs"))
    cross = pairs_after.where(F.col("batch_id") == 2).count()
    assert cross > 0


def test_streaming_index_appender_retry_replay_exactly_once(spark, tmp_path):
    """The IVF appender's exactly-once contract: replaying a micro-batch
    writes zero new assignment rows (already-present vec_ids anti-joined
    away in the touched cells) and the drift rows for that batch overwrite
    themselves — index and drift byte-identical to a single delivery."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import load_index, save_index
    from samsa_spark.streaming.pipeline import StreamingIndexAppender

    emb = tables.load(spark, SF_SMALL, "embeddings")
    half1 = emb.where(F.col("vec_id") % 2 == 0)
    half2 = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    save_index(half1, path, cells=8)
    app = StreamingIndexAppender(path)
    app(half2, 0)

    def snap():
        _, assign = load_index(spark, path)
        a = {(r.vec_id, r.cell) for r in assign.select("vec_id", "cell").collect()}
        d = {
            tuple(r)
            for r in spark.read.parquet(f"{path}/drift")
            .select("append_id", "cell", "n_appended", "avg_assign_cos")
            .collect()
        }
        return a, d

    once = snap()
    app(half2, 0)  # the retry
    spark.catalog.refreshByPath(f"{path}/assignments")
    assert snap() == once


def test_append_graph_idempotent_and_streaming_matches_oneshot(spark, tmp_path):
    """Round-11 verdict task 6: (a) append_graph re-delivered the same
    batch rewrites nothing (ids found in place, rebuild skipped); (b) a
    multi-batch stream through StreamingGraphAppender equals one-shot
    append_graph of the whole split — cell membership under frozen
    centroids is batch-order-invariant and each cell rebuild is a pure
    function of its final member set."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import (
        append_graph,
        load_graph_index,
        save_graph_index,
    )
    from samsa_spark.streaming.pipeline import (
        StreamingGraphAppender,
        run_streaming_graph_append,
    )
    from samsa_spark.streaming.sources import file_stream

    emb = tables.load(spark, SF_SMALL, "embeddings")
    half1 = emb.where(F.col("vec_id") % 2 == 0)
    half2 = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")

    def graph_snap(path):
        g = load_graph_index(spark, path)["graph"]
        return {
            (r.vec_id, r.cell, tuple(r.nbrs)) for r in g.select("vec_id", "cell", "nbrs").collect()
        }

    # (a) idempotency of the batch op
    p1 = str(tmp_path / "g1")
    save_graph_index(half1, p1, cells=8)
    append_graph(spark, p1, half2)
    once = graph_snap(p1)
    again = append_graph(spark, p1, half2)  # re-delivery: must change nothing
    assert graph_snap(p1) == once
    assert {tuple(sorted((r.vec_id, r.cell) for r in again.select("vec_id", "cell").collect()))}

    # (b) streaming multi-batch == one-shot append
    p2 = str(tmp_path / "g2")
    save_graph_index(half1, p2, cells=8)
    src = str(tmp_path / "src")
    half2.repartition(4).write.parquet(src)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_streaming_graph_append(
            file_stream(spark, src, half2.schema, max_files_per_trigger=1),
            str(tmp_path / "chk"),
            StreamingGraphAppender(p2),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert graph_snap(p2) == once


def test_st10_streaming_exact_jaccard_oracle(spark):
    """st10 (exactly-once streaming dd19 lifecycle) vs dd16's oracle: the
    union of per-batch exact pair emissions must equal the batch
    prefix-Jaccard join over the whole corpus — every pair exactly once,
    at the batch where its later side arrived."""
    from tests.oracle import check_query

    ok, msg = check_query(spark, "st10_streaming_exact_jaccard", SF_SMALL)
    assert ok, msg


def test_streaming_exact_dedup_sink_retry_exactly_once(spark, tmp_path):
    """Direct foreachBatch re-delivery simulation for the st10 sink: a
    bootstrap-batch retry re-runs the idempotent overwrite build; a later
    batch retried AFTER its append landed re-emits an identical pair set
    (its own docs now answer from the index side, dropDuplicates collapses
    the double-sided sets) and appends zero rows; drift stays one row per
    batch id."""
    from samsa_spark import tables
    from samsa_spark.streaming.pipeline import StreamingExactDedupIndex

    docs = tables.load(spark, SF_SMALL, "documents").select("doc_id", "text")
    b0 = docs.where("doc_id % 2 = 0")
    b1 = docs.where("doc_id % 2 = 1")
    sink = StreamingExactDedupIndex(
        str(tmp_path / "index"), str(tmp_path / "pairs"), min_jaccard=0.3
    )

    def snap():
        import pandas as pd  # noqa: F401

        pairs = sorted(
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / "pairs"))
            .select("batch_id", "doc_a", "doc_b", "n_inter", "jaccard")
            .collect()
        )
        # the index's one posting table: its row count and its posting
        # count both grow if a retried append re-adds the batch
        sets = spark.read.parquet(str(tmp_path / "index") + "/sets")
        return pairs, sets.count(), sets.agg(F.sum("n_sh")).first()[0]

    sink(b0, 0)
    first = snap()
    sink(b0, 0)  # bootstrap retry (engine replays it only before batch 1)
    spark.catalog.refreshByPath(str(tmp_path / "pairs"))
    assert snap() == first

    sink(b1, 1)
    second = snap()
    assert len(second[0]) > len(first[0])  # cross-batch pairs appeared
    drift = spark.read.parquet(str(tmp_path / "index") + "/drift")
    assert {r.append_id for r in drift.collect()} == {1}

    sink(b1, 1)  # retry AFTER the append landed
    spark.catalog.refreshByPath(str(tmp_path / "pairs"))
    for sub in ("sets", "drift"):
        spark.catalog.refreshByPath(str(tmp_path / "index") + f"/{sub}")
    assert snap() == second
    drift2 = spark.read.parquet(str(tmp_path / "index") + "/drift")
    assert {r.append_id for r in drift2.collect()} == {1}
    assert drift2.count() == 1


def test_first_occurrence_stream_late_arrival_overwrites(spark, tmp_path):
    """st11's fold: a LATER trigger delivering an EARLIER event must
    overwrite the stored first occurrence. File processing order is forced
    via modification times (FileStreamSource picks oldest-mtime first)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from samsa_spark.streaming.pipeline import run_first_occurrence_stream

    src = tmp_path / "src"
    src.mkdir()
    # file a (processed first): the LATE-timestamped event; file b
    # (processed second): the true first occurrence
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"k": ["7|view"], "ts_us": [100], "event_id": [9]})),
        str(src / "a.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"k": ["7|view"], "ts_us": [5], "event_id": [3]})),
        str(src / "b.parquet"),
    )
    os.utime(str(src / "a.parquet"), (1_000, 1_000))
    os.utime(str(src / "b.parquet"), (2_000, 2_000))
    schema = spark.createDataFrame(
        [("7|view", 100, 9)], "k string, ts_us long, event_id long"
    ).schema
    st = run_first_occurrence_stream(
        spark, str(src), str(tmp_path / "chk"), schema, max_files_per_trigger=1
    )
    rows = st.collect()
    assert len(rows) == 1
    assert (rows[0].k, rows[0].ts_us, rows[0].event_id) == ("7|view", 5, 3)


def test_streaming_adoption_order_equals_batch(spark):
    """The registered st11 stream must reproduce batch sq1 exactly on the
    fixture log (shared oracle by construction — this locks the two
    implementations against each other directly)."""
    from samsa_spark import registry, tables
    from samsa_spark.operators.mining import adoption_order_support

    got = registry.all_queries()["st11_streaming_adoption_order"](spark, SF_SMALL)
    want = adoption_order_support(tables.load(spark, SF_SMALL, "events"))
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
