"""Scale sweep: replicate the sf0.1 testdata 10x/100x and measure the core
operators — the evidence behind PLANS.md's "would this survive 100x" tables.

Usage:  python scripts/scale_sweep.py [events|dedup|all]

- events: events log at 100k / 1M / 10M rows (replicas with shifted key/id
  spaces, so key cardinality and per-key history both grow) -> D2 compaction,
  D5 change detection, ses1 sessionization.
- dedup: documents corpus at 1x and 10x (each doc + 9 perturbed replicas, so
  true near-dup pairs grow ~100x) -> dd2 exact Jaccard, dd3 MinHash-LSH,
  dd4 SimHash.

Timings are steady-state (one warm pass per operator first at the smallest
size). Writes one JSON line per measurement to stdout; paste the table into
PLANS.md when the numbers move.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.1"


def _spark():
    from samsa_spark.session import get_spark

    return get_spark(
        "scale-sweep",
        # retainedJobs must exceed any sweep's total job count or the
        # statusTracker-based job counting (sweep_bpe) silently floors at
        # the retention limit (default 1000 — it truncated the first
        # batch=1 measurement to 905).
        extra_conf={"spark.driver.memory": "24g", "spark.ui.retainedJobs": "100000"},
    )


def _time(label: str, df_builder, rows: int) -> None:
    t0 = time.time()
    df_builder().write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "measure": label,
                "rows": rows,
                "sec": round(dt, 2),
                "rows_per_sec": int(rows / dt),
            }
        ),
        flush=True,
    )


def sweep_events(spark) -> None:
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.advanced import sessionize
    from samsa_spark.operators.state import compact_latest, detect_changes

    base = tables.load(spark, SF_DIR, "events").select(
        "user_id", "ts_us", "event_id", "event_type", "value"
    )
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        # Shift both key and id spaces per replica: key cardinality grows
        # (new users) AND each original key keeps its history (same user_id
        # modulo shift pattern keeps ordering valid).
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("user_id") + F.col("_r") * 1000).alias("user_id"),
            (F.col("ts_us") + F.col("_r")).alias("ts_us"),
            (F.col("event_id") + F.col("_r") * 100_000_000).alias("event_id"),
            "event_type",
            "value",
        )
        return df, n_base * factor

    # warm codegen + python-free paths at the smallest size
    compact_latest(base).write.mode("overwrite").format("noop").save()
    for factor in (1, 10, 100):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)  # measure operators, not generation
        _time(f"d2_compact_x{factor}", lambda: compact_latest(df), n)
        _time(f"d5_changes_x{factor}", lambda: detect_changes(df), n)
        _time(f"ses1_sessionize_x{factor}", lambda: sessionize(df), n)
        df.unpersist()


def sweep_dedup(spark) -> None:
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.dedup import (
        decontaminate,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )

    docs = tables.load(spark, SF_DIR, "documents", spread=True).select("doc_id", "text")
    n_docs = docs.count()

    def perturbed(factor: int):
        if factor == 1:
            return docs, n_docs
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
            # replica 0 keeps the text; others get a token appended — near
            # dups with jaccard just below 1.0
            F.when(F.col("_r") == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", "text", F.concat(F.lit("r"), F.col("_r"))))
            .alias("text"),
        )
        return df, n_docs * factor

    minhash_lsh_pairs(docs).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        df, n = perturbed(factor)
        df = df.localCheckpoint(eager=True)
        _time(f"dd2_exact_jaccard_x{factor}", lambda: ngram_jaccard_pairs(df, 0.5), n)
        _time(f"dd3_minhash_lsh_x{factor}", lambda: minhash_lsh_pairs(df, 0.5), n)
        _time(f"dd4_simhash_x{factor}", lambda: simhash_near_pairs(df), n)
        # fixed benchmark probe set (broadcast), corpus grows -> must be
        # linear in N (one broadcast join + count, no self-join)
        _time(f"dc1_decontaminate_x{factor}", lambda: decontaminate(df), n)
        df.unpersist()


def sweep_text(spark) -> None:
    """Per-document prep stages at 1x/10x corpus: tx7 PII scrub and ck1
    overlap chunking are shuffle-free scan transforms (must scale ~linearly
    with N); lm1 unigram scoring carries the one type-cardinality vocab
    shuffle + broadcast join (near-linear expected — vocab grows far slower
    than the corpus)."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.pipeline_ops import chunk_overlap, unigram_logprob
    from samsa_spark.operators.text import pii_scrub

    docs = tables.load(spark, SF_DIR, "documents", spread=True).select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    pii_scrub(docs).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        if factor == 1:
            df, n = docs, n_docs
        else:
            reps = spark.range(factor).select(F.col("id").alias("_r"))
            df = docs.crossJoin(F.broadcast(reps)).select(
                (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
                F.concat_ws(" ", "text", F.concat(F.lit("r"), F.col("_r"))).alias("text"),
            )
            n = n_docs * factor
        df = df.localCheckpoint(eager=True)
        _time(f"tx7_pii_scrub_x{factor}", lambda: pii_scrub(df), n)
        _time(f"ck1_chunk_overlap_x{factor}", lambda: chunk_overlap(df), n)
        _time(f"lm1_unigram_logprob_x{factor}", lambda: unigram_logprob(df), n)
        df.unpersist()


def sweep_quantile(spark) -> None:
    """qf1/dd10 at 1x/10x corpus: qf1 is two scans + a bounded-state
    percentile aggregate (3-dp quantization caps distinct values) + one
    broadcast cutpoint join — must scale ~linearly; dd10 is one
    distinct-hash aggregate over the reference + a broadcast equi-join —
    linear in the snapshot with a fixed reference."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.dedup import dedup_against
    from samsa_spark.operators.pipeline_ops import quality_quantile_report

    docs = tables.load(spark, SF_DIR, "documents", spread=True).select(
        "doc_id", "source", "text"
    )
    n_docs = docs.count()
    quality_quantile_report(docs).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        if factor == 1:
            df, n = docs, n_docs
        else:
            reps = spark.range(factor).select(F.col("id").alias("_r"))
            df = docs.crossJoin(F.broadcast(reps)).select(
                (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
                "source",
                F.concat_ws(" ", "text", F.concat(F.lit("r"), F.col("_r"))).alias("text"),
            )
            n = n_docs * factor
        df = df.localCheckpoint(eager=True)
        _time(f"qf1_quality_quantile_x{factor}", lambda: quality_quantile_report(df), n)
        _time(
            f"dd10_dedup_against_x{factor}",
            lambda: dedup_against(df, reference=docs),
            n,
        )
        df.unpersist()


def sweep_packing(spark) -> None:
    """pk1 (window per source — a handful of partitions) vs pk2 (window per
    (source, chunk)) as the corpus grows: the hierarchical form's advantage
    is parallelism, which only shows once per-source row counts dwarf the
    task count."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.pipeline_ops import pack_sequences, pack_sequences_chunked

    docs = tables.load(spark, SF_DIR, "documents", spread=True).select("source", "doc_id", "text")
    n_docs = docs.count()
    pack_sequences(docs).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        if factor == 1:
            df, n = docs, n_docs
        else:
            reps = spark.range(factor).select(F.col("id").alias("_r"))
            df = docs.crossJoin(F.broadcast(reps)).select(
                "source",
                (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
                "text",
            )
            n = n_docs * factor
        df = df.localCheckpoint(eager=True)
        _time(f"pk1_global_x{factor}", lambda: pack_sequences(df), n)
        _time(f"pk2_chunked_x{factor}", lambda: pack_sequences_chunked(df), n)
        df.unpersist()


def sweep_similarity(spark) -> None:
    """Brute-force cosine vs LSH vs IVF as the corpus grows 10x/50x: the
    probe set stays fixed (20 queries), so brute cost grows with N while
    the bucketed paths grow with candidates-per-probe."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import (
        ann_topk_lsh,
        cosine_topk,
        ivf_topk,
        ivf_topk_kmeans,
    )

    base = tables.load(spark, SF_DIR, "embeddings")
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
            "label",
            # perturb one component per replica so vectors are distinct but
            # near their originals (realistic near-neighbor structure)
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN i = CAST(_r % 64 AS INT) "
                "THEN x + CAST(0.01 * _r AS FLOAT) ELSE x END)"
            ).alias("embedding"),
        )
        return df, n_base * factor

    from samsa_spark.operators.similarity import quantized_topk

    cosine_topk(base).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10, 50):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        _time(f"sim1_brute_x{factor}", lambda: cosine_topk(df), n)
        # same probes x N shape on int8 codes: local cost tracks sim1 (the
        # win is the 3.6x smaller stored corpus — PLANS.md footprint table)
        _time(f"qz2_quantized_x{factor}", lambda: quantized_topk(df, k=3), n)
        _time(f"sim3_lsh_x{factor}", lambda: ann_topk_lsh(df), n)
        _time(f"sim4_ivf_x{factor}", lambda: ivf_topk(df), n)
        # ~sqrt(N) capped at 64: the Lloyd build is iters x N x cells
        # cosines — at local[32] scale the cap keeps the sweep bounded while
        # preserving the shape (build cost amortizes over every query).
        cells = min(64, max(8, int(n ** 0.5 // 8) * 8))
        _time(f"sim5_ivf_kmeans_x{factor}", lambda: ivf_topk_kmeans(df, cells=cells), n)
        df.unpersist()


def sweep_ivf_index(spark) -> None:
    """Build-once/query-many: index build (save_index: quantizer + N-row
    assignment + parquet write) vs query-only latency (ivf_topk_prebuilt
    over the saved index) vs the rebuild-every-query form, as the corpus
    grows. The gap between query-only and rebuild is what persisting the
    index buys every query after the first."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import (
        ivf_topk_kmeans,
        ivf_topk_prebuilt,
        save_index,
    )

    base = tables.load(spark, SF_DIR, "embeddings")
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
            "label",
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN i = CAST(_r % 64 AS INT) "
                "THEN x + CAST(0.01 * _r AS FLOAT) ELSE x END)"
            ).alias("embedding"),
        )
        return df, n_base * factor

    ivf_topk_kmeans(base, cells=8).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10, 50):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        cells = min(64, max(8, int(n**0.5 // 8) * 8))
        tmp = tempfile.mkdtemp(prefix="samsa-ivf-idx-")
        t0 = time.time()
        save_index(df, tmp, cells=cells)
        print(
            json.dumps(
                {"measure": f"ivf_index_build_x{factor}", "rows": n,
                 "sec": round(time.time() - t0, 2), "rows_per_sec": int(n / (time.time() - t0))}
            ),
            flush=True,
        )
        _time(f"ivf_query_only_x{factor}", lambda: ivf_topk_prebuilt(spark, tmp), n)
        _time(f"ivf_rebuild_x{factor}", lambda: ivf_topk_kmeans(df, cells=cells), n)
        df.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)


def sweep_streaming(spark) -> None:
    """StatefulStream throughput and state-store footprint: the events log
    replicated to 100k/1M/10M rows (key cardinality AND per-key history
    grow) through the full file-source -> applyInPandasWithState -> RocksDB
    pipeline with Trigger.AvailableNow, at 8 vs 32 shuffle partitions (one
    RocksDB store per partition — CLAUDE.md note 8)."""
    import os
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.streaming.sources import file_stream
    from samsa_spark.streaming.state_stream import StatefulStream

    base = tables.load(spark, SF_DIR, "events").select(
        "user_id", "ts_us", "event_id", "event_type", "value"
    )
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("user_id") + F.col("_r") * 1000).alias("user_id"),
            (F.col("ts_us") + F.col("_r")).alias("ts_us"),
            (F.col("event_id") + F.col("_r") * 100_000_000).alias("event_id"),
            "event_type",
            "value",
        )
        return df, n_base * factor

    def du_bytes(path: str) -> int:
        total = 0
        for dirpath, _, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        return total

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    for factor in (1, 10, 100):
        df, n = replicated(factor)
        tmp = tempfile.mkdtemp(prefix="samsa-stream-sweep-")
        src = os.path.join(tmp, "src")
        df.repartition(16).write.parquet(src)
        schema = spark.read.parquet(src).schema
        for parts in (8, 32):
            chk = os.path.join(tmp, f"chk{parts}")
            ss = StatefulStream(
                spark, "user_id", ("ts_us", "event_id"), ("event_type", "value")
            )
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            try:
                t0 = time.time()
                ss.run_available_now(
                    file_stream(spark, src, schema, max_files_per_trigger=8), chk
                )
                dt = time.time() - t0
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            print(
                json.dumps(
                    {
                        "measure": f"stream_state_x{factor}_p{parts}",
                        "rows": n,
                        "sec": round(dt, 2),
                        "rows_per_sec": int(n / dt),
                        "state_mb": round(du_bytes(os.path.join(chk, "state")) / 1e6, 1),
                    }
                ),
                flush=True,
            )
        shutil.rmtree(tmp, ignore_errors=True)


def sweep_streamforms(spark) -> None:
    """st5/st6 shapes at volume: the watermark windowed aggregate and the
    stream-stream attribution join over the events log replicated to
    100k/1M rows (distinct user spaces per replica -> match density stays
    constant, state grows with keys), at 8 vs 32 shuffle partitions (one
    state store per partition, note 14)."""
    import os
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.streaming.sources import file_stream

    W = 3_600_000_000
    base = tables.load(spark, SF_DIR, "events").select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("user_id") + F.col("_r") * 1000).alias("user_id"),
            (F.col("ts_us") + F.col("_r")).alias("ts_us"),
            (F.col("event_id") + F.col("_r") * 100_000_000).alias("event_id"),
            "event_type",
        )
        return df, n_base * factor

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    for factor in (1, 10):
        df, n = replicated(factor)
        lo, hi = df.agg(F.min("ts_us"), F.max("ts_us")).first()
        delay_us = (hi - lo) + W
        tmp = tempfile.mkdtemp(prefix="samsa-streamforms-")
        src = os.path.join(tmp, "src")
        df.repartition(16).write.parquet(src)
        t0m = time.time() - 1000
        for f in os.listdir(src):
            os.utime(os.path.join(src, f), (t0m, t0m))
        spark.createDataFrame(
            [(-1, hi + delay_us + 2 * W, -1, "_flush")], df.schema
        ).coalesce(1).write.mode("append").parquet(src)
        clicks_dir = os.path.join(tmp, "clicks")
        purch_dir = os.path.join(tmp, "purch")
        df.where("event_type = 'click'").repartition(8).write.parquet(clicks_dir)
        df.where("event_type = 'purchase'").repartition(8).write.parquet(purch_dir)
        c_schema = spark.read.parquet(clicks_dir).schema

        for parts in (8, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            try:
                # windowed aggregate (st5 shape)
                agg = (
                    file_stream(spark, src, df.schema, max_files_per_trigger=8)
                    .withColumn("evt", F.timestamp_micros(F.col("ts_us")))
                    .withWatermark("evt", f"{delay_us} microseconds")
                    .groupBy(F.window("evt", "1 hour"), "user_id")
                    .agg(F.count("*").alias("n"))
                )
                out = os.path.join(tmp, f"out-agg-{parts}")
                t0 = time.time()
                q = (
                    agg.writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", os.path.join(tmp, f"chk-a{parts}"))
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                dt = time.time() - t0
                print(json.dumps({"measure": f"st5_windowed_x{factor}_p{parts}", "rows": n, "sec": round(dt, 2), "rows_per_sec": int(n / dt)}), flush=True)

                # stream-stream join (st6 shape)
                sc = file_stream(spark, clicks_dir, c_schema, max_files_per_trigger=4)
                sp = file_stream(spark, purch_dir, c_schema, max_files_per_trigger=4)
                joined = sp.alias("p").join(
                    sc.alias("c"),
                    (F.col("p.user_id") == F.col("c.user_id"))
                    & (F.col("c.ts_us") <= F.col("p.ts_us"))
                    & (F.col("c.ts_us") >= F.col("p.ts_us") - W),
                    "inner",
                )
                out2 = os.path.join(tmp, f"out-join-{parts}")
                t0 = time.time()
                q = (
                    joined.writeStream.format("parquet")
                    .option("path", out2)
                    .option("checkpointLocation", os.path.join(tmp, f"chk-j{parts}"))
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                dt = time.time() - t0
                print(json.dumps({"measure": f"st6_join_x{factor}_p{parts}", "rows": n, "sec": round(dt, 2), "rows_per_sec": int(n / dt)}), flush=True)
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(tmp, ignore_errors=True)


def sweep_semdedup(spark) -> None:
    """sd1 SemDeDup at 1x/10x corpus with cells scaled ~N/150 (the
    SemDeDup sizing rule: fixed target cell size keeps the per-cell pairing
    ~linear in N — sum(cell^2) ~ N x target). Replicas are perturbed copies
    of the originals, so true semantic-dup pairs grow ~100x like the dedup
    sweep's."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import semantic_dedup

    base = tables.load(spark, SF_DIR, "embeddings")
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN i = CAST(_r % 64 AS INT) "
                "THEN x + CAST(0.001 * _r AS FLOAT) ELSE x END)"
            ).alias("embedding"),
        )
        return df, n_base * factor

    semantic_dedup(base, cells=8, min_cos=0.9, kmeans_iters=1).write.mode(
        "overwrite"
    ).format("noop").save()  # warm
    for factor in (1, 10):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        cells = max(32, n // 150)
        _time(
            f"sd1_semantic_dedup_x{factor}",
            lambda: semantic_dedup(df, cells=cells, min_cos=0.9),
            n,
        )
        df.unpersist()


def sweep_substring(spark) -> None:
    """dd7/dd8/dd9 at 1x and 10x corpus: replicas are the original text
    plus one appended token, so every replica position's k-span is
    dominated by replica 0 — dominated positions grow ∝ N (the worst
    realistic case: a corpus that is mostly template). The posting table,
    the occurrence-count aggregate, and the per-doc island windows are all
    linear in token positions, so rows/sec should hold ~flat at 10x."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.dedup import (
        dominated_span_fraction,
        strip_dominated_spans,
        substring_dup_spans,
    )

    docs = tables.load(spark, SF_DIR, "documents", spread=True).select("doc_id", "text")
    n_docs = docs.count()

    def perturbed(factor: int):
        if factor == 1:
            return docs, n_docs
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
            F.when(F.col("_r") == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", "text", F.concat(F.lit("r"), F.col("_r"))))
            .alias("text"),
        )
        return df, n_docs * factor

    substring_dup_spans(docs).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        df, n = perturbed(factor)
        df = df.localCheckpoint(eager=True)
        _time(f"dd7_substring_spans_x{factor}", lambda: substring_dup_spans(df), n)
        _time(f"dd8_dominated_frac_x{factor}", lambda: dominated_span_fraction(df), n)
        _time(f"dd9_strip_spans_x{factor}", lambda: strip_dominated_spans(df), n)
        df.unpersist()


def sweep_spans(spark) -> None:
    """dd14 (every-position postings) vs dd18 (winnowed minimizers) vs
    dd17 (per-chunk suffix array) at 1x and 10x corpus — the round-10
    span-dedup cost shapes. Replicas append one token, so each original
    doc's ENTIRE text is a shared run across its 10 copies (the template-
    corpus worst case). Expectations: dd14 and dd18 are posting-linear
    with dd18 shuffling ~2/(w+1) of dd14's anchor rows; dd17's chunk
    count grows with corpus bytes, so per-chunk SA work stays bounded and
    wall time ~flat given idle cores (32 here vs 6->56 chunks)."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.dedup import (
        char_dup_spans,
        suffix_dup_spans,
        winnow_dup_spans,
    )

    docs = tables.load(spark, SF_DIR, "documents", spread=True).select("doc_id", "text")
    n_docs = docs.count()

    def perturbed(factor: int):
        if factor == 1:
            return docs, n_docs
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
            F.when(F.col("_r") == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", "text", F.concat(F.lit("r"), F.col("_r"))))
            .alias("text"),
        )
        return df, n_docs * factor

    winnow_dup_spans(docs).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        df, n = perturbed(factor)
        df = df.localCheckpoint(eager=True)
        _time(f"dd14_char_spans_x{factor}", lambda: char_dup_spans(df), n)
        _time(f"dd18_winnow_spans_x{factor}", lambda: winnow_dup_spans(df), n)
        _time(f"dd17_exact_spans_x{factor}", lambda: suffix_dup_spans(df), n)
        df.unpersist()


def sweep_linecls(spark) -> None:
    """dd11/cls1 at 1x and 10x corpus. dd11 input is restructured into
    ~10-token lines with one shared boilerplate line appended per doc (the
    hot-line table grows with the line VOCABULARY while the drop set grows
    ∝ N — the realistic crawl shape); cls1 runs on the raw corpus. Both
    are explode -> algebraic hash aggregate (+ one join back), so rows/sec
    should hold ~flat at 10x."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.dedup import line_dedup
    from samsa_spark.operators.text import classifier_score

    docs = tables.load(spark, SF_DIR, "documents", spread=True).select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    toks = F.split("text", " ")
    lines = F.transform(
        F.sequence(F.lit(0), F.expr("(size(split(text, ' ')) - 1) div 10")),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)),
    )
    lined = docs.select(
        "doc_id",
        F.concat(
            F.array_join(lines, "\n"), F.lit("\nsubscribe to our newsletter")
        ).alias("text"),
    )

    def replicated(base, factor: int):
        if factor == 1:
            return base, n_docs
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
            F.concat_ws(" ", "text", F.concat(F.lit("u"), F.col("_r"))).alias("text"),
        )
        return df, n_docs * factor

    line_dedup(lined).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        for label, base, fn in (
            ("dd11_line_dedup", lined, line_dedup),
            ("cls1_classifier_score", docs, classifier_score),
        ):
            df, n = replicated(base, factor)
            df = df.localCheckpoint(eager=True)
            _time(f"{label}_x{factor}", lambda fn=fn, df=df: fn(df), n)
            df.unpersist()


def sweep_skew(spark) -> None:
    """Zipf-keyed log at 10M rows: vanilla vs salted forms of last-write
    compaction (d2 vs d2s) and of the fact-dim join (js1's shape), with the
    dim side forced off the broadcast path (the regime salting exists for)
    and AQE skew-join toggled — the measurement behind PLANS.md's
    'when does salting pay' rule.

    Keys are log-uniform over [1, 100k] (P(key) ~ 1/key, i.e. Zipf s=1):
    the hottest key draws ~1/ln(100k) ~ 8.7% of all rows."""
    import pyspark.sql.functions as F

    from samsa_spark.operators.scale import compact_latest_salted, salted_join
    from samsa_spark.operators.state import compact_latest

    n = 10_000_000
    n_keys = 100_000
    key_exprs = {
        # log-uniform over [1, 100k]: hottest key ~ n/ln(100k) ~ 6-9% of rows
        "zipf": f"cast(exp(rand(42) * ln({n_keys})) as long)",
        # one pathological key with half the log (~16x a 32-reducer share)
        "hot50": f"cast(CASE WHEN rand(42) < 0.5 THEN 1 "
        f"ELSE cast(rand(43) * {n_keys} as long) + 1 END as long)",
    }
    dim = (
        spark.range(n_keys + 1)
        .select(F.col("id").alias("user_id"), (F.col("id") % 25).alias("segment"))
        .localCheckpoint(eager=True)
    )
    warm = True
    for profile, key_expr in key_exprs.items():
        ev = (
            spark.range(n)
            .repartition(32)
            .select(
                F.col("id").alias("event_id"),
                F.expr(key_expr).alias("user_id"),
                F.col("id").alias("ts_us"),
                F.lit("purchase").alias("event_type"),
                (F.rand(7) * 100).alias("value"),
            )
            .localCheckpoint(eager=True)
        )
        hot = ev.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
        print(
            json.dumps(
                {
                    "measure": f"skew_profile_{profile}",
                    "rows": n,
                    "hottest_key_rows": int(hot),
                }
            ),
            flush=True,
        )

        def plain_join():
            return (
                ev.join(dim, "user_id")
                .groupBy("segment")
                .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            )

        def s_join():
            return (
                salted_join(ev.select("user_id", "event_id", "value"), dim, "user_id")
                .groupBy("segment")
                .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            )

        if warm:
            compact_latest(ev).write.mode("overwrite").format("noop").save()
            warm = False
        _time(f"skew_{profile}_d2_vanilla", lambda: compact_latest(ev), n)
        _time(f"skew_{profile}_d2s_salted", lambda: compact_latest_salted(ev), n)
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            _time(f"skew_{profile}_join_vanilla_aqe", plain_join, n)
            _time(f"skew_{profile}_join_salted_aqe", s_join, n)
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            _time(f"skew_{profile}_join_vanilla_noskewjoin", plain_join, n)
            _time(f"skew_{profile}_join_salted_noskewjoin", s_join, n)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)
        ev.unpersist()


def sweep_heavy(spark) -> None:
    """hh1 vs the naive full-gram group-by at 1x and 10x corpus: replicas
    multiply heavy-gram counts ~10x while unique per-replica noise tokens
    grow the distinct-gram keyspace — both axes a web crawl grows on.
    Also times cs3's theta overlap at both sizes (one sketch aggregate —
    should track scan cost)."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.text import corpus_overlap, heavy_ngrams

    docs = tables.load(spark, SF_DIR, "documents", spread=True).select(
        "doc_id", "text", "source"
    )
    n_docs = docs.count()

    def replicated(factor: int):
        if factor == 1:
            return docs, n_docs
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
            # interior grams repeat across replicas (heavies x factor);
            # the appended noise tokens mint ~4 unique grams per replica
            # (keyspace grows ~linearly too)
            F.concat_ws(
                " ",
                "text",
                F.concat(F.lit("n"), F.col("doc_id")),
                F.concat(F.lit("m"), F.col("_r")),
                F.concat(F.lit("q"), F.col("doc_id") + F.col("_r")),
            ).alias("text"),
            "source",
        )
        return df, n_docs * factor

    heavy_ngrams(docs).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        _time(f"hh1_sketch_rescan_x{factor}", lambda: heavy_ngrams(df), n)
        _time(
            f"hh1_plain_groupby_x{factor}", lambda: heavy_ngrams(df, sketch=False), n
        )
        _time(f"cs3_corpus_overlap_x{factor}", lambda: corpus_overlap(df), n)
        df.unpersist()


def sweep_funnel(spark) -> None:
    """fu1/co1/sp2 at 100k/1M/10M events (the `events` replication: key
    cardinality AND per-key history both grow): all three are
    user_id-keyed aggregate chains or bounded-state aggregates, so
    rows/sec should hold ~flat across 100x."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.advanced import cohort_retention, funnel_stages
    from samsa_spark.operators.pipeline_ops import temporal_split

    base = tables.load(spark, SF_DIR, "events").select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("user_id") + F.col("_r") * 1000).alias("user_id"),
            (F.col("ts_us") + F.col("_r")).alias("ts_us"),
            (F.col("event_id") + F.col("_r") * 100_000_000).alias("event_id"),
            "event_type",
        )
        return df, n_base * factor

    funnel_stages(base).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10, 100):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        _time(f"fu1_funnel_x{factor}", lambda: funnel_stages(df), n)
        _time(f"co1_cohort_x{factor}", lambda: cohort_retention(df), n)
        _time(f"sp2_temporal_split_x{factor}", lambda: temporal_split(df), n)
        df.unpersist()


def sweep_bpe(spark) -> None:
    """tok2 batched-merge sweep: driver-coordinated jobs must scale as
    ~n_merges/batch, making realistic vocabulary sizes (30k merges)
    feasible. The gate corpus has a 31-word vocabulary (exhausts after a
    handful of merges), so the sweep builds its own deterministic
    20k-word corpus; the measure is Spark JOB COUNT per learned merge
    (the driver-round-trip bottleneck), with wall time for context."""
    import numpy as np

    from samsa_spark.operators.text import train_bpe_merges

    rng = np.random.RandomState(42)
    letters = list("abcdefghijklmnopqrstuvwxyz")
    words = [
        "".join(rng.choice(letters, rng.randint(4, 12))) for _ in range(20_000)
    ]
    probs = 1.0 / np.arange(1, len(words) + 1)
    probs /= probs.sum()
    docs = [
        (i, " ".join(words[j] for j in rng.choice(len(words), 80, p=probs)))
        for i in range(2_000)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").localCheckpoint()
    sc = spark.sparkContext
    n_merges = 1000
    for batch in (16, 1):
        group = f"bpe-batch{batch}"
        sc.setJobGroup(group, "tok2 batched-merge sweep")
        t0 = time.time()
        got = train_bpe_merges(df, n_merges=n_merges, batch=batch).collect()
        dt = time.time() - t0
        sc.setJobGroup("bpe-idle", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(
            json.dumps(
                {
                    "measure": f"tok2_train_batch{batch}",
                    "n_merges": len(got),
                    "sec": round(dt, 2),
                    "spark_jobs": jobs,
                    "jobs_per_merge": round(jobs / max(len(got), 1), 3),
                }
            ),
            flush=True,
        )


def sweep_shards(spark) -> None:
    """Shard-append scale sweep: the manifest-patch design claims a daily
    append costs ~batch size + a footer-only file listing, NOT a corpus
    rescan. Evidence: append a FIXED 5k-doc batch into day-1 layouts built
    from 1x and 10x corpora — append time must stay ~flat (the 10x layout
    has 10x the rows; only its file count grows the footer listing), and
    compact_shards on an already-compact layout must be a near-free no-op
    at both scales."""
    import tempfile

    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.pipeline_ops import (
        append_shards,
        compact_shards,
        validate_shards,
        write_shards,
    )

    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    n_base = docs.count()
    batch = docs.limit(5_000).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000_000
    ).localCheckpoint()
    n_batch = batch.count()

    for factor in (1, 10):
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        day1 = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
            "text",
            "lang",
            "source",
        )
        base = tempfile.mkdtemp(prefix=f"samsa-shardsweep-{factor}x-")
        write_shards(day1, base, max_records_per_file=20_000)
        t0 = time.time()
        append_shards(batch, base, max_records_per_file=20_000)
        t_append = time.time() - t0
        t0 = time.time()
        compact_shards(spark, base, target_bytes=1 << 30)
        t_compact = time.time() - t0
        n_bad = validate_shards(spark, base).count()
        print(
            json.dumps(
                {
                    "measure": f"shard_append_{factor}x",
                    "corpus_rows": n_base * factor,
                    "batch_rows": n_batch,
                    "append_sec": round(t_append, 2),
                    "compact_noop_sec": round(t_compact, 2),
                    "validate_problems": n_bad,
                }
            ),
            flush=True,
        )


def sweep_ivfpq(spark) -> None:
    """qz3 (unpruned ADC: every query scans every code) vs qz4 (IVF-PQ:
    ADC only inside each query's probed cells) as the corpus grows — the
    evidence for qz4's 'compute scales with the probed fraction' claim.
    Both share codebook training and encoding cost; the delta is the
    candidate set the ADC fold actually touches. Cells scale ~sqrt(N)
    (the production rule) so the probed fraction shrinks as N grows."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import ivf_pq_topk, pq_topk

    base = tables.load(spark, SF_DIR, "embeddings")
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
            "label",
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN i = CAST(_r % 64 AS INT) "
                "THEN x + CAST(0.01 * _r AS FLOAT) ELSE x END)"
            ).alias("embedding"),
        )
        return df, n_base * factor

    from samsa_spark.operators.similarity import (
        _nearest_cell,
        kmeans_centroids,
        pq_codebooks,
        pq_encode,
    )

    pq_topk(base).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10, 50):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        cells = min(64, max(8, int(n ** 0.5 // 8) * 8))
        # end-to-end (train + encode + assign + query in one call)
        _time(f"qz3_pq_x{factor}", lambda: pq_topk(df), n)
        _time(f"qz4_ivfpq_x{factor}", lambda: ivf_pq_topk(df, cells=cells), n)
        # build-once/query-many split: the pruning claim is about QUERY
        # cost against a prebuilt index — the end-to-end numbers are
        # dominated by the shared train/encode/assign build.
        t0 = time.time()
        cb = pq_codebooks(df).localCheckpoint(eager=True)
        codes = pq_encode(df, cb).localCheckpoint(eager=True)
        cents = kmeans_centroids(df, k=cells, iters=1, round_cents=6)
        asg = _nearest_cell(
            df.select("vec_id", "embedding"), cents, "cell"
        ).select("vec_id", "cell").localCheckpoint(eager=True)
        print(json.dumps({"measure": f"qz4_build_x{factor}", "rows": n,
                          "sec": round(time.time() - t0, 2)}), flush=True)
        _time(
            f"qz3_query_only_x{factor}",
            lambda: pq_topk(df, codebooks=cb, codes=codes),
            n,
        )
        _time(
            f"qz4_query_only_x{factor}",
            lambda: ivf_pq_topk(
                df, cells=cells, codebooks=cb, codes=codes,
                centroids=cents, assignments=asg,
            ),
            n,
        )
        df.unpersist()


def sweep_bm25(spark) -> None:
    """bm1 as the corpus grows 10x/50x with a FIXED probe set: cost should
    track the posting-list build (one explode + hash aggregate over corpus
    tokens), not the query fan-out — the scored join moves only rows whose
    term matches a query term."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.text import bm25_topk

    base = tables.load(spark, SF_DIR, "documents", spread=True)
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
            # suffix one replica-specific token so replicas are distinct
            # docs with slightly shifted length norms
            F.concat_ws(" ", "text", F.concat(F.lit("rep"), F.col("_r"))).alias(
                "text"
            ),
            "lang",
            "source",
            "n_chars",
        )
        return df, n_base * factor

    bm25_topk(base).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10, 50):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        _time(f"bm1_bm25_x{factor}", lambda: bm25_topk(df), n)
        df.unpersist()


def sweep_dv1salt(spark) -> None:
    """dv1's per-cell top-k stage in isolation (the quantizer stages are
    identical in both paths): unsalted single window vs the two-phase
    (cell, salt)-then-cell form on synthetic assignment rows, uniform
    cells vs one cell holding half the corpus — the measurement behind
    diversity_sample(salt=)'s documented crossover."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    n = 20_000_000
    cells = 32
    per_cell = 8
    profiles = {
        "uniform": f"cast(id % {cells} as int)",
        "hot50": (
            f"cast(CASE WHEN rand(42) < 0.5 THEN 0 "
            f"ELSE cast(rand(43) * {cells - 1} as int) + 1 END as int)"
        ),
    }
    order = (F.desc("ccos"), F.asc("vec_id"))
    warm = True
    for profile, cell_expr in profiles.items():
        asg = (
            spark.range(n)
            .repartition(32)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(cell_expr).alias("cell"),
                F.round(F.rand(7), 6).alias("ccos"),
            )
            .localCheckpoint(eager=True)
        )

        def unsalted():
            w = Window.partitionBy("cell").orderBy(*order)
            return asg.withColumn("cell_rank", F.row_number().over(w)).where(
                F.col("cell_rank") <= per_cell
            )

        def salted():
            ws = Window.partitionBy("cell", "_salt").orderBy(*order)
            w = Window.partitionBy("cell").orderBy(*order)
            pre = (
                asg.withColumn("_salt", F.pmod(F.col("vec_id"), F.lit(32)))
                .withColumn("_sr", F.row_number().over(ws))
                .where(F.col("_sr") <= per_cell)
                .drop("_salt", "_sr")
            )
            return pre.withColumn("cell_rank", F.row_number().over(w)).where(
                F.col("cell_rank") <= per_cell
            )

        if warm:
            unsalted().write.mode("overwrite").format("noop").save()
            warm = False
        _time(f"dv1_topk_{profile}_unsalted", unsalted, n)
        _time(f"dv1_topk_{profile}_salted32", salted, n)
        asg.unpersist()


def sweep_dc2(spark) -> None:
    """dc1 shuffle fallback vs dc2 Bloom-prefiltered shuffle as the corpus
    grows — the evidence for dc2's 'only hits + fp mass reach the
    exchange' claim. Reports the posting rows surviving the prefilter
    (the shuffle-volume cut) alongside wall time of both forms. The
    benchmark side is held fixed (as in production: eval suites don't
    grow with the corpus), replicas perturb every token so replicated
    docs share no shingles with the benchmark."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.dedup import (
        bloom_contains,
        bloom_digest,
        decontaminate,
        shingle_postings,
    )

    base = tables.load(spark, SF_DIR, "documents", spread=True).select(
        "doc_id", "text"
    )
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
            F.when(F.col("_r") == 0, F.col("text"))
            .otherwise(
                F.concat(F.lit("r"), F.col("_r").cast("string"), F.lit("x "),
                         F.regexp_replace("text", " ", F.concat(F.lit(" r"), F.col("_r").cast("string"), F.lit("x "))))
            )
            .alias("text"),
        )
        return df, n_base * factor

    decontaminate(base).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        probes = df.where(F.col("doc_id") < 20)
        corpus = df.where(F.col("doc_id") >= 20)
        post = shingle_postings(corpus)
        total_post = post.count()
        dig = bloom_digest(shingle_postings(probes).select("sh").distinct())
        survivors = post.where(bloom_contains("sh", dig)).count()
        print(json.dumps({
            "measure": f"dc2_prefilter_x{factor}", "rows": n,
            "postings": total_post, "survive_bloom": survivors,
            "cut": round(1 - survivors / total_post, 4),
        }), flush=True)
        _time(
            f"dc1_shuffle_x{factor}",
            lambda: decontaminate(df, broadcast_benchmark=False),
            n,
        )
        _time(
            f"dc2_bloom_x{factor}",
            lambda: decontaminate(df, broadcast_benchmark=False, bloom_prefilter=True),
            n,
        )
        df.unpersist()


def sweep_qz5(spark) -> None:
    """Refine-stage overhead against a PREBUILT index as the corpus grows:
    qz4 query-only vs qz5 query-only (same artifacts, refine adds the
    candidate-bounded exact re-rank) — the evidence that the re-rank cost
    is flat in corpus size (candidates = n_probes x k x overfetch
    regardless of N)."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import (
        _nearest_cell,
        ivf_pq_topk,
        kmeans_centroids,
        pq_codebooks,
        pq_encode,
        refined_topk,
    )

    base = tables.load(spark, SF_DIR, "embeddings")
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
            "label",
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN i = CAST(_r % 64 AS INT) "
                "THEN x + CAST(0.01 * _r AS FLOAT) ELSE x END)"
            ).alias("embedding"),
        )
        return df, n_base * factor

    ivf_pq_topk(base).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        cells = min(64, max(8, int(n ** 0.5 // 8) * 8))
        cb = pq_codebooks(df).localCheckpoint(eager=True)
        codes = pq_encode(df, cb).localCheckpoint(eager=True)
        cents = kmeans_centroids(df, k=cells, iters=1, round_cents=6)
        asg = _nearest_cell(
            df.select("vec_id", "embedding"), cents, "cell"
        ).select("vec_id", "cell").localCheckpoint(eager=True)
        prebuilt = dict(codebooks=cb, codes=codes, centroids=cents, assignments=asg)
        _time(
            f"qz4_query_only_x{factor}",
            lambda: ivf_pq_topk(df, cells=cells, **prebuilt),
            n,
        )
        _time(
            f"qz5_refine_query_only_x{factor}",
            lambda: refined_topk(df, cells=cells, **prebuilt),
            n,
        )
        df.unpersist()


def sweep_qz6(spark) -> None:
    """Binary (1-bit) scan vs brute-force cosine as the corpus grows —
    the evidence that the JVM-side Hamming coarse stage buys its keep:
    both are |probes| x N scans, but qz6's per-pair work is two
    XOR+popcounts on packed longs in codegen while sim1's is a 64-float
    Arrow-batched dot product, and qz6's exact re-rank touches only the
    k*overfetch survivors."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import binary_topk, cosine_topk

    base = tables.load(spark, SF_DIR, "embeddings")
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
            "label",
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN i = CAST(_r % 64 AS INT) "
                "THEN x + CAST(0.01 * _r AS FLOAT) ELSE x END)"
            ).alias("embedding"),
        )
        return df, n_base * factor

    binary_topk(base).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10, 50):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        _time(f"sim1_brute_x{factor}", lambda: cosine_topk(df), n)
        _time(f"qz6_binary_x{factor}", lambda: binary_topk(df), n)
        df.unpersist()


def sweep_graph(spark) -> None:
    """gx1 graph ANN at 1x and 10x corpus: build (per-cell kNN graphs) and
    the prebuilt query side, vs sim1's brute scan. Cells scale ~sqrt(N)
    (the production rule), so per-cell c^2 graph work stays ~N per cell
    and the beam walk touches O(ef * degree) vectors per probed cell
    regardless of corpus size — the build should scale ~linearly, the
    query sub-linearly."""
    import time

    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.similarity import (
        cosine_topk,
        graph_topk,
        kmeans_centroids,
        nsw_cell_graph,
    )

    base = tables.load(spark, SF_DIR, "embeddings")
    n_base = base.count()

    def replicated(factor: int):
        if factor == 1:
            return base, n_base
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        df = base.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
            "label",
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN i = CAST(_r % 64 AS INT) "
                "THEN x + CAST(0.01 * _r AS FLOAT) ELSE x END)"
            ).alias("embedding"),
        )
        return df, n_base * factor

    cosine_topk(base).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        df, n = replicated(factor)
        df = df.localCheckpoint(eager=True)
        cells = max(32, int(n**0.5))
        t0 = time.time()
        cents = kmeans_centroids(df, k=cells).localCheckpoint(eager=True)
        g = nsw_cell_graph(df, centroids=cents).localCheckpoint(eager=True)
        t_build = time.time() - t0
        _time(
            f"gx1_prebuilt_query_x{factor}",
            lambda: graph_topk(df, centroids=cents, graph=g),
            n,
        )
        _time(f"sim1_brute_x{factor}", lambda: cosine_topk(df), n)
        print(
            json.dumps(
                {"measure": f"gx1_build_x{factor}", "rows": n, "cells": cells,
                 "sec": round(t_build, 2)}
            ),
            flush=True,
        )
        df.unpersist()


def sweep_iterative(spark) -> None:
    """pr1/lp1/mf1 at 1x and NODE-HEAVY 10x (round-13 de-cliff evidence):
    replicas shift BOTH the customer and supplier key spaces, so the node
    universe grows 10x with the data — the regime the round-12 verdict
    flagged (an unconditional rank/label broadcast OOMs by construction
    when nodes track corpus size). Measures the broadcast regime, the
    forced beyond-broadcast regime (broadcast_max_nodes=0 — what a 100x
    deployment runs), and the block-join ALS."""
    import time as _t

    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.factorization import als_convergence
    from samsa_spark.operators.mining import label_propagation, pagerank

    orders = tables.load(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    lineitem = tables.load(spark, SF_DIR, "lineitem", spread=True).select(
        "l_orderkey", "l_suppkey"
    )
    n_li = lineitem.count()

    def replicated(factor: int):
        if factor == 1:
            return orders, lineitem, n_li
        reps = spark.range(factor).select(F.col("id").alias("_r"))
        od = orders.crossJoin(F.broadcast(reps)).select(
            (F.col("o_orderkey") + F.col("_r") * 1_000_000_000).alias("o_orderkey"),
            (F.col("o_custkey") + F.col("_r") * 10_000_000).alias("o_custkey"),
        )
        li = lineitem.crossJoin(F.broadcast(reps)).select(
            (F.col("l_orderkey") + F.col("_r") * 1_000_000_000).alias("l_orderkey"),
            (F.col("l_suppkey") + F.col("_r") * 10_000_000).alias("l_suppkey"),
        )
        return od, li, n_li * factor

    pagerank(orders, lineitem).write.mode("overwrite").format("noop").save()  # warm
    for factor in (1, 10):
        od, li, n = replicated(factor)
        od = od.localCheckpoint(eager=True)
        li = li.localCheckpoint(eager=True)
        _time(f"pr1_broadcast_x{factor}", lambda: pagerank(od, li), n)
        _time(
            f"pr1_shuffle_x{factor}",
            lambda: pagerank(od, li, broadcast_max_nodes=0),
            n,
        )
        _time(f"lp1_broadcast_x{factor}", lambda: label_propagation(od, li), n)
        _time(
            f"lp1_shuffle_x{factor}",
            lambda: label_propagation(od, li, broadcast_max_nodes=0),
            n,
        )
        t0 = _t.time()
        hist = als_convergence(od, li).collect()
        print(
            json.dumps(
                {
                    "measure": f"mf1_blockjoin_x{factor}",
                    "rows": n,
                    "sec": round(_t.time() - t0, 2),
                    "iters": len(hist),
                }
            ),
            flush=True,
        )
        # The 10x replicas are the big blocks — free them before the next
        # factor (note 34: DataFrame.unpersist() would not release them).
        tables.free_checkpoint(od)
        tables.free_checkpoint(li)


def sweep_r13ops(spark) -> None:
    """Round-13 operators at 1x and 10x: zo1/ar1 over replicated lineitem
    (both key spaces shift — the catalog grows with the data), cls3/nv1
    over the perturbed near-dup documents corpus. Expectations: zo1 is a
    pure scan+aggregate (linear); ar1 rides fp1's pair aggregate
    (basket-bounded comb2, linear-ish); cls3 is two row-wise passes + one
    tiny aggregate (linear); nv1 is a gram-keyed combining aggregate +
    join back (posting-linear; the perturbed replicas multiply SHARED
    shingles, so novel fractions collapse but row volume stays 10x)."""
    import pyspark.sql.functions as F

    from samsa_spark import tables
    from samsa_spark.operators.dedup import novelty_scores
    from samsa_spark.operators.layout import zorder_curve_stats
    from samsa_spark.operators.mining import association_rules
    from samsa_spark.operators.text import classifier_eval

    li = tables.load(spark, SF_DIR, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    n_li = li.count()
    docs = tables.load(spark, SF_DIR, "documents", spread=True).select("doc_id", "text")
    n_docs = docs.count()
    reps = spark.range(10).select(F.col("id").alias("_r"))
    li10 = li.crossJoin(F.broadcast(reps)).select(
        (F.col("l_orderkey") + F.col("_r") * 1_000_000_000).alias("l_orderkey"),
        (F.col("l_partkey") + F.col("_r") * 10_000_000).alias("l_partkey"),
        (F.col("l_suppkey") + F.col("_r") * 10_000_000).alias("l_suppkey"),
    )
    docs10 = docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
        F.when(F.col("_r") == 0, F.col("text"))
        .otherwise(F.concat_ws(" ", "text", F.concat(F.lit("r"), F.col("_r"))))
        .alias("text"),
    )
    zorder_curve_stats(li).write.mode("overwrite").format("noop").save()  # warm
    for factor, lif, docf in ((1, li, docs), (10, li10, docs10)):
        lif = lif.localCheckpoint(eager=True)
        docf = docf.localCheckpoint(eager=True)
        _time(f"zo1_zorder_curve_x{factor}", lambda: zorder_curve_stats(lif), n_li * factor)
        _time(f"ar1_association_rules_x{factor}", lambda: association_rules(lif), n_li * factor)
        _time(f"cls3_classifier_eval_x{factor}", lambda: classifier_eval(docf), n_docs * factor)
        _time(f"nv1_novelty_scores_x{factor}", lambda: novelty_scores(docf), n_docs * factor)
        # DataFrame.unpersist() does not release localCheckpoint blocks
        # (note 34) — free them through the LogicalRDD handle.
        tables.free_checkpoint(lif)
        tables.free_checkpoint(docf)


_SWEEPS = (
    ("events", sweep_events),
    ("dedup", sweep_dedup),
    ("text", sweep_text),
    ("similarity", sweep_similarity),
    ("packing", sweep_packing),
    ("ivf_index", sweep_ivf_index),
    ("streaming", sweep_streaming),
    ("semdedup", sweep_semdedup),
    ("substring", sweep_substring),
    ("skew", sweep_skew),
    ("quantile", sweep_quantile),
    ("linecls", sweep_linecls),
    ("streamforms", sweep_streamforms),
    ("heavy", sweep_heavy),
    ("funnel", sweep_funnel),
    ("bpe", sweep_bpe),
    ("shards", sweep_shards),
    ("ivfpq", sweep_ivfpq),
    ("bm25", sweep_bm25),
    ("dv1salt", sweep_dv1salt),
    ("dc2", sweep_dc2),
    ("qz5", sweep_qz5),
    ("qz6", sweep_qz6),
    ("spans", sweep_spans),
    ("graph", sweep_graph),
    ("iterative", sweep_iterative),
    ("r13ops", sweep_r13ops),
)


def _free_persistent_rdds(spark) -> None:
    """Operator-INTERNAL localCheckpoints (pr1's edge shares, dd3's
    sketches, ...) die with the session, not the sub-sweep — a long 'all'
    run accumulates them into the note-39 broadcast-OOM class. Every
    sub-sweep's frames are dead once it returns, so free everything
    between sub-sweeps (the oracle_sweep pattern; no session-prebuilt
    artifacts live across sub-sweeps here)."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        try:
            rdd.unpersist(False)
        except Exception:
            pass  # a block already freed by the sweep itself — fine


def main() -> None:
    what = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = _spark()
    for name, fn in _SWEEPS:
        if what in (name, "all"):
            fn(spark)
            _free_persistent_rdds(spark)
    spark.stop()


if __name__ == "__main__":
    main()
