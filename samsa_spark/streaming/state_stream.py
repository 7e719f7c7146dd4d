"""StatefulStream: the reference's ``StatefulConsumer`` rebuilt on
Structured Streaming stateful operators.

Reference semantics being replaced (samsa/kafka/storage.py):
- ``consume(callback)`` storage.py:228-253 -> the per-key state update
- ``save(key, value)``  storage.py:190-206 -> the keyed state store write
- ``query(key)``        storage.py:208-219 -> :func:`read_state` (state data
  source reader) outside the operator
- changelog topics      storage.py:129-149 -> state checkpoint (engine) and
  the update-mode output rows this operator emits (external changelog)
- recovery replay       storage.py:151-184 -> checkpoint restore on restart

Two operators carry the same last-writer-wins state:

- **Native aggregate (the default).** Without ``ttl`` or ``eager_delete``,
  the state is ``max(struct(order..., value...[, _tombstoned]))`` per key,
  a streaming aggregation in update mode: the engine owns the fold, the
  RocksDB store holds the struct, and no Python worker starts. Marker-mode
  tombstones ride in the struct as the ``_tombstoned`` flag. Ties on the
  whole order tuple are broken by the payload columns (then the flag) in
  Spark's ordering, and a NULL in any column sorts below every value, so
  the winner is deterministic whatever the arrival order.
- **Pandas fold** (:func:`_build_fold`, ``applyInPandasWithState``). Kept
  for ``ttl`` (event-time timeouts) and ``eager_delete``
  (``state.remove()``), which an aggregate cannot express, and for
  checkpoints the fold already wrote: Spark refuses to resume a checkpoint
  under a different operator, so :meth:`StatefulStream.updates` probes an
  existing checkpoint's state schema and stays on the fold for it.

API choice for the fold: Spark 4 offers transformWithStateInPandas (richer:
timers, multiple state variables) but its Python worker requires protobuf,
absent in this container; applyInPandasWithState expresses the samsa
semantics (single ValueState per key, update-mode changelog) with no extra
deps and is the stable API since 3.4.

One semantic caveat carried over deliberately (SURVEY.md §7 "hard parts"):
samsa interleaves query/save per *message*; Spark hands the operator a
*batch* of rows per key per trigger. Either operator keeps the maximal
``(order...)`` row of the batch against prior state, so read-your-own-write
semantics are preserved at batch granularity — tested against batch
compaction in tests/test_streaming.py and the two operators against each
other in tests/test_streaming_equivalence.py.

Scale: state lives in per-partition RocksDB instances keyed by the groupBy
key — the same partitioned-state layout samsa approximates with one SQLite
file per consumer (sqldb.py:13), except rebalance/recovery is engine-owned.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import StructType

ROCKSDB_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
DEFAULT_PROVIDER = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"


def _select_store(spark: SparkSession, store: str) -> None:
    """Select the state-store provider the way samsa's ``store=`` enum does
    (db/__init__.py:10-15) — here a session conf, not an implementation:
    "rocksdb" for the RocksDB provider (changelog-checkpointed, the
    Kafka-Streams-alike), "default" for the HDFS-backed in-memory provider
    (the SQLite-ish fallback)."""
    if store == "rocksdb":
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        # Changelog checkpointing: commit the per-batch delta instead of
        # uploading a full RocksDB snapshot every commit (guide §5/§6 —
        # r15 A/B: −1.5 s on a 2-trigger 7.5k-key drain; at volume the
        # snapshot upload grows with STATE size while the changelog
        # grows with the BATCH). Snapshots still land in the background
        # per minBatchesToRetain, so restart cost stays bounded.
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    elif store == "default":
        # Explicit, not a no-op: a prior store="rocksdb" stream set the
        # session conf, and "default" must actually select the HDFS-backed
        # provider rather than silently inherit RocksDB.
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", DEFAULT_PROVIDER)
    else:
        # reference parity: storage.py:221-224 raises
        # UnknownDatabaseSpecified for anything but sqlite/rocksdb
        raise ValueError(f"unknown store {store!r}: expected 'rocksdb' or 'default'")


def _build_fold(
    key_col: str,
    order_cols: Sequence[str],
    value_cols: Sequence[str],
    tombstone: tuple[str, object] | None = None,
    eager_delete: bool = False,
    ttl: bool = False,
):
    """Build the per-key fold *inside* a function so cloudpickle serializes
    it by value (executor workers can't import this package when the driver
    runs from another cwd).

    ``tombstone=(col, val)`` enables the delete path (reference O6,
    ``RocksDBClient.delete`` samsa/db/rocksdb.py:75-85): a winning row whose
    ``col`` equals ``val`` deletes the key. Two deletion modes:

    - default (marker): state keeps the high-water ``(order...)`` mark with a
      ``_tombstoned`` flag — the log-compaction shape. Correct under
      out-of-order delivery across triggers (a late pre-delete event cannot
      resurrect the key, because the mark still wins the order comparison);
      :func:`read_state` filters the markers out.
    - ``eager_delete``: ``state.remove()`` immediately — samsa's literal
      semantics. Only correct when the feed is per-key ordered across
      triggers (samsa's poll loop is; an arbitrary file backlog is not).

    Either way the changelog row for a delete carries an explicit
    ``_deleted = true`` marker (plus null payload, the Kafka tombstone
    convention) — replay keys off the marker, never off payload nullness, so
    a genuinely-null winning value is not mistaken for a delete.

    The ``_tombstoned`` state column and the ``_deleted`` output column exist
    ONLY when a tombstone is configured: a plain StatefulStream keeps the
    exact (order..., value...) state struct, so pre-existing checkpoints stay
    schema-compatible.

    ``ttl=True`` (set by :class:`StatefulStream` when its ``ttl`` option is
    on) adds event-time eviction: the key's GroupState timeout is armed at
    its high-water mark, so the key is removed once the watermark (= max
    event time - horizon) passes it. GroupState clears the timeout on EVERY
    invocation, so it must be re-armed on every path — including the
    no-op "prior state already newer" path — or one quiet trigger would
    immortalize the key. Rows at or below the current watermark are ignored
    (the engine filters them too; the explicit guard makes non-resurrection
    a property of the fold, not of engine version behavior). An eviction
    EMITS a ``_deleted`` tombstone row (null payload, the key's final
    high-water order columns) so external changelogs record it —
    :func:`replay_changelog` then agrees with :func:`read_state` after
    evictions instead of resurrecting the key.

    Boundary note: when EVERY row for a not-yet-evicted stale key in a
    trigger is late (below the watermark), Spark still requires the re-armed
    timeout to sit ABOVE the current watermark, so that key's eviction slips
    to the next watermark advance — seeing a late row defers (never cancels)
    an overdue eviction by one step. This is engine-forced
    (setTimeoutTimestamp must exceed the watermark) and is why eviction
    timing is deliberately NOT part of any exact-hash oracle; the
    batch-equivalence guarantees tested are eventual (evicted keys stay
    gone, survivors equal batch compaction).
    """
    import math

    import pandas as pd

    def _nan_to_null(v):
        # pandas hands a NULL double over as NaN; state keeps it NULL, as
        # the changelog row (Arrow writes NaN as null) and batch compaction
        # do. A genuine NaN payload is indistinguishable here, so it is
        # stored as NULL too.
        return None if isinstance(v, float) and math.isnan(v) else v

    ocols = list(order_cols)
    vcols = list(value_cols)
    n_order = len(ocols)
    has_tomb = tombstone is not None
    tomb_idx = (n_order + vcols.index(tombstone[0])) if has_tomb else -1
    tomb_val = tombstone[1] if has_tomb else None

    def fold(key, pdfs, state):
        if ttl and state.hasTimedOut:
            # Changelog parity: the eviction must be visible downstream, or
            # replaying an external changelog would resurrect the key that
            # read_state no longer shows. Emit the Kafka-tombstone shape
            # (null payload + _deleted marker) carrying the key's final
            # high-water order columns, so replay's last-writer-wins picks
            # the delete (its batch id is necessarily newer than the last
            # live update's).
            prior = tuple(state.get) if state.exists else None
            state.remove()
            if prior is None:
                return iter(())
            out = {key_col: [key[0]]}
            for i, c in enumerate(ocols):
                out[c] = [prior[i]]
            for c in vcols:
                out[c] = [None]
            out["_deleted"] = [True]
            return iter([pd.DataFrame(out)])
        wm_ms = state.getCurrentWatermarkMs() if ttl else 0

        def _arm(hw_us) -> None:
            # Timeout fires when watermark > timestamp; arm at the key's
            # high-water mark (clamped above the watermark, which Spark
            # requires of new timeouts). int(): hw may be a numpy int64 from
            # pandas, and GroupState JSON-serializes the timestamp.
            state.setTimeoutTimestamp(int(max(hw_us // 1000 + 1, wm_ms + 1)))

        best = None  # tuple(order..., value...)
        for pdf in pdfs:
            if ttl and wm_ms > 0 and len(pdf):
                pdf = pdf[(pdf[ocols[0]] // 1000) > wm_ms]
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(ocols, kind="mergesort")
            last = pdf.iloc[-1]
            cand = tuple(last[c] for c in ocols) + tuple(_nan_to_null(last[c]) for c in vcols)
            if best is None or cand[:n_order] > best[:n_order]:
                best = cand
        if best is None:
            if ttl and state.exists:
                _arm(tuple(state.get)[0])
            return iter(())
        if state.exists:
            prior = tuple(state.get)
            if prior[:n_order] >= best[:n_order]:
                if ttl:
                    _arm(prior[0])
                return iter(())
        is_tomb = has_tomb and best[tomb_idx] == tomb_val
        if is_tomb and eager_delete:
            if state.exists:
                state.remove()
        elif has_tomb:
            state.update(best + (is_tomb,))
        else:
            state.update(best)
        if ttl and not (is_tomb and eager_delete):
            _arm(best[0])
        out = {key_col: [key[0]]}
        for i, c in enumerate(ocols):
            out[c] = [best[i]]
        for i, c in enumerate(vcols):
            out[c] = [None if is_tomb else best[n_order + i]]
        if has_tomb or ttl:
            out["_deleted"] = [is_tomb]
        return iter([pd.DataFrame(out)])

    return fold


class StatefulStream:
    """Latest-value-per-key state over a keyed stream (the samsa pattern).

    Parameters mirror the reference ctor (storage.py:17-26): the key column
    is the message key, value columns the payload, order columns the log
    order. ``store`` selects the state backend, "rocksdb" or "default"
    (:func:`_select_store`).

    ``ttl=(order_col, horizon)`` turns on opt-in state eviction: a key whose
    high-water mark falls more than ``horizon`` (an interval string, e.g.
    ``"1 hour"``) behind the stream's max event time is dropped from state
    at trigger time — the watermark-bounded pattern ``dedup_stream`` uses,
    applied to the keyed store. Without it samsa semantics hold exactly
    (every key forever, reference storage.py:190-206 — which at 100 TB with
    an unbounded key domain grows RocksDB without bound). ``order_col`` must
    be the first order column and hold µs-epoch BIGINTs (the repo's ts_us
    convention); the horizon doubles as the allowed event lateness, so an
    event older than the watermark can never resurrect an evicted key.
    """

    def __init__(
        self,
        spark: SparkSession,
        key_col: str = "user_id",
        order_cols: Sequence[str] = ("ts_us", "event_id"),
        value_cols: Sequence[str] = ("event_type", "value"),
        store: str = "rocksdb",
        tombstone: tuple[str, object] | None = None,
        eager_delete: bool = False,
        ttl: tuple[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.key_col = key_col
        self.order_cols = tuple(order_cols)
        self.value_cols = tuple(value_cols)
        if tombstone is not None and tombstone[0] not in self.value_cols:
            raise ValueError(
                f"tombstone column {tombstone[0]!r} must be one of value_cols "
                f"{self.value_cols} (order columns cannot carry the delete marker)"
            )
        if ttl is not None and ttl[0] != self.order_cols[0]:
            raise ValueError(
                f"ttl column {ttl[0]!r} must be the first order column "
                f"({self.order_cols[0]!r}) — eviction is defined on the log order's "
                "µs-epoch high-water mark"
            )
        self.tombstone = tombstone
        self.eager_delete = eager_delete
        self.ttl = ttl
        _select_store(spark, store)

    def _schemas(self, src: DataFrame) -> tuple[StructType, StructType]:
        fields = {f.name: f.dataType.simpleString() for f in src.schema.fields}
        state_ddl = ", ".join(
            f"{c} {fields[c]}" for c in (*self.order_cols, *self.value_cols)
        )
        out_ddl = ", ".join(
            f"{c} {fields[c]}"
            for c in (self.key_col, *self.order_cols, *self.value_cols)
        )
        # The marker columns exist only when deletes can happen, keeping
        # delete-free checkpoints schema-compatible with older runs. TTL
        # streams delete too (evictions), so their OUTPUT carries _deleted
        # — the changelog must record evictions or replay would resurrect
        # evicted keys — but their state needs no _tombstoned column
        # (eviction is state.remove(), not a high-water marker).
        if self.tombstone is not None:
            state_ddl += ", _tombstoned boolean"
        if self.tombstone is not None or self.ttl is not None:
            out_ddl += ", _deleted boolean"
        return StructType.fromDDL(state_ddl), StructType.fromDDL(out_ddl)

    def updates(self, stream_df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
        """Update-mode stream of state changes — the external changelog
        (reference O7, storage.py:129-149). With a tombstone configured, a
        delete surfaces as a null-payload row (Kafka tombstone shape); with
        ``ttl`` configured, watermark evictions surface the same way
        (``_deleted`` true), so a changelog built from this stream replays
        to exactly the surviving state.

        Which rows a trigger emits depends on the operator (module
        docstring): the native aggregate emits every key the trigger
        touched, with its current latest value even when that value did not
        advance; the fold emits only keys whose value advanced. Either way a
        key's emitted order never goes backwards, and replaying the rows
        last-writer-wins by batch id gives the same table.

        Pass the query's ``checkpoint_dir`` when resuming one: a checkpoint
        the fold wrote then stays on the fold (Spark refuses to resume it
        under another operator). :meth:`run_available_now` passes it."""
        if (
            self.ttl is None
            and not self.eager_delete
            and not (checkpoint_dir is not None and _written_by_fold(self.spark, checkpoint_dir))
        ):
            return self._latest_aggregate(stream_df)
        return self._fold_updates(stream_df)

    def _latest_aggregate(self, stream_df: DataFrame) -> DataFrame:
        """Last-writer-wins as a streaming aggregate: the state per key is
        ``max(struct(order..., value...[, _tombstoned]))``, the same tuple
        the fold keeps, stored as the aggregate's ``max`` buffer."""
        fields = [F.col(c) for c in (*self.order_cols, *self.value_cols)]
        if self.tombstone is not None:
            col, val = self.tombstone
            fields.append(F.coalesce(F.col(col) == F.lit(val), F.lit(False)).alias("_tombstoned"))
        latest = stream_df.groupBy(self.key_col).agg(F.max(F.struct(*fields)).alias("_latest"))
        out = [F.col(self.key_col), *(F.col(f"_latest.{c}").alias(c) for c in self.order_cols)]
        if self.tombstone is None:
            out += [F.col(f"_latest.{c}").alias(c) for c in self.value_cols]
        else:
            dead = F.col("_latest._tombstoned")
            out += [F.when(~dead, F.col(f"_latest.{c}")).alias(c) for c in self.value_cols]
            out.append(dead.alias("_deleted"))
        return latest.select(*out)

    def _fold_updates(self, stream_df: DataFrame) -> DataFrame:
        """The same state through the pandas fold (:func:`_build_fold`)."""
        state_schema, out_schema = self._schemas(stream_df)
        fold = _build_fold(
            self.key_col,
            self.order_cols,
            self.value_cols,
            self.tombstone,
            self.eager_delete,
            ttl=self.ttl is not None,
        )
        src = stream_df
        timeout = GroupStateTimeout.NoTimeout
        if self.ttl is not None:
            # Event-time watermark (delay = horizon) drives both late-row
            # filtering and the eviction timeouts; the helper column rides
            # the input only (state/output schemas were built above, from
            # the raw stream schema).
            src = stream_df.withColumn(
                "_ttl_event_time", F.timestamp_micros(F.col(self.ttl[0]))
            ).withWatermark("_ttl_event_time", self.ttl[1])
            timeout = GroupStateTimeout.EventTimeTimeout
        return src.groupBy(self.key_col).applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout,
        )

    def _check_changelog_compat(self, changelog_dir: str) -> None:
        """Refuse to append to a changelog whose layout predates this
        stream's output schema. Tombstone/TTL-configured streams emit a
        ``_deleted`` marker column; appending marker-bearing batches to a
        marker-less parquet changelog (written by an older, marker-free
        configuration of the same key space) would leave mixed file schemas
        — and :func:`replay_changelog` reading the sampled (old) schema
        would silently drop every delete/eviction on replay. Detect it up
        front and name the fix instead."""
        if self.tombstone is None and self.ttl is None:
            return
        try:
            existing = self.spark.read.parquet(changelog_dir).schema.names
        except Exception:
            return  # no changelog written yet — nothing to be incompatible with
        if "_deleted" not in existing:
            raise ValueError(
                f"changelog at {changelog_dir!r} was written without the "
                "_deleted marker column, but this stream is configured with "
                "tombstone/ttl and emits it. Appending would mix file schemas "
                "and replay_changelog would silently drop deletes/evictions. "
                "Restart from a fresh changelog directory (and a fresh "
                "checkpoint if the sink schema is engine-tracked)."
            )

    def run_available_now(
        self, stream_df: DataFrame, checkpoint_dir: str, changelog_dir: str | None = None
    ):
        """Drain everything currently available (Trigger.AvailableNow) into
        state, optionally appending update rows to a parquet changelog
        (batch-id-stamped, so replaying it last-writer-wins rebuilds the
        table exactly like reference recovery, storage.py:151-184).
        Returns after the query terminates.
        """
        upd = self.updates(stream_df, checkpoint_dir)
        if changelog_dir is not None:
            self._check_changelog_compat(changelog_dir)
        if changelog_dir is None:
            writer = upd.writeStream.format("noop").outputMode("update")
        else:

            def _append(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(
                    changelog_dir
                )

            writer = upd.writeStream.foreachBatch(_append).outputMode("update")
        q = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q


def _written_by_fold(spark: SparkSession, checkpoint_dir: str) -> bool:
    """Whether ``checkpoint_dir`` holds state written by the pandas fold.
    applyInPandasWithState wraps its state struct in a ``groupState`` field,
    the aggregate stores a ``max`` buffer. The probe reads the state schema
    (one metadata read, no job), and only when the checkpoint has state: a
    fresh checkpoint, the common case, costs one existence check."""
    jvm = spark.sparkContext._jvm
    state_dir = jvm.org.apache.hadoop.fs.Path(checkpoint_dir, "state")
    if not state_dir.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(state_dir):
        return False
    try:
        value = spark.read.format("statestore").load(checkpoint_dir).schema["value"].dataType
    except SparkRuntimeException:
        return False  # STDS_COMMITTED_BATCH_UNAVAILABLE: any operator may start it
    return value.fieldNames()[:1] == ["groupState"]


def stateful_transform(
    stream_df: DataFrame,
    key_col: str,
    fold_fn,
    state_ddl: str,
    output_ddl: str,
    store: str = "rocksdb",
) -> DataFrame:
    """The generic user-logic hook — samsa's whole point (reference O5:
    ``consume(callback)`` + ``query`` + ``save`` composed, storage.py:228-253
    and README.md:35-52): run arbitrary per-key Python against keyed state.

    ``fold_fn(key_tuple, prior_state_tuple_or_None, pdf) -> (new_state_tuple
    _or_None, output_pdf_or_None)`` receives ALL of the key's rows in the
    trigger as one pandas DataFrame (concatenated, caller orders as needed),
    the prior state, and returns the new state plus any output rows. Unlike
    the reference's one-message-per-poll loop — a broker round trip and an
    fsync per message (storage.py:234, sqldb.py:64) — the hook is invoked
    once per key per trigger with an Arrow batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout as _GST

    _select_store(stream_df.sparkSession, store)

    def wrapped(key, pdfs, state):
        parts = [p for p in pdfs if len(p)]
        pdf = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        prior = tuple(state.get) if state.exists else None
        new_state, out = fold_fn(key, prior, pdf)
        if new_state is not None:
            state.update(tuple(new_state))
        if out is None or len(out) == 0:
            return iter(())
        return iter([out])

    return stream_df.groupBy(key_col).applyInPandasWithState(
        wrapped,
        outputStructType=StructType.fromDDL(output_ddl),
        stateStructType=StructType.fromDDL(state_ddl),
        outputMode="update",
        timeoutConf=_GST.NoTimeout,
    )


def read_state(spark: SparkSession, checkpoint_dir: str, drop_tombstoned: bool = True) -> DataFrame:
    """Queryable state (reference ``query(key)`` from outside the operator,
    storage.py:208-219): read the operator's state store directly from the
    checkpoint via the state data source, flattened to key + state columns.
    A pandas fold's ``groupState`` and a one-column ``max(struct)`` or
    ``min(struct)`` aggregate buffer are unwrapped to the struct's fields.

    Marker-mode deletions (see :class:`StatefulStream`) keep ``_tombstoned``
    rows in the store as high-water marks; ``drop_tombstoned`` hides them —
    a deleted key is absent from the queryable view, exactly like a key
    removed via ``RocksDBClient.delete`` (reference rocksdb.py:75-85).

    Only tombstone-configured StatefulStream checkpoints carry a
    ``_tombstoned`` column; pass ``drop_tombstoned=False`` when reading a
    :func:`stateful_transform` checkpoint whose user state happens to use
    that name. Note markers are retained indefinitely (NoTimeout) — the
    log-compaction trade-off: a deleted key costs one high-water row until
    a newer live event replaces it.
    """
    raw = spark.read.format("statestore").load(checkpoint_dir)
    key_fields = [f"key.{f.name}" for f in raw.schema["key"].dataType.fields]
    value_type = raw.schema["value"].dataType
    value_names = [f.name for f in value_type.fields]
    # applyInPandasWithState wraps the user state struct in a `groupState`
    # field (plus an engine-side `timeoutTimestamp` when a timeout conf —
    # e.g. the TTL option — is active), and a native aggregate stores it as
    # its `max` (StatefulStream) or `min` (run_first_occurrence_stream)
    # buffer; unwrap any of them so callers see their own state columns and
    # never the engine bookkeeping.
    if value_names[:1] == ["groupState"] or value_names in (["max"], ["min"]):
        wrapper = value_type.fields[0]
        val_fields = [f"value.{wrapper.name}.{f.name}" for f in wrapper.dataType.fields]
    else:
        val_fields = [f"value.{f.name}" for f in value_type.fields]
    out = raw.select(*key_fields, *val_fields)
    if drop_tombstoned and "_tombstoned" in out.columns:
        out = out.where(~F.coalesce(F.col("_tombstoned"), F.lit(False))).drop("_tombstoned")
    return out


def replay_changelog(spark: SparkSession, changelog_dir: str, key_col: str) -> DataFrame:
    """Rebuild the state table from an external changelog directory — the
    batch analogue of reference recovery (storage.py:151-184): last writer
    (by batch id, then log order) wins per key. Delete records carry an
    explicit ``_deleted`` marker (written by tombstone-configured streams);
    a key whose winning row is marked deleted is absent from the rebuilt
    table. Keying off the marker — never payload nullness — means a winning
    live row with a genuinely NULL value survives replay."""
    log = spark.read.parquet(changelog_dir)
    order = [c for c in log.columns if c not in (key_col, "_batch_id", "_deleted")]
    has_deletes = "_deleted" in log.columns
    picked = [c for c in log.columns if c != key_col]
    out = (
        log.groupBy(key_col)
        .agg(
            F.max_by(
                F.struct(*picked),
                F.struct(F.col("_batch_id"), *[F.col(c) for c in order]),
            ).alias("_s")
        )
        .select(key_col, *[F.col(f"_s.{c}").alias(c) for c in (*order, *(["_deleted"] if has_deletes else []))])
    )
    if has_deletes:
        out = out.where(~F.coalesce(F.col("_deleted"), F.lit(False))).drop("_deleted")
    return out
