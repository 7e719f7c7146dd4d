"""StateTable: the imperative face of the engine — samsa's API surface
(``save`` / ``query`` / ``delete`` / context manager, reference
samsa/kafka/storage.py:17-253) backed by declarative batch operators.

A samsa user migrates mechanically:

    with StatefulConsumer(topics, group, table) as store:   # reference
        store.save(key, value); store.query(key)

    table = StateTable.from_log(events_df)                  # here
    table = table.apply(new_events_df)                      # save, batched
    table.get(7)                                            # query
    table.delete_where(...)                                 # delete
    table.to_df()                                           # the whole store

Unlike the reference — which does a synchronous SQLite commit and a
per-partition Kafka flush on every single save (storage.py:190-206,
139-149) — every mutation here is a lazy DataFrame transformation; nothing
executes until the result is consumed, and at 100 TB each ``apply`` is one
hash-aggregate + one merge join, not N round trips.

Point reads (``get``) take one of two paths:

- **Footer index, no Spark job.** ``save_as`` writes every file sorted by
  the key columns, in row groups of about :data:`ROW_GROUP_BYTES`, so a
  file's row groups hold ascending, non-overlapping key ranges.
  :meth:`StateTable.load` reads the footers of the files Spark would scan,
  and ``get`` then reads, with pyarrow on the driver, only the row groups
  whose key ranges can hold the key: the reference's one local get
  (storage.py:208-219).
- **Spark query.** Tables from ``from_log``, ``apply`` and ``delete_where``
  have no files, and a key whose Python type differs from its column's
  (``int`` for an integral column, ``str`` for a string one) needs Spark's
  implicit casts; both run ``where(...).limit(1)``.
"""

from __future__ import annotations

from collections.abc import Sequence
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StringType

from samsa_spark.operators.state import compact_latest, upsert_merge

# save_as's row-group bound (parquet.block.size): a footer-index get reads
# at most one row group per file on a hit, so this bounds its bytes read.
ROW_GROUP_BYTES = 1 << 20

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def _stats_range(chunk) -> tuple:
    """A column chunk's (min, max), or (None, None) when the footer has no
    usable statistics for it (such a row group is always a candidate)."""
    st = chunk.statistics
    if st is None or not st.has_min_max or not isinstance(st.min, (int, str)):
        return None, None
    return st.min, st.max


class _FooterIndex:
    """Row-group key ranges of the parquet files behind a loaded table, and
    the read of one key from them.

    The files are Spark's own listing (``inputFiles()``, bucket directories
    included). A row group is a candidate when its min/max statistics can
    hold the key on every key column, and one without statistics always
    is, so the answer never depends on the files being sorted: only the
    count of row groups read does."""

    def __init__(self, schema, arrow: pa.Schema, files: list) -> None:
        self._schema = schema
        self._arrow = arrow
        self._types = {f.name: f.dataType for f in schema.fields}
        self._files = files  # (path, footer, [(row group, [(min, max) per key column])])

    @classmethod
    def read(cls, df: DataFrame, keys: tuple[str, ...]) -> _FooterIndex | None:
        """The index of ``df``'s files, from their footers; None when
        pyarrow cannot read them as ``df`` reads them (files not on the
        local file system, a column not in the files or not castable to its
        Spark type, or dates and times Spark rebases on read)."""
        schema = df.schema
        try:
            arrow = to_arrow_schema(schema)
        except TypeError:  # a column type Arrow does not carry
            return None
        files = []
        for uri in df.inputFiles():
            url = urlparse(uri)
            if url.scheme != "file":
                return None
            path = unquote(url.path)
            try:
                footer = pq.read_metadata(path)
                footer.schema.to_arrow_schema().empty_table().select(schema.names).cast(arrow)
            except (KeyError, pa.ArrowException):  # Spark reports an unreadable file on read
                return None
            if any(k.startswith(b"org.apache.spark.legacy") for k in footer.metadata or {}):
                return None
            leaf = {footer.schema.column(j).path: j for j in range(footer.num_columns)}
            groups = []
            for g in range(footer.num_row_groups):
                rg = footer.row_group(g)
                groups.append((g, [_stats_range(rg.column(leaf[k])) if k in leaf else (None, None) for k in keys]))
            files.append((path, footer, groups))
        return cls(schema, arrow, files)

    def serves(self, pairs: list[tuple[str, object]]) -> bool:
        """Whether the footer path answers this lookup exactly as Spark's
        ``==`` would: every key compares without a cast (an ``int`` in the
        long range on an integral column, a ``str`` on a string column of
        the default collation)."""
        for k, v in pairs:
            dt = self._types.get(k)
            if isinstance(dt, _INTEGRAL):
                if type(v) is not int or not -(1 << 63) <= v < 1 << 63:
                    return False
            elif dt != StringType() or type(v) is not str:
                return False
        return bool(pairs)

    def lookup(self, pairs: list[tuple[str, object]]) -> Row | None:
        """The first row whose key columns equal ``pairs``, read from the
        candidate row groups only (``limit(1)`` semantics), as the Row
        ``collect()`` would give."""
        names = [k for k, _ in pairs]
        for path, footer, groups in self._files:
            cands = [
                g for g, ranges in groups
                if all(lo is None or lo <= v <= hi for (lo, hi), (_, v) in zip(ranges, pairs))
            ]
            if not cands:
                continue
            with pq.ParquetFile(path, metadata=footer, coerce_int96_timestamp_unit="us") as pf:
                for g in cands:
                    keys = pf.read_row_group(g, columns=names)
                    mask = None
                    for k, v in pairs:
                        eq = pc.equal(keys.column(k).cast(pa.int64() if type(v) is int else pa.string()), v)
                        mask = eq if mask is None else pc.and_(mask, eq)
                    hit = pc.index(mask, True).as_py()
                    if hit >= 0:
                        row = pf.read_row_group(g, columns=self._schema.names).slice(hit, 1).cast(self._arrow)
                        return ArrowTableToRowsConversion.convert(row, self._schema)[0]
        return None


class StateTable:
    """Immutable handle on a latest-value-per-key state table. Mutating
    operations return new StateTables (persist/checkpoint between
    generations is the caller's scale lever)."""

    def __init__(self, df: DataFrame, keys: Sequence[str] = ("user_id",)) -> None:
        self._df = df
        self.keys = tuple(keys)
        self._footers: _FooterIndex | None = None  # set by load when pyarrow can read the files

    # -- construction --------------------------------------------------------

    @classmethod
    def from_log(
        cls,
        events: DataFrame,
        keys: Sequence[str] = ("user_id",),
        order_cols: Sequence[str] = ("ts_us", "event_id"),
        payload_cols: Sequence[str] | None = None,
    ) -> StateTable:
        """Replay a message log into a state table (reference recovery,
        storage.py:151-184: replay in log order, last writer wins)."""
        return cls(compact_latest(events, keys, order_cols, payload_cols), keys)

    # -- reads ---------------------------------------------------------------

    def to_df(self) -> DataFrame:
        return self._df

    def get(self, *key_values) -> dict | None:
        """Point lookup (reference ``query``, storage.py:208-219): None on
        miss, the state row as a dict on hit. This is the one deliberately
        eager method — a driver-side read of one key.

        On a table from :meth:`load` it reads the candidate row groups of
        the saved files with pyarrow and runs no Spark job. Spark answers
        instead (``where`` + ``limit(1)``) for tables with no files behind
        them (``from_log``, ``apply``, ``delete_where``) and for a key whose
        Python type is not its column's (``int`` for integral columns,
        ``str`` for string ones), so Spark's implicit casts still hold. A
        NULL key matches nothing, as under SQL ``=``."""
        pairs = list(zip(self.keys, key_values))
        if any(v is None for _, v in pairs):
            return None
        if self._footers is not None and self._footers.serves(pairs):
            row = self._footers.lookup(pairs)
        else:
            cond = None
            for k, v in pairs:
                c = F.col(k) == F.lit(v)
                cond = c if cond is None else (cond & c)
            rows = self._df.where(cond).limit(1).collect()
            row = rows[0] if rows else None
        return row.asDict() if row is not None else None

    def count(self) -> int:
        return self._df.count()

    # -- writes --------------------------------------------------------------

    def apply(self, new_events: DataFrame) -> StateTable:
        """Apply a batch of new messages (reference ``save`` over an existing
        store, storage.py:190-206): per key the larger (order) wins."""
        return StateTable(upsert_merge(self._df, new_events, self.keys), self.keys)

    def delete_where(self, condition) -> StateTable:
        """Delete matching keys (reference ``RocksDBClient.delete``,
        rocksdb.py:75-85 — which SQLite never got; here it's one filter)."""
        return StateTable(self._df.where(~condition), self.keys)

    # -- persistence ---------------------------------------------------------

    def save_as(self, path: str, bucket_col: str | None = None) -> None:
        """Materialize the state table as parquet: each write task's file
        sorted by the key columns (``sortWithinPartitions``: no exchange, no
        sample job), in row groups of about :data:`ROW_GROUP_BYTES`, which
        is the layout :meth:`get`'s footer index reads. For repeated
        key-joins at scale pass ``bucket_col`` to lay the table out
        pre-hashed (64 ``_bucket`` directories, each file still key-sorted)
        so downstream readers can co-locate joins without a shuffle."""
        df, parts = self._df, []
        if bucket_col is not None:
            df, parts = df.withColumn("_bucket", F.pmod(F.hash(F.col(bucket_col)), F.lit(64))), ["_bucket"]
        (
            df.sortWithinPartitions(*parts, *self.keys)
            .write.mode("overwrite")
            .option("parquet.block.size", ROW_GROUP_BYTES)
            .partitionBy(*parts)
            .parquet(path)
        )

    @classmethod
    def load(cls, spark, path: str, keys: Sequence[str] = ("user_id",)) -> StateTable:
        """Open a table written by :meth:`save_as` (or any parquet table of
        one row per key), reading its files' footers into the index its
        ``get`` serves from."""
        table = cls(spark.read.parquet(path).drop("_bucket"), keys)
        table._footers = _FooterIndex.read(table._df, table.keys)
        return table
