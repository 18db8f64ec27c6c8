"""Data model: operation codes, CDC column-name conventions, schemas.

Reference parity:
- OperationType codes: /root/reference/scylla-cdc/src/consumer.rs:37-52
  (negative alternatives -3/-4 encode TTL-expiration deletes,
  consumer.rs:43-46; is_expiration derived at consumer.rs:200-202).
- Metadata column naming convention (cdc$..., cdc$deleted_<col>,
  cdc$deleted_elements_<col>): consumer.rs:71-78.
- Dynamic schema inference (CDCRowSchema): consumer.rs:82-151 — here it
  is `CDCSchema.from_df_schema`, a plan-time parse of DataFrame columns
  instead of a per-page parse of wire column specs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import IntEnum

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Operation codes (consumer.rs:37-52)
# ---------------------------------------------------------------------------


class OperationType(IntEnum):
    PRE_IMAGE = 0
    ROW_UPDATE = 1
    ROW_INSERT = 2
    ROW_DELETE = 3
    PARTITION_DELETE = 4
    ROW_RANGE_DEL_INCL_LEFT = 5
    ROW_RANGE_DEL_EXCL_LEFT = 6
    ROW_RANGE_DEL_INCL_RIGHT = 7
    ROW_RANGE_DEL_EXCL_RIGHT = 8
    POST_IMAGE = 9


#: ops that carry payload cell writes (insert/update)
WRITE_OPS = (OperationType.ROW_UPDATE, OperationType.ROW_INSERT)
#: ops that tombstone the whole row / partition (single-column key ⇒ same)
DELETE_OPS = (OperationType.ROW_DELETE, OperationType.PARTITION_DELETE)
RANGE_DELETE_OPS = (
    OperationType.ROW_RANGE_DEL_INCL_LEFT,
    OperationType.ROW_RANGE_DEL_EXCL_LEFT,
    OperationType.ROW_RANGE_DEL_INCL_RIGHT,
    OperationType.ROW_RANGE_DEL_EXCL_RIGHT,
)
IMAGE_OPS = (OperationType.PRE_IMAGE, OperationType.POST_IMAGE)

# ---------------------------------------------------------------------------
# Column-name convention (consumer.rs:71-78)
# ---------------------------------------------------------------------------

STREAM_ID = "cdc$stream_id"
TIME_UUID = "cdc$time"  # raw v1 timeuuid bytes (consumer.rs:193-194)
TIME_MS = "cdc_time_ms"  # timeuuid surrogate: ms since epoch (FIXTURES.md §2)
TIME_SEQ = "cdc_time_seq"  # timeuuid surrogate: tie-break sequence
BATCH_SEQ = "cdc$batch_seq_no"
END_OF_BATCH = "cdc$end_of_batch"
OPERATION = "cdc$operation"
TTL = "cdc$ttl"
EPOCH = "epoch"  # stream generation number

DELETED_PREFIX = "cdc$deleted_"
DELETED_ELEMS_PREFIX = "cdc$deleted_elements_"

#: derived columns the decode step adds
OP_NORM = "op"  # normalized non-negative operation code
IS_EXPIRATION = "is_expiration"  # raw op < 0 (consumer.rs:200-202)
ORD = "ord"  # packed total-order key (see pack_ord)

METADATA_COLS = frozenset(
    {STREAM_ID, TIME_UUID, TIME_MS, TIME_SEQ, BATCH_SEQ, END_OF_BATCH,
     OPERATION, TTL, EPOCH}
)

# ord packing: strictly-increasing per stream by construction
# (cdc_time_ms, cdc_time_seq, batch_seq_no) — the reference's clustering
# order (stream_reader.rs:200-213 reads in this order; replays dedup on
# (time, batch_seq_no), replication_tests.rs:93-98).  Packed into one
# bigint so both Spark and an ANSI-SQL oracle can argmax on it.
ORD_SEQ_LIMIT = 1 << 14
ORD_BATCH_LIMIT = 1 << 8
#: fixed epoch floor subtracted before packing so ord fits in 62 bits
#: (leaves headroom for ord*2 packings in hash-aggregable fast paths);
#: valid for any change log timestamped after 2017-07.
ORD_BASE_MS = 1_500_000_000_000


def pack_ord_py(time_ms: int, time_seq: int, batch_seq: int) -> int:
    assert 0 <= time_seq < ORD_SEQ_LIMIT and 0 <= batch_seq < ORD_BATCH_LIMIT
    rel = time_ms - ORD_BASE_MS
    assert 0 <= rel < (1 << 40), "cdc_time_ms outside supported range"
    return (rel << 22) | (time_seq << 8) | batch_seq


# ---------------------------------------------------------------------------
# Collection semantics per payload column
# ---------------------------------------------------------------------------

#: 'atomic'    — scalars, frozen collections, tuples, vectors: whole-cell LWW
#:              (replicator_consumer.rs:781-794 treats these as single cells)
#: 'set'       — non-frozen set/map: element-level delta, sorted-set result
#:              (replicator_consumer.rs:415-469)
#: 'list'      — non-frozen list: timeuuid-keyed map; whole-overwrite fast
#:              path for tokenized sequences (replicator_consumer.rs:472-528;
#:              SURVEY.md §2.4 A8)
COLLECTION_MODES = ("atomic", "set", "list")


@dataclass(frozen=True)
class PayloadColumn:
    name: str
    deletable: bool  # has cdc$deleted_<name> companion
    has_deleted_elements: bool  # has cdc$deleted_elements_<name> companion
    spark_type: T.DataType = None


@dataclass
class CDCSchema:
    """Plan-time analog of the reference's CDCRowSchema (consumer.rs:82-151).

    The reference re-derives the schema from every query page's column
    specs, absorbing base-table schema evolution automatically
    (stream_reader.rs:389-390).  Here the same property holds because the
    parse runs against whatever columns the scanned DataFrame has —
    adding a payload column (plus its companions) to the log requires no
    engine change.
    """

    payload: dict[str, PayloadColumn] = field(default_factory=dict)
    metadata: list[str] = field(default_factory=list)

    @classmethod
    def from_columns(cls, columns: list[str]) -> "CDCSchema":
        deleted = {
            c[len(DELETED_PREFIX):]
            for c in columns
            if c.startswith(DELETED_PREFIX)
            and not c.startswith(DELETED_ELEMS_PREFIX)
        }
        deleted_elems = {
            c[len(DELETED_ELEMS_PREFIX):]
            for c in columns
            if c.startswith(DELETED_ELEMS_PREFIX)
        }
        payload = {}
        metadata = []
        derived = {OP_NORM, IS_EXPIRATION, ORD, "end_of_batch", "cdc_clock_seq",
                   "stream_bucket", "time_bucket", "__salt"}
        for c in columns:
            if c in METADATA_COLS or c in derived:
                metadata.append(c)
            elif c.startswith(DELETED_PREFIX):
                continue
            else:
                payload[c] = PayloadColumn(
                    name=c,
                    deletable=c in deleted,
                    has_deleted_elements=c in deleted_elems,
                )
        return cls(payload=payload, metadata=metadata)

    @classmethod
    def from_df_schema(cls, schema: T.StructType) -> "CDCSchema":
        out = cls.from_columns(schema.fieldNames())
        for f in schema.fields:
            if f.name in out.payload:
                out.payload[f.name] = PayloadColumn(
                    name=f.name,
                    deletable=out.payload[f.name].deletable,
                    has_deleted_elements=out.payload[f.name].has_deleted_elements,
                    spark_type=f.dataType,
                )
        return out


# ---------------------------------------------------------------------------
# Canonical schemas (FIXTURES.md §1-2)
# ---------------------------------------------------------------------------

TOKENS_MODE_DEFAULT = "set"  # fixtures exercise element deltas; 'list' = fast path

CDC_LOG_SCHEMA = T.StructType(
    [
        T.StructField(STREAM_ID, T.BinaryType(), False),
        T.StructField(TIME_MS, T.LongType(), False),
        T.StructField(TIME_SEQ, T.LongType(), False),
        T.StructField(BATCH_SEQ, T.IntegerType(), False),
        T.StructField(END_OF_BATCH, T.BooleanType(), True),
        T.StructField(OPERATION, T.ByteType(), False),
        T.StructField(TTL, T.LongType(), True),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField(DELETED_PREFIX + "tokens", T.BooleanType(), True),
        T.StructField(
            DELETED_ELEMS_PREFIX + "tokens", T.ArrayType(T.IntegerType()), True
        ),
        T.StructField(DELETED_PREFIX + "n_tok", T.BooleanType(), True),
        T.StructField(DELETED_PREFIX + "source", T.BooleanType(), True),
        T.StructField(EPOCH, T.IntegerType(), False),
    ]
)

TARGET_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        # LWW bookkeeping (not compared to oracle): write timestamp
        # propagation analog of USING TIMESTAMP (replicator_consumer.rs:311-333)
        T.StructField("last_ord", T.LongType(), False),
        T.StructField("ttl", T.LongType(), True),
        T.StructField("is_deleted", T.BooleanType(), False),
    ]
)
