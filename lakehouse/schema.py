"""Canonical schemas + schema-conform projection.

Mirrors the reference's fixed-schema stance: one declared StructType, no
inference in the happy path (/root/reference/etl/glue_stream.py:57-68,
``inferSchema="false"`` at :133), and the defensive cast/null-fill
projection before every write (:316-334).

The canonical ``clips`` table shape comes from ``BASELINE.json#input_hint``:
``(clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
transcript string)`` plus engine-derived ``ingest_ts``/``event_date``
following the reference's derivation pattern (:213-239).
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.column import _to_java_column, _to_seq

# --- clips: the engine's canonical payload table (input_hint) -----------------

CLIPS_PAYLOAD_FIELDS = [
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("sr_hz", T.IntegerType(), True),
    T.StructField("dur_ms", T.IntegerType(), True),
    T.StructField("codec", T.StringType(), True),
    T.StructField("transcript", T.StringType(), True),
]

CLIPS_DERIVED_FIELDS = [
    # reference derives event_ts via to_timestamp (:213-219) and the
    # partition key via to_date (:239); we keep the same two-step shape.
    T.StructField("ingest_ts", T.TimestampType(), True),
    T.StructField("event_date", T.DateType(), True),
]

CLIPS_SCHEMA = T.StructType(CLIPS_PAYLOAD_FIELDS + CLIPS_DERIVED_FIELDS)

# --- click events: reference-parity ingest shape ------------------------------
# /root/reference/etl/glue_stream.py:57-68 — six nullable strings.

CLICK_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("element", T.StringType(), True),
        T.StructField("page", T.StringType(), True),
        T.StructField("userAgent", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("ingest_ts", T.StringType(), True),
        T.StructField("request_id", T.StringType(), True),
    ]
)


DEFAULT_KEY = "initial-default"  # Iceberg-v3 field property name


def field_default(field: T.StructField):
    """The field's default value, or None (metadata round-trips through
    StructType.fromJson/jsonValue, so defaults ride in the committed
    schema JSON)."""
    md = field.metadata or {}
    return md.get(DEFAULT_KEY)


def field_defaults(schema: T.StructType) -> dict:
    """``{name: default}`` for the fields that declare one."""
    return {
        f.name: field_default(f)
        for f in schema.fields
        if field_default(f) is not None
    }


#: conform projections by (gateway client, schema JSON, input column
#: names), least recently used last out
_PROJECTIONS: "OrderedDict[tuple, Any]" = OrderedDict()
_PROJECTIONS_MAX = 64
_PROJECTIONS_LOCK = threading.Lock()


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: cast present columns, fill
    missing ones with the field's default (null when none), drop
    extras. Column order follows ``schema``.

    This is the reference's fixed-width output contract
    (/root/reference/etl/glue_stream.py:316-334) generalized to any
    schema; the default fill is the write-default half of Iceberg-v3
    column defaults (the read half lives in meta/scan.py).

    Building the projection costs py4j round trips per column (every
    ``F.col``/``F.lit``/``cast``/``alias`` crosses into the JVM), so
    it is built once per (JVM, schema JSON, input column names) and
    kept as a JVM ``Seq[Column]``: a repeat call costs the input
    schema read and one ``select``, whatever the column count. The
    columns are unresolved expressions bound to no session, so a
    projection stays valid across ``spark.stop()`` and a new session
    on the same JVM; a new JVM (a new gateway client) builds anew.
    """
    names = tuple(df.columns)
    client = df._jdf._gateway_client
    key = (client, schema.json(), names)
    with _PROJECTIONS_LOCK:
        jcols = _PROJECTIONS.get(key)
        if jcols is not None:
            _PROJECTIONS.move_to_end(key)
    if jcols is None:
        existing = set(names)
        cols = []
        for field in schema.fields:
            if field.name in existing:
                cols.append(
                    F.col(field.name).cast(field.dataType).alias(field.name)
                )
            else:
                cols.append(
                    F.lit(field_default(field))
                    .cast(field.dataType)
                    .alias(field.name)
                )
        jcols = _to_seq(df.sparkSession.sparkContext, cols, _to_java_column)
        with _PROJECTIONS_LOCK:
            _PROJECTIONS[key] = jcols
            while len(_PROJECTIONS) > _PROJECTIONS_MAX:
                _PROJECTIONS.popitem(last=False)
    return type(df)(df._jdf.select(jcols), df.sparkSession)


# Iceberg's published safe type promotions (spec §Schema Evolution),
# restricted to what Spark 4's parquet reader widens natively — old
# files stay valid under the new table schema with ZERO rewrites: the
# vectorized reader up-casts int32→int64/double, float→double and
# decimal precision at scan time (verified by tests/test_table_core.py).
_INT_ORDER = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()]


def is_widening(old_dt: T.DataType, new_dt: T.DataType) -> bool:
    """True iff every value of ``old_dt`` reads losslessly as
    ``new_dt`` (safe promotion; old parquet files are never rewritten).
    """
    if old_dt == new_dt:
        return True
    if old_dt in _INT_ORDER and new_dt in _INT_ORDER:
        return _INT_ORDER.index(old_dt) < _INT_ORDER.index(new_dt)
    if isinstance(old_dt, T.FloatType) and isinstance(new_dt, T.DoubleType):
        return True
    if isinstance(old_dt, T.DecimalType) and isinstance(
        new_dt, T.DecimalType
    ):
        return (
            new_dt.scale == old_dt.scale
            and new_dt.precision >= old_dt.precision
        )
    return False


def is_additive_evolution(old: T.StructType, new: T.StructType) -> bool:
    """True iff ``new`` only adds nullable columns and keeps or SAFELY
    WIDENS the types of ``old`` (int→long, float→double, decimal
    precision growth — Iceberg's promotion set).

    The reference's registry enforces BACKWARD compatibility
    (/root/reference/infra/terraform/modules/glue/main.tf:42); our
    snapshots carry one schema id each, and every old data file remains
    readable under the new schema without rewrite.
    """
    old_by_name = {f.name: f for f in old.fields}
    for name, field in old_by_name.items():
        new_field = next((f for f in new.fields if f.name == name), None)
        if new_field is None or not is_widening(
            field.dataType, new_field.dataType
        ):
            return False
    for f in new.fields:
        if f.name not in old_by_name and not f.nullable:
            return False
    return True
