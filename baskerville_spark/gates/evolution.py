"""Schema-evolution compatibility check: classify every column-level
difference between a validated snapshot's schema and the current one as a
legal evolution or a breaking change, emitting one verdict row per change.

At 10^12 rows a retyped or dropped column is the cheapest catastrophe to
detect — the schema is O(columns) metadata, no scan — yet the reference has
no guard at all: its schema is frozen in SQLAlchemy models
(src/baskerville/db/models.py) and drift is discovered only when
maintain_db (src/baskerville/db/database_maintenance.py:20) or an insert
fails at runtime. Here the check runs BEFORE any data moves, against the
table's own metadata.

Legality follows Iceberg's published evolution rules (the storage layer the
north rule targets): adding an optional column, making a required column
optional, and the widening promotions int->long / float->double /
decimal(P,S)->decimal(P'>P,S) are compatible; dropping a column, adding a
required column (existing files have no value for it), optional->required,
and every other retype are breaking. The report is pure driver-side
StructType algebra — zero jobs, zero shuffles, the same cost at sf0.001 and
at 10^12 rows — and the verdict DataFrame is a tiny local relation that
downstream joins can broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baskerville_spark.gates.fixtures import _t

# Iceberg-legal widening promotions (spec "Schema Evolution": int->long,
# float->double, decimal precision growth at equal scale).
_WIDENINGS = {
    ("integer", "long"),
    ("short", "integer"),
    ("short", "long"),
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
    ("float", "double"),
}

_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType(), False),
        T.StructField("change", T.StringType(), False),
        T.StructField("from_type", T.StringType(), True),
        T.StructField("to_type", T.StringType(), True),
        T.StructField("compatible", T.IntegerType(), False),
    ]
)


def _decimal_widening(old: T.DataType, new: T.DataType) -> bool:
    return (
        isinstance(old, T.DecimalType)
        and isinstance(new, T.DecimalType)
        and new.scale == old.scale
        and new.precision >= old.precision
    )


def _schema_of(x: DataFrame | T.StructType) -> T.StructType:
    return x.schema if isinstance(x, DataFrame) else x


def schema_evolution_report(
    old: DataFrame | T.StructType, new: DataFrame | T.StructType
) -> list[dict]:
    """Column-level change list between two schemas (driver-side, no jobs).

    Changes emitted (others are silence — an unchanged column is not news):
      added_optional      compatible   new nullable column
      added_required      BREAKING     existing files lack a value
      dropped             BREAKING     readers of the old schema break
      widened             compatible   Iceberg-legal type promotion
      retyped             BREAKING     any other type change
      made_optional       compatible   required -> nullable
      made_required       BREAKING     nullable -> required (old nulls)
    """
    os_, ns_ = _schema_of(old), _schema_of(new)
    o = {f.name: f for f in os_.fields}
    n = {f.name: f for f in ns_.fields}
    out: list[dict] = []

    def row(col: str, change: str, ft, tt, ok: bool) -> dict:
        return {
            "column_name": col,
            "change": change,
            "from_type": ft.simpleString() if ft is not None else None,
            "to_type": tt.simpleString() if tt is not None else None,
            "compatible": int(ok),
        }

    for name in sorted(n.keys() - o.keys()):
        f = n[name]
        if f.nullable:
            out.append(row(name, "added_optional", None, f.dataType, True))
        else:
            out.append(row(name, "added_required", None, f.dataType, False))
    for name in sorted(o.keys() - n.keys()):
        out.append(row(name, "dropped", o[name].dataType, None, False))
    for name in sorted(o.keys() & n.keys()):
        fo, fn = o[name], n[name]
        if fo.dataType != fn.dataType:
            pair = (fo.dataType.typeName(), fn.dataType.typeName())
            ok = pair in _WIDENINGS or _decimal_widening(fo.dataType, fn.dataType)
            out.append(
                row(name, "widened" if ok else "retyped", fo.dataType, fn.dataType, ok)
            )
        elif fo.nullable != fn.nullable:
            if fn.nullable:
                out.append(row(name, "made_optional", fo.dataType, fn.dataType, True))
            else:
                out.append(row(name, "made_required", fo.dataType, fn.dataType, False))
    return out


def schema_evolution_df(
    spark: SparkSession,
    old: DataFrame | T.StructType,
    new: DataFrame | T.StructType,
) -> DataFrame:
    """The report as a (tiny, broadcastable) DataFrame — one row per change,
    deterministic order-insensitive content. An empty report is a valid
    empty frame with the same schema."""
    return spark.createDataFrame(
        [tuple(r[f.name] for f in _REPORT_SCHEMA.fields) for r in
         schema_evolution_report(old, new)],
        _REPORT_SCHEMA,
    )


# --------------------------------------------------------------------------
# q124: schema-evolution compatibility — the metadata-plane validation the
# reference never had (its schema is frozen SQLAlchemy DDL, db/models.py;
# drift surfaces only when maintain_db or an insert crashes). The engine
# classifies every column-level change between the validated snapshot's
# schema and the current one by Iceberg's published evolution rules before
# any data moves. Pure driver-side StructType algebra — the gate's cost is
# identical at sf0.001 and 10^12 rows. The oracle is closed-form: the same
# six planted changes, stated as VALUES.
# --------------------------------------------------------------------------


def q124_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Old = the documents table as validated. New = a plausibly-evolved
    snapshot with six changes: doc_id narrowed bigint->int (breaking),
    lang dropped (breaking), source retyped string->int hash bucket
    (breaking), n_chars retyped bigint->double (breaking — long->double is
    NOT an Iceberg-legal promotion), quality_score added optional (ok),
    shard_key added required/non-null (breaking)."""
    old = _t(spark, sf_dir, "documents")
    new = old.select(
        F.col("doc_id").cast("int").alias("doc_id"),  # narrowed: BREAKING
        "text",
        # lang dropped: BREAKING
        F.xxhash64("source").cast("int").alias("source"),  # retyped: BREAKING
        F.col("n_chars").cast("double").alias("n_chars"),  # long->double: BREAKING
        (F.col("n_chars") / 600.0).alias("quality_score"),  # added optional: ok
        F.lit(7).alias("shard_key"),  # added non-nullable: BREAKING
    )
    return schema_evolution_df(spark, old, new)


Q124_SQL = """
SELECT * FROM (VALUES
  ('quality_score', 'added_optional', NULL,      'double', 1),
  ('shard_key',     'added_required', NULL,      'int',    0),
  ('lang',          'dropped',        'string',  NULL,     0),
  ('doc_id',        'retyped',        'bigint',  'int',    0),
  ('n_chars',       'retyped',        'bigint',  'double', 0),
  ('source',        'retyped',        'string',  'int',    0)
) AS t(column_name, change, from_type, to_type, compatible)
"""
