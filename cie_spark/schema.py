"""Explicit StructTypes for every table — never inferred.

Analog of the reference's fixed declared schema (:create DDL,
reference pkg/storage/embedded.go:187-205, pkg/ingestion/schema.go:180-291).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# intermediate: one row per extracted mention (analog of UnresolvedCall,
# reference pkg/ingestion/schema.go:122-129)
MENTIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # 'tool' | 'entity'
        T.StructField("surface", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),  # 'column'|'marker'|'prose'
        T.StructField("pos", T.IntegerType(), False),  # ordinal within turn
        # provenance carried through extraction so downstream stages never
        # join back to the (100-TB) transcript table for timestamps
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# MENTIONS plus the per-turn content-hash lanes: used when the full
# pipeline fuses the conversation-hash pass into the extraction scan
# (kind='_turn' rows carry the JVM-computed lanes; mention rows carry NULLs)
MENTIONS_WITH_HASH = T.StructType(
    list(MENTIONS.fields)
    + [
        T.StructField("h1", T.LongType(), True),
        T.StructField("h2", T.LongType(), True),
    ]
)

# edge table (analog of cie_calls/cie_defines/cie_implements,
# schema.go:220-289); stable edge identity (subj,pred,obj,conv_id,turn_idx)
TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("weight", T.LongType(), False),
    ]
)

# per-partition lineage + metrics (analog of checkpoint.go:33-78 +
# manifest.go:52-120 + metrics.go:28-113)
LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), True),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("errors", T.LongType(), True),
        T.StructField("started", T.TimestampType(), True),
        T.StructField("finished", T.TimestampType(), True),
        T.StructField("snapshot_id", T.StringType(), True),
    ]
)


def local_frame(spark, rows, ddl: str | T.StructType):
    """A driver-held list of row tuples as an Arrow-built LocalRelation,
    typed exactly by `ddl` (a DDL string or StructType), zero rows included.

    createDataFrame(list, schema) plans an RDD scan instead (`isLocal()` is
    False): every action over it launches a Python job, ~0.6 s to collect a
    259-row frame on 4 cores against ~0.02 s for the LocalTableScan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = ddl if isinstance(ddl, T.StructType) else T.StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(st)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(st.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, st)
