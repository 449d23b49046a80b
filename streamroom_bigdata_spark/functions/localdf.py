"""Fast DataFrames from small driver-side lists (guide §4: the Python
boundary).

``spark.createDataFrame(rows)`` over a local list parallelizes the pickled
rows into ``defaultParallelism`` slices. Every later evaluation of that
relation (a parquet stage write, a broadcast build, the final count) then
pays one Python-worker round trip PER SLICE — and a ``coalesce(1)`` on top
serializes those round trips inside a single task. Measured on this box
(local[32], 1024-row frame, warm workers): ``createDataFrame(list)
.coalesce(1).write.parquet`` ≈ 5.9 s, the same rows via one slice ≈ 0.3 s,
via Arrow ≈ 0.14 s — a 40× constant-overhead tax on every driver-built
bounded relation (ADC lookup tables, codebooks, range-partition offsets,
driver-solved graph ranks).

``local_df`` keeps the exact createDataFrame semantics but avoids the tax:

- when every schema field is a simple primitive and no value is None, the
  rows go through pandas + Arrow (``spark.sql.execution.arrow.pyspark
  .enabled`` is on session-wide) — evaluated entirely in the JVM, no
  Python workers at all. dtypes are pinned from the schema first, so
  Arrow cannot re-infer or widen a type (int stays int32, long int64,
  double float64 — bit-identical to the pickle path for these types);
- otherwise (None values, dates, decimals, arrays, structs) it falls back
  to the pickle path with ONE slice — byte-identical conversion to the
  default path (which is ``parallelize(rows, defaultParallelism)``), just
  without the 32 per-slice worker round trips.

Only for BOUNDED relations (codebooks, lookup tables, offsets): a 1-slice
frame is deliberately single-task, which is exactly right for rows that
exist to be broadcast or coalesced anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ARROW_DTYPES = {
    "IntegerType()": "int32",
    "LongType()": "int64",
    "DoubleType()": "float64",
    "FloatType()": "float32",
    "BooleanType()": "bool",
    "StringType()": "object",
}

# Arrow-path admission checks (ADVICE r15): pandas ``astype`` silently WRAPS
# an out-of-range int and TRUNCATES a float passed for an int column, where
# the default createDataFrame path raises a TypeError. Admit a value to the
# Arrow path only when astype is provably the identity; anything else takes
# the 1-slice pickle fallback, whose verifier raises exactly like the
# default path. bool is a subclass of int, so int checks must exclude it.
_DTYPE_OK = {
    "int32": lambda v: isinstance(v, int) and not isinstance(v, bool)
    and -(2**31) <= v < 2**31,
    "int64": lambda v: isinstance(v, int) and not isinstance(v, bool)
    and -(2**63) <= v < 2**63,
    "float64": lambda v: isinstance(v, float)
    or (isinstance(v, int) and not isinstance(v, bool) and abs(v) < 2**53),
    "float32": lambda v: isinstance(v, float)
    or (isinstance(v, int) and not isinstance(v, bool) and abs(v) < 2**24),
    "bool": lambda v: isinstance(v, bool),
    "object": lambda v: isinstance(v, str),
}


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for a bounded driver-side
    list, without the per-slice Python-worker tax (module docstring)."""
    rows = list(rows)
    if isinstance(schema, str):
        struct = T._parse_datatype_string(schema)
    else:
        struct = schema
    if not rows:
        # an empty createDataFrame is a LogicalRDD that still starts Python
        # workers to scan nothing; this optimizes to an empty LocalRelation
        return spark.range(1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in struct.fields]
        ).where(F.lit(False))

    dtypes = [_ARROW_DTYPES.get(repr(f.dataType)) for f in struct.fields]
    if all(d is not None for d in dtypes) and all(
        _DTYPE_OK[d](v)
        for r in rows
        for d, v in zip(dtypes, r)
    ):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=[f.name for f in struct.fields])
        for (name, dt) in zip(pdf.columns, dtypes):
            pdf[name] = pdf[name].astype(dt)
        return spark.createDataFrame(pdf, schema=struct)

    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), struct
    )
