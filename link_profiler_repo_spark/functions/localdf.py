"""Driver-local DataFrame construction without Python RDD workers.

`spark.createDataFrame(list_of_rows, ...)` parallelizes the pickled rows over
`spark.default.parallelism` slices; materializing that relation launches one
plain-Python RDD worker PER SLICE (applySchemaToPythonRDD) — measured ~1.2 s
cold / ~0.3 s warm for a 44-row table at local[32], charged to every query
that builds a small lookup table (k-means centroid tables, mixture targets,
seed frontiers). Routing the same rows through a pandas DataFrame takes the
Arrow conversion path instead: the driver serializes one Arrow batch and the
JVM converts it without ever starting a Python worker (measured 0.06 s warm,
10x cold). Rows, schema and values are identical (tested side by side).

Only intended for SMALL driver-known tables (seeds, targets, centroids,
oracle-twin exports) — exactly the places the list form was used.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """createDataFrame for a small driver-side row list via the Arrow/pandas
    path (no Python RDD workers). `schema` is a DDL string or StructType;
    empty row lists fall back to the classic path (Arrow needs a batch).
    Like the list path, a row of the wrong arity or a None in a non-nullable
    field raises ValueError."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)
    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    names = st.names
    if isinstance(rows[0], dict):
        rows = [tuple(r.get(n) for n in names) for r in rows]
    for r in rows:
        if len(r) != len(names):
            raise ValueError(f"row {r!r} has {len(r)} fields, schema has {len(names)}")
    for i, f in enumerate(st.fields):
        if not f.nullable and any(r[i] is None for r in rows):
            raise ValueError(f"field {f.name!r} is not nullable but a row holds None")
    # object-dtype columns: keep raw Python values (ints stay ints, None
    # stays None) so Arrow applies the declared schema without pandas' numpy
    # inference in the middle
    data = {n: pd.Series([r[i] for r in rows], dtype=object) for i, n in enumerate(names)}
    return spark.createDataFrame(pd.DataFrame(data), st)
