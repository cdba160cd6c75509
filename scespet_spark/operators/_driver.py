"""Driver-held model state: how a small table crosses between the
driver and Spark, in both directions.

**Serve.**  ``local_frame`` turns rows the driver built (a fitted merge
table, a key map, a pivoted weight table, a report) into a DataFrame.
``spark.createDataFrame(list, schema)`` pickles the rows into an RDD
(``sc.parallelize``), so the plan leaf is a ``LogicalRDD``: every job
that reads it starts Python workers to unpickle the rows, and Catalyst
has no statistics for it.  The same rows handed over as a
``pyarrow.Table`` become a ``LocalRelation``, held in the JVM: no
Python task reads them, the optimizer sizes them for a broadcast, and
a ``collect`` of the table starts no job.  Measured on 4 cores (medians
of 6 runs, list form then Arrow form): a 3-row ``orderBy().collect()``
882 ms then 123-168 ms; a 4096-row ``groupBy().collect()`` 365 ms then
124 ms; a 4096-row broadcast join 461 ms then 168 ms.  The rows ride
inside the plan and its tasks, so this is for driver-sized tables only
(SCALE.md).

**Fit.**  ``fitted_rows`` collects a build-time fit or census once per
input and returns the memo while the input stays the same:

- *Key*: the plan's ``semanticHash``, confirmed with ``sameSemantics``,
  plus the content fingerprint (``sources.batch.path_fingerprint``) of
  the root paths of every file relation the plan reads, so a table
  rewritten in place is fitted again.  Each fingerprint costs one
  content summary per root path.
- *Bypass*: a plan that is non-deterministic, streaming, or reads a
  leaf other than a file relation, ``LocalRelation``, ``Range`` or
  ``OneRowRelation`` (a ``localCheckpoint``'s ``LogicalRDD``, say) just
  collects: its rows cannot be proven to repeat.
- *Scope*: an entry belongs to the ``SparkContext`` that collected it
  (its ``applicationId``); a stopped and restarted session, or a new
  JVM, misses without calling into the old session's objects.
- *Bound*: one entry per call site (the caller's file and line),
  replaced on a miss, as ``parquet_schema`` keeps one entry per path.
- *Result*: a new list on every call, so a caller that sorts or edits
  it leaves the memo intact.  The rows themselves are shared.

Only a fit or census of a query's *input* belongs here, never a
query's own output (a report must count the rows it reports on).
"""

from __future__ import annotations

import datetime
import sys

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType, TimestampType, \
    _parse_datatype_string


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a ``LocalRelation``:
    ``rows`` are tuples in ``schema``'s field order and ``schema`` a DDL
    string or ``StructType``.  Values equal the list form's, including
    a naive ``datetime`` in a timestamp column, which (as there) means
    process-local time."""
    struct = schema if isinstance(schema, StructType) \
        else _parse_datatype_string(schema)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    arrays = []
    for values, field in zip(cols, struct.fields):
        if isinstance(field.dataType, TimestampType):
            # Arrow reads a datetime's wall clock as UTC: hand it UTC
            values = [v.astimezone(datetime.timezone.utc)
                      if isinstance(v, datetime.datetime) else v
                      for v in values]
        arrays.append(pa.array(values, type=to_arrow_type(field.dataType)))
    table = pa.Table.from_arrays(arrays, names=struct.names)
    return spark.createDataFrame(table, struct)


#: leaves whose rows are a function of the plan (and, for a file
#: relation, of its fingerprinted files)
_PURE_LEAVES = ("LogicalRelation", "LocalRelation", "Range",
                "OneRowRelation")

#: call site -> (key, DataFrame that was collected, rows)
_FITS: dict[tuple, tuple] = {}


def _memo_key(df: DataFrame) -> tuple | None:
    """(application id, semantic hash, file fingerprints) of ``df``, or
    ``None`` when its rows may differ between two collects."""
    if df.isStreaming:
        return None
    plan = df._jdf.queryExecution().analyzed()
    if not plan.deterministic():
        return None
    from ..sources.batch import path_fingerprint
    spark = df.sparkSession
    prints = []
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        kind = leaf.getClass().getSimpleName()
        if kind not in _PURE_LEAVES:
            return None
        if kind != "LogicalRelation":
            continue
        relation = leaf.relation()
        if relation.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        paths = relation.location().rootPaths().iterator()
        while paths.hasNext():
            path = paths.next().toString()
            fingerprint = path_fingerprint(spark, path)
            if fingerprint is None:
                return None
            prints.append((path, fingerprint))
    return (spark.sparkContext.applicationId, df.semanticHash(),
            tuple(prints))


def fitted_rows(df: DataFrame) -> list:
    """``df.collect()``, memoized per call site while ``df``'s plan and
    input files stay the same (see the module docstring)."""
    key = _memo_key(df)
    if key is None:
        return df.collect()
    caller = sys._getframe(1)
    site = (caller.f_code.co_filename, caller.f_lineno)
    hit = _FITS.get(site)
    if hit is None or hit[0] != key or not hit[1].sameSemantics(df):
        hit = _FITS[site] = (key, df, df.collect())
    return list(hit[2])
