"""The driver gate: rows out to the driver, rows back into Spark.

Small iterative problems (graph closures, label propagation, BPE merge
loops, greedy selections) are solved faster on the driver than as
O(rounds) distributed jobs, each of which pays the scheduler floor. The
two halves of that pattern live here:

- :func:`gate_rows` brings a frame's rows to the driver when it holds at
  most ``cap`` of them, else answers ``None`` so the caller runs its
  distributed path;
- :func:`local_frame` turns rows computed on the driver back into a
  DataFrame. It hands Spark a pyarrow Table typed from the Spark schema,
  which PySpark plans as a ``LocalRelation``: no pickled RDD, no Python
  worker per partition on every action, and exact size statistics, so
  the optimizer can broadcast the result instead of shuffling the other
  side of a join. Driver results never go to ``createDataFrame`` as a
  Python list.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.types import StructType

__all__ = ["GATE_PROBE_ROWS", "gate_rows", "local_frame"]

GATE_PROBE_ROWS = 100_000


def gate_rows(df: "DataFrame", cap: int) -> "list | None":
    """Driver-gate probe: returns the rows when the frame holds ≤
    ``cap`` of them, else ``None`` (distributed fallback).

    PRECONDITION: ``df`` is persisted or eagerly checkpointed. The probe
    may run up to three actions on it (take, count, collect); an
    unmaterialized frame would recompute its whole plan for each.

    A plain ``take(cap + 1)`` paid a ~cap-row py4j serialization just
    to learn "too big" on every over-cap graph — measured +37 s at the
    default 2M cap on a 20M-edge graph (`gate_scale_probe_r16*.json`),
    a pure tax on exactly the path that matters at 100 TB. A plain
    count-then-collect removes that but costs +2 scheduler-floor jobs
    per call on the tiny graphs the bench gates (count + full collect
    vs take's single 1-partition scan). So: probe with
    ``take(min(cap, GATE_PROBE_ROWS) + 1)`` — tiny frames resolve in
    the SAME single take job with the rows already in hand; only frames
    above the probe fall to a JVM-only ``count()`` and collect rows
    only when the driver solve will actually use them. The gate
    criterion is the row count ≤ cap, so the path choice does not
    depend on the probe size."""
    assert df.is_cached or (
        df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    ), "gate_rows needs a persisted or checkpointed frame"
    probe_n = min(cap, GATE_PROBE_ROWS)
    head = df.take(probe_n + 1)
    if len(head) <= probe_n:
        return head
    if len(head) > cap:  # possible only when probe_n == cap
        return None
    if df.count() > cap:  # JVM-only; no rows cross the Python boundary
        return None
    return df.collect()


def local_frame(
    spark: "SparkSession",
    rows: Iterable[Sequence],
    schema: "str | StructType",
) -> "DataFrame":
    """A DataFrame over rows computed on the driver.

    ``rows`` are positional tuples in ``schema`` order; ``schema`` is a
    DDL string or a ``StructType``. The rows become a pyarrow Table cast
    to the Spark schema's Arrow form, so the frame analyzes to a
    ``LocalRelation`` (below ``spark.sql.execution.arrow.localRelationThreshold``,
    48 MB by default; above it Spark ships the Arrow batches to the
    executors, still without Python workers) — with zero rows too, where
    a list or pandas input would plan a ``LogicalRDD``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
