"""User-defined function surface beyond scalar UDFs: Python UDTF and
pandas-aggregate UDAF.

Completes the SURVEY.md §2.10 triad explicitly: the engine's scoring
path covers mapInPandas (U1/U2), grouped_apply covers applyInPandas —
this module adds the remaining two API shapes users reach for:

- a **UDTF** (table function: one input row → many output rows) for
  logic where the fan-out itself is imperative. Spark 4 runs Python
  UDTFs Arrow-batched. The engine's policy stands: prefer the pure-
  expression formulation (see ``chunk_documents_overlapping`` — same
  semantics, JVM-side); the UDTF exists for parity and as the template
  for genuinely non-expressible fan-outs.
- a **pandas GROUPED_AGG UDAF** for custom reductions Catalyst lacks.
  Partial aggregation does NOT apply to grouped-agg pandas UDFs — every
  row of a group ships to one executor — so at 100 TB prefer an
  algebraic rewrite (the geometric mean below is exp(avg(ln)) — the
  UDAF form is the template, the rewrite is the scale path).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["chunk_udtf_frame", "geometric_mean_udaf", "geometric_mean_expr"]


def chunk_udtf_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int,
    overlap: int,
) -> DataFrame:
    """Overlapping token-window chunking as a Python UDTF — semantics
    identical to the expression-based chunker (tested equal); use that
    one unless the per-row logic stops being expressible."""
    from pyspark.sql.functions import udtf

    stride = chunk_tokens - overlap

    @udtf(returnType="chunk_id bigint, chunk_text string")
    class ChunkTokens:
        def eval(self, text: str):  # noqa: ANN001 - UDTF contract
            toks = text.lower().strip().split()
            if not toks:
                return
            i, cid = 0, 1
            while True:
                yield cid, " ".join(toks[i : i + chunk_tokens])
                if i + chunk_tokens >= len(toks):
                    return
                i += stride
                cid += 1

    # UDTFs are invoked via LATERAL join in SQL
    df.createOrReplaceTempView("__udtf_in")
    df.sparkSession.udtf.register("chunk_tokens_udtf", ChunkTokens)
    return df.sparkSession.sql(
        f"SELECT t.{id_col}, c.chunk_id, c.chunk_text "
        f"FROM __udtf_in t, LATERAL chunk_tokens_udtf(t.{text_col}) c"
    )


def geometric_mean_udaf():
    """A pandas GROUPED_AGG UDAF: geometric mean of a positive column.
    Returns the UDF object for use in ``groupBy().agg``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar hints make it a grouped-agg UDF. The module uses
    # postponed annotations, so the hints are strings that pandas_udf
    # resolves against the module globals: ``pd`` is imported at the top
    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.astype("float64")).mean()))

    return geo_mean


def geometric_mean_expr(col: str):
    """The algebraic rewrite of the same reduction — exp(avg(ln)) gets
    map-side partial aggregation and is the form to use at scale."""
    return F.exp(F.avg(F.log(F.col(col))))
