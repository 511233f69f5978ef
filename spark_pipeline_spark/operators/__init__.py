"""Operators: pure ``DataFrame -> DataFrame`` transformations.

Each module maps to a SURVEY.md §2 operator family:

- ``columns``   — projections / renames / casts / audit columns (§2.3)
- ``sampling``  — limits, hash sampling, stratified quotas, grouped top-k,
  weighted / token-budget / training-mix sampling (§2.7)
- ``packing``   — distributed prefix sums, fixed-token sequence packing
- ``scoring``   — distributed model inference: one Catalyst projection for
  linear-family models, mapInPandas for the rest (§2.10)
- ``training``  — collect-fit-persist trainer verb (§3.3)
- ``datadiff``  — one-pass drift histograms + TVD/PSI distances (§2.5)
- ``setops``    — union/intersect/except, set and bag variants (§2.8)
- ``partitions``— partition-id tagging, skew report, batched toPandas (§2.12)
- ``grouped``   — applyInPandas + salted (skew-safe) agg and join
- ``asof``      — sort-merge as-of join
- ``rangejoin`` — bucketed interval join
- ``graph``     — connected components (near-dup clustering)
- ``sketches``  — HLL / GK quantiles / linear-counting cardinality
- ``windows``   — event-time window analytics (§2.11)
- ``dedup``     — exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup (§2.11)
- ``similarity``— embedding top-k, IVF ANN, embedding near-dup (§2.11)
- ``text``      — language-ID, quality scoring, token counts, fingerprints (§2.11)
- ``multimodal``— binary media columns + batched decode plumbing (§2.11)

Streaming variants of the window operators plus a custom stateful
operator live in ``spark_pipeline_spark.streaming`` (same expressions,
``readStream`` + watermark + ``applyInPandasWithState``).
"""
