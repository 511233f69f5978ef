"""Deduplication operators for LLM-data pipelines: exact, MinHash-LSH,
SimHash, n-gram Jaccard.

North-star capability (SURVEY.md §2.11 — absent from the reference; its
only uniqueness tool is the SQL passthrough, ``sparktools/core.py:158-160``).

100 TB design rules baked in:

- **Never all-pairs.** Candidate generation is always a *bucketed
  equi-join* (LSH band keys, SimHash byte blocks) — the only pairs ever
  materialized are hash-collision candidates. A cartesian similarity pass
  over N documents is O(N²) and unrunnable at corpus scale.
- **Shuffle hashes, not text.** Banding tables carry (id, band, key)
  only; shingle sets are re-joined for the verify pass, so the wide text
  payload crosses the wire once, not bands× times.
- **Pure Catalyst expressions.** Shingling, MinHash signatures, band
  keys, SimHash bit votes, Jaccard — all JVM-side column expressions
  (``transform``/``aggregate``/``array_*``), no Python workers.
- **Deterministic hashing.** All randomness derives from md5 content
  hashes (`spark_pipeline_spark.functions.md5_int`), so dedup decisions
  are reproducible across reruns, partitionings, and engines — and
  verifiable against a DuckDB oracle.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_pipeline_spark.functions import md5_int, md5_int60
from spark_pipeline_spark.session import query_persist

__all__ = [
    "dedup_exact",
    "dedup_exact_content",
    "word_shingles",
    "shingle_table",
    "jaccard_similarity",
    "minhash_band_keys",
    "minhash_sql",
    "minhash_index_tables",
    "minhash_near_dup_pairs",
    "minhash_incremental_pairs",
    "containment_near_dup_pairs",
    "hamming_near_dup_pairs",
    "simhash",
    "simhash_near_dup_pairs",
    "decontaminate",
    "fuzzy_join_pairs",
    "longest_shared_spans",
    "prefix_filter_jaccard_join",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per ``key_cols`` group: the one with the
    minimum ``order_col`` (must be unique per group, e.g. a primary key —
    with ties, per-column ``min_by`` picks could disagree).

    Spark-first shape: ``groupBy().agg(min_by(...))`` instead of a
    ``row_number`` window — aggregation gets map-side partial combine, so
    the shuffle carries one candidate row per (partition × key) instead of
    every row. At 100 TB with few duplicates that is ~no reduction, but
    with heavy duplication (the common crawl case) it is the difference
    between shuffling the corpus and shuffling the distinct set.
    """
    rest = [c for c in df.columns if c not in key_cols and c != order_col]
    aggs = [F.min(order_col).alias(order_col)]
    aggs += [F.min_by(c, _c(order_col)).alias(c) for c in rest]
    deduped = df.groupBy(*key_cols).agg(*aggs)
    return deduped.select(*df.columns)  # original column order


def dedup_exact_content(df: DataFrame, content_col: str, order_col: str) -> DataFrame:
    """Exact-content dedup: one surviving row per distinct md5(content).

    The grouping key is the 32-char digest, not the document — the shuffle
    carries fixed-width hashes regardless of document size.
    """
    hashed = df.withColumn("__fp", F.md5(_c(content_col).cast("string")))
    return dedup_exact(hashed, ["__fp"], order_col).drop("__fp")


# ---------------------------------------------------------------------------
# Shingles + Jaccard (the fuzzy-dedup verify kernel)
# ---------------------------------------------------------------------------


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word ``n``-grams of a text column (array<string>).

    Lowercased, whitespace-tokenized. Documents with fewer than ``n``
    words yield an empty array (callers filter those out of fuzzy dedup).

    PERFORMANCE: do NOT follow this with ``filter(size(...) > 0)`` —
    predicate pushdown substitutes the whole shingle expression into the
    Filter node and evaluates it twice (with ``split`` re-inlined per
    gram — measured 20× slower at sf0.1). Filter on the token count
    *before* shingling instead; :func:`shingle_table` packages the fast
    plan.
    """
    w = F.split(F.lower(F.trim(_c(col))), "\\s+")
    count = F.size(w) - (n - 1)
    grams = F.when(
        count >= 1,
        F.transform(
            # guard: Spark's sequence(1, stop) turns DESCENDING for stop<1,
            # which would index element 0 — the when() keeps stop >= 1.
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """``(__id, __sh)`` shingle table with the scale-correct plan shape.

    Rows with fewer than ``n`` words are dropped by filtering on the
    *token count* — equivalent to ``size(shingles) > 0`` (distinct of a
    nonempty gram list is nonempty) but evaluated on the cheap token
    array instead of re-deriving every n-gram inside the pushed-down
    Filter. The token array is materialized in its own projection so the
    gram lambda references a bound column, not an expression tree.

    CONSUMER WARNING: do not ``F.explode("__sh")`` this output — the
    Generate node pushes an implicit ``size(__sh) > 0 AND isnotnull``
    filter below the exchange with the whole gram expression re-inlined
    (measured 20×). Use ``F.explode_outer`` + an ``isNotNull`` filter on
    the exploded value (free: the arrays are non-empty by construction),
    or build the gram expression inline in the exploding projection.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.lower(F.trim(_c(text_col))), "\\s+").alias("__w"),
    ).filter(F.size("__w") >= n)
    return toks.select("__id", F.expr(minhash_sql(n).grams).alias("__sh"))


def jaccard_similarity(a: Column | str, b: Column | str) -> Column:
    """Jaccard similarity of two array columns: |A∩B| / |A∪B|."""
    ca, cb = _c(a), _c(b)
    inter = F.size(F.array_intersect(ca, cb))
    union = F.size(ca) + F.size(cb) - inter
    return inter / F.greatest(union, F.lit(1)).cast("double")


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


# Universal-hash family for MinHash signatures: ONE md5 per shingle, then
# h_j(x) = (A_j·x + B_j) mod P per signature slot — the standard
# construction (Broder's scheme with affine permutation approximations).
# 16 multiply-adds replace 16 string-concat+md5 rounds per shingle.
# P is a Mersenne prime > 2^32; A_j ≤ 2^30 keeps A·x < 2^62 (no bigint
# overflow); coefficients derive from md5 so any engine reproduces them.
MINHASH_P = (1 << 61) - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_j, B_j) affine coefficients, md5-derived."""
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [
        ((h32(f"A{j}") % (1 << 30)) | 1, h32(f"B{j}"))  # A odd, 30-bit
        for j in range(num_hashes)
    ]


class MinhashSQL(NamedTuple):
    """SQL text of the MinHash pipeline's expressions, each over a column
    the previous projection already named (see :func:`minhash_sql`)."""

    grams: str  # __w (token array) → distinct word n-grams
    hashes: str  # __sh (shingle array) → one md5_int per shingle
    slots: tuple[str, ...]  # __h (hash array) → one signature value per slot
    keys: str  # __h → the band keys, '|'-joined signature slices


def minhash_sql(
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingles: str = "__sh",
    hashes: str = "__h",
) -> MinhashSQL:
    """The shingling, hashing and banding expressions as SQL text, one
    ``F.expr`` each. Built through the Column API, the 16 signature
    lambdas cost ~200 ms of py4j calls per expression; parsed from text
    they cost well under a millisecond. The values are those of the
    DuckDB oracle's ``_sql_minhash_cte``: md5-hash each shingle ONCE,
    then slot j is ``min((A_j·h + B_j) mod P)`` over the hashes.

    Band keys: ``num_hashes`` slots split into ``bands`` equal bands;
    each key is the '|'-joined signature slice. Two documents share a
    band's key iff that slice matches — P(candidate) = 1-(1-J^r)^b for
    Jaccard J, r = rows per band.

    The n-grams read ``__w``; ``shingles`` / ``hashes`` are the SQL
    inputs of the other expressions (bound column names by default).
    Materialize the hash array as its own projection column before the
    slots read it: every slot references the array, and an inlined
    expression is re-evaluated per slot (measured 2.5× slower for 16
    slots at sf0.1)."""
    if num_hashes % bands:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    grams = (
        f"array_distinct(transform(sequence(1, size(__w) - {n - 1}), "
        "i -> concat_ws(' ', "
        + ", ".join(f"element_at(__w, i + {k})" for k in range(n))
        + ")))"
    )
    md5 = "CAST(conv(substring(md5(CAST(s AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    slots = tuple(
        f"array_min(transform({hashes}, h -> pmod(h * {a} + {b}, {MINHASH_P})))"
        for a, b in minhash_coeffs(num_hashes)
    )
    r = num_hashes // bands
    keys = ", ".join(
        "concat_ws('|', "
        + ", ".join(f"CAST({v} AS STRING)" for v in slots[b * r : (b + 1) * r])
        + ")"
        for b in range(bands)
    )
    return MinhashSQL(
        grams, f"transform({shingles}, s -> {md5})", slots, f"array({keys})"
    )


def minhash_band_keys(shingles: str, num_hashes: int = 16, bands: int = 4) -> Column:
    """Array of LSH band keys for the shingle-set column named
    ``shingles`` (see :func:`minhash_sql`). The hash array is inlined
    into every slot; pipelines that band a whole corpus materialize it
    first, as :func:`minhash_index_tables` does."""
    h = minhash_sql(shingles="`" + shingles.replace("`", "``") + "`").hashes
    return F.expr(minhash_sql(num_hashes=num_hashes, bands=bands, hashes=f"({h})").keys)


_MINHASH_META_KEYS = ("minhash_n", "minhash_num_hashes", "minhash_bands")


def minhash_index_params(table: DataFrame) -> tuple[int, int, int] | None:
    """The ``(n, num_hashes, bands)`` a MinHash index table was built
    with, read from the column metadata :func:`minhash_index_tables`
    stamps on ``__sh`` / ``__band`` (metadata survives select, persist,
    and parquet round-trips). ``None`` for tables from older builders —
    consumers then cannot validate and fall back to trusting the caller.
    """
    for f in table.schema.fields:
        md = f.metadata or {}
        if all(k in md for k in _MINHASH_META_KEYS):
            return tuple(int(md[k]) for k in _MINHASH_META_KEYS)
    return None


def _check_index_params(
    expected: tuple[int, int, int], table: DataFrame, what: str
) -> None:
    """Raise if ``table`` carries stamped banding parameters that differ
    from ``expected`` — band keys from mismatched builders never
    collide, so the consumer would return a silently empty/short result
    instead of an error (the failure mode this guard exists to close).
    Tables without stamped metadata pass (nothing to check against).
    """
    got = minhash_index_params(table)
    if got is not None and got != tuple(expected):
        raise ValueError(
            f"{what} was built with (n, num_hashes, bands)={got}, but this "
            f"call uses {tuple(expected)} — band keys would never match. "
            f"Pass the builder's parameters (or the matching index tables)."
        )


def minhash_index_tables(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    tag: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One shingle+hash pass over ``df`` → the two MinHash index tables:
    ``(shingles, bands)`` = (``(__id, __sh)``, ``(__id, __band, __key)``),
    both persisted (memory-and-disk, session ledger).

    This is THE shared prep for every MinHash consumer —
    :func:`minhash_near_dup_pairs`, :func:`minhash_incremental_pairs`,
    and the streaming LSH sink persist exactly these two schemas.
    Callers composing several pair families over the same corpus (e.g.
    old-old + old-new + new-new in an incremental components refresh)
    should build the index ONCE on the union and slice it with filters:
    shingling is the CPU-dominant stage, and banding makes the slice
    exact — a pair collides on a band key independently of which slice
    its members land in, so sliced candidates = union candidates.

    ``tag`` (optional, an expression over ``__id``) is materialized
    into BOTH persisted tables as a ``__tag`` column. Slicing consumers
    must filter on that stored boolean, not re-state the predicate:
    a hash predicate like ``md5_unit(__id) < 0.1`` re-executes per read
    branch of the cached table (measured ~20 % of the incremental
    components query's 10× wall across its ~8 branch reads); the
    persisted byte costs one evaluation total.
    """
    from pyspark.storagelevel import StorageLevel

    from spark_pipeline_spark.operators.partitions import ensure_min_partitions

    sql = minhash_sql(n, num_hashes, bands)  # raises on a bad banding first
    base = shingle_table(
        ensure_min_partitions(df.select(id_col, text_col)), id_col, text_col, n
    )
    tag_cols = []
    if tag is not None:
        base = base.withColumn("__tag", tag)
        tag_cols = ["__tag"]
    # builder parameters ride the tables as column metadata so consumers
    # can refuse a mismatched (n, num_hashes, bands) instead of silently
    # returning empty joins (see minhash_index_params)
    meta = {"minhash_n": n, "minhash_num_hashes": num_hashes, "minhash_bands": bands}
    base = base.select("__id", F.col("__sh").alias("__sh", metadata=meta), *tag_cols)
    base = query_persist(base, StorageLevel.MEMORY_AND_DISK)
    hashed = base.select("__id", F.expr(sql.hashes).alias("__h"), *tag_cols)
    banded = query_persist(
        hashed.select(
            "__id",
            F.posexplode(F.expr(sql.keys)).alias("__band", "__key"),
            *tag_cols,
        ).select(
            "__id",
            F.col("__band").alias("__band", metadata=meta),
            "__key",
            *tag_cols,
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    return base, banded


def minhash_near_dup_pairs(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    shingles: DataFrame | None = None,
    bands_table: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH candidates + exact Jaccard verify.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and
    ``jaccard >= threshold`` over word ``n``-gram shingle sets.

    Plan shape (the part that must survive 100 TB):

    1. shingle (token-count pre-filter, see :func:`shingle_table`), hash
       each shingle once into a materialized array, band — one scan,
       expressions only;
    2. explode to (id, band, key) — fixed-width rows, b per document;
    3. self-equi-join on (band, key) + distinct — candidates only ever
       meet inside a bucket; no cartesian anywhere;
    4. join candidates back to the shingle table (twice) and verify with
       exact Jaccard — the wide shingle payload moves only for candidate
       ids, not for every banded copy.

    The shingle table feeds three plan branches (banding + both verify
    sides), so it is persisted (memory-and-disk) for the job's duration —
    shingling the corpus once instead of three times (see
    :func:`minhash_index_tables`, which owns the prep; both tables are
    persisted there because AQE does not reliably reuse the exchange
    across the self-join's two branches). Callers that already hold the
    index pass ``shingles``/``bands_table`` and skip the text scan
    entirely.
    """
    if (shingles is None) != (bands_table is None):
        raise ValueError("shingles and bands_table come as a pair")
    if shingles is not None:
        # num_hashes/bands arguments are unused in this branch — the band
        # keys were materialized at build time with the builder's own
        # parameters. The two tables must come from the SAME builder:
        # stamped metadata (minhash_index_tables) lets us refuse a
        # mismatched pairing instead of silently verifying wrong shingles.
        ps, pb = minhash_index_params(shingles), minhash_index_params(bands_table)
        if ps is not None and pb is not None and ps != pb:
            raise ValueError(
                f"shingles index built with (n, num_hashes, bands)={ps} but "
                f"bands_table with {pb} — these tables are from different "
                f"index builds and cannot be consumed together."
            )
        base = shingles.select("__id", "__sh")
        banded = bands_table.select("__id", "__band", "__key")
    else:
        if df is None:
            raise ValueError("df is required when no index tables are passed")
        base, banded = minhash_index_tables(
            df, id_col, text_col, n, num_hashes, bands
        )
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    sa = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    sb = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_similarity("__sh_a", "__sh_b").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_incremental_pairs(
    corpus: DataFrame | None,
    new: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    corpus_bands: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    new_bands: DataFrame | None = None,
    new_shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicates of NEW documents against an EXISTING corpus —
    the daily-increment regime: yesterday's corpus must not re-pair
    with itself, so candidate generation joins only the increment's
    band keys against the corpus's.

    Cost: with ``corpus_bands``/``corpus_shingles`` supplied — the
    persisted dedup INDEX (``(__id, __band, __key)`` band rows and
    ``(__id, __sh)`` shingle sets, the tables
    ``streaming.stream_dedup_lsh_sink`` maintains) — a refresh costs
    O(|new|) shingling/banding plus the matched buckets, independent of
    corpus size or how often it has run before. WITHOUT them this
    function derives the corpus side from ``corpus``'s raw text, which
    re-pays the corpus shingle/band scan on every call (still never a
    corpus self-join) — fine for one-shot splits, wrong for a daily
    loop; persist the index.

    Returns ``(corpus_id, new_id, jaccard >= threshold)``. Same
    never-all-pairs shape as :func:`minhash_near_dup_pairs` (banded
    equi-join candidates, exact-Jaccard verify joining shingles back by
    candidate id only).
    """
    if (corpus_bands is None) != (corpus_shingles is None):
        raise ValueError("corpus_bands and corpus_shingles come as a pair")
    if (new_bands is None) != (new_shingles is None):
        raise ValueError("new_bands and new_shingles come as a pair")

    # num_hashes/bands are consumed only on the from-text paths; a
    # precomputed side carries its builder's banding already. In a MIXED
    # call (one side precomputed, the other derived from text here) the
    # two sides MUST share (n, num_hashes, bands) or band keys never
    # collide and the join is silently empty — when the precomputed side
    # carries stamped metadata (minhash_index_tables), a mismatch with
    # this call's parameters raises instead.
    mixed = (corpus_bands is None) != (new_bands is None)
    if corpus_bands is not None:
        if mixed:
            _check_index_params((n, num_hashes, bands), corpus_bands, "corpus index")
        base_c = corpus_shingles.select("__id", "__sh")
        banded_c = corpus_bands.select("__id", "__band", "__key")
    else:
        if corpus is None:
            raise ValueError("corpus is required without corpus_bands/shingles")
        base_c, banded_c = minhash_index_tables(
            corpus, id_col, text_col, n, num_hashes, bands
        )
    if new_bands is not None:
        if mixed:
            _check_index_params((n, num_hashes, bands), new_bands, "new-side index")
        else:
            # both precomputed: they must at least agree with each other
            pc, pn = minhash_index_params(corpus_bands), minhash_index_params(new_bands)
            if pc is not None and pn is not None and pc != pn:
                raise ValueError(
                    f"corpus index built with (n, num_hashes, bands)={pc} but "
                    f"new-side index with {pn} — band keys would never match."
                )
        base_n = new_shingles.select("__id", "__sh")
        banded_n = new_bands.select("__id", "__band", "__key")
    else:
        if new is None:
            raise ValueError("new is required without new_bands/shingles")
        base_n, banded_n = minhash_index_tables(
            new, id_col, text_col, n, num_hashes, bands
        )
    cand = (
        banded_n.alias("nw")
        .join(
            banded_c.alias("cp"),
            (F.col("nw.__band") == F.col("cp.__band"))
            & (F.col("nw.__key") == F.col("cp.__key")),
        )
        .select(
            F.col("cp.__id").alias("corpus_id"),
            F.col("nw.__id").alias("new_id"),
        )
        .distinct()
    )
    sc = base_c.select(F.col("__id").alias("corpus_id"), F.col("__sh").alias("__sh_c"))
    sn = base_n.select(F.col("__id").alias("new_id"), F.col("__sh").alias("__sh_n"))
    return (
        cand.join(sc, "corpus_id")
        .join(sn, "new_id")
        .select(
            "corpus_id",
            "new_id",
            jaccard_similarity("__sh_c", "__sh_n").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int = 10,
    threshold: float = 0.9,
) -> DataFrame:
    """Near-dup pairs by CONTAINMENT — ``|A∩B| / min(|A|, |B|)`` over
    word ``n``-gram shingle sets — the asymmetric complement of
    :func:`minhash_near_dup_pairs`: a short document embedded verbatim
    in a much longer one has containment ≈ 1 but Jaccard ≈ |A|/|B|
    (arbitrarily small), so MinHash banding structurally misses it.

    Candidate generation is RARE-shingle blocking, not banding: explode
    to (id, shingle), keep shingles whose document frequency is in
    [2, ``max_df``], and self-join on those only. Two scale properties:

    - bounded fan-out: a blocking shingle yields ≤ C(max_df, 2) pairs,
      so candidate volume is O(#rare-shingles · max_df²) — common
      shingles (the ones that would explode the join quadratically) are
      excluded from blocking entirely;
    - recall: a contained document shares ALL its shingles with its
      container, so the pair is blocked together unless every single
      shingle of the contained doc is corpus-common (df > max_df) —
      i.e. the doc is boilerplate, which containment dedup should not
      flag anyway.

    Verification is exact set containment on candidates only; wide
    shingle arrays move once per candidate id (re-joined by id), never
    through the blocking join. Returns ``(id_a, id_b, containment)``
    with ``id_a < id_b`` and ``containment >= threshold``.
    """
    from pyspark.storagelevel import StorageLevel

    from spark_pipeline_spark.operators.partitions import ensure_min_partitions

    base = query_persist(shingle_table(
        ensure_min_partitions(df.select(id_col, text_col)), id_col, text_col, n
    ), StorageLevel.MEMORY_AND_DISK)
    # explode_outer + isNotNull per shingle_table's consumer warning
    # (plain explode re-inlines the gram expression below the exchange).
    # ex re-derives from the persisted base for its two consumers — the
    # explode itself is cheap; the expensive shingling is cached.
    ex = base.select("__id", F.explode_outer("__sh").alias("__g")).filter(
        F.col("__g").isNotNull()
    )
    rare = (
        ex.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
        .select("__g")
    )
    # Persist the BLOCKED posting list (rare shingles only — bounded at
    # max_df rows per shingle, a small fraction of the full posting
    # stream): the self-join below consumes it twice, and without the
    # persist each alias re-derives the whole subtree — the rare
    # AGGREGATE (a full posting shuffle) ran twice and the gram explode
    # four times per query (plan evidence: two identical Exchange+
    # HashAggregate towers in plans/r15/dedup_containment_documents_
    # before.txt). Guide §2.4: share the exchange, don't repeat it.
    blocked = query_persist(ex.join(rare, "__g"), StorageLevel.MEMORY_AND_DISK)
    cand = (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            (F.col("a.__g") == F.col("b.__g"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    sa = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    sb = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    containment = F.size(F.array_intersect("__sh_a", "__sh_b")) / F.least(
        F.size("__sh_a"), F.size("__sh_b")
    ).cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", containment.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# 60 bits, not the classic 64: the fingerprint and every partial bit-sum
# stay inside SIGNED bigint on both Spark and DuckDB (the oracle replays
# the construction bit-for-bit). 32 bits is too narrow in practice — on a
# shared-vocabulary corpus it left unrelated documents within hamming 3
# (measured: 96k "near-dup" pairs over 5000 docs vs ~250 planted dups).
SIMHASH_BITS = 60


def simhash(col: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash of a text column over whitespace tokens (bigint).

    Classic construction (Charikar 2002): each token votes ±1 on every
    bit of its md5 hash; the fingerprint sets bits with positive vote
    sums. Near-identical token multisets differ in few bits, so hamming
    distance approximates similarity.

    Single-fold plan: ONE ``aggregate`` over the token-hash array with an
    array-of-vote-counters accumulator, then one pass turning votes into
    set bits. The per-bit formulation (``bits`` separate folds, each
    re-inlining the md5 transform) hashes every token ``bits`` times and
    traverses the array ``bits`` times — measured 15× slower at sf0.1.
    """
    toks = F.split(F.lower(F.trim(_c(col))), "\\s+")
    hashes = F.transform(toks, lambda tk: md5_int60(tk))
    zeros = F.array_repeat(F.lit(0).cast("bigint"), bits)
    # votes[b] = Σ_tokens (bit b of md5(token) ? +1 : -1)
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("bigint")
                    for b in range(bits)
                ]
            ),
            lambda a, d: a + d,
        ),
    )
    powers = F.array(*[F.lit(1 << b).cast("bigint") for b in range(bits)])
    set_bits = F.zip_with(
        votes,
        powers,
        lambda v, p: F.when(v >= 0, p).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(set_bits, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def hamming_near_dup_pairs(
    fingerprints: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 6,
    bits: int = SIMHASH_BITS,
    blocks: int = 4,
) -> DataFrame:
    """Near-duplicate pairs over ANY 64-bit-or-narrower fingerprint
    column by bit-block candidates + hamming verify — the blocking
    engine behind both SimHash text dedup (`simhash_near_dup_pairs`)
    and perceptual media dedup (`multimodal.perceptual_hash`).

    Returns ``(id_a, id_b, hamming)`` with ``hamming <= max_hamming``.
    Blocking: split the fingerprint into ``blocks`` equal bit-blocks; by
    pigeonhole, any pair within hamming distance < ``blocks`` shares at
    least one exact block, so candidates are an equi-join on (block idx,
    block value) — same never-all-pairs discipline as MinHash-LSH. For
    ``max_hamming >= blocks`` the guarantee weakens to a recall heuristic
    (standard practice; raise ``blocks`` for exact recall — Manku et
    al. 2007 use the same block/permute trade at web scale).

    Scale: the shuffled row is (id, fingerprint, block idx, block
    value) — four fixed-width integers per document per block; the
    verify is one xor+popcount per candidate, no wide arrays travel.
    """
    from pyspark.storagelevel import StorageLevel

    if bits % blocks:
        raise ValueError(f"bits={bits} not divisible by blocks={blocks}")
    width = bits // blocks
    mask = (1 << width) - 1

    # Persisted: the fingerprint table feeds both sides of the self-join;
    # without it the (possibly expensive) fingerprint computation runs
    # once per side. Two fixed-width columns per row — tiny cache.
    sh = query_persist(
        fingerprints.select(
            F.col(id_col).alias("__id"), F.col(hash_col).alias("__fp")
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    block_vals = F.array(
        *[
            F.shiftright(F.col("__fp"), i * width).bitwiseAND(F.lit(mask))
            for i in range(blocks)
        ]
    )
    blocked = sh.select(
        "__id", "__fp", F.posexplode(block_vals).alias("__block", "__val")
    )
    left, right = blocked.alias("a"), blocked.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.__block") == F.col("b.__block"))
            & (F.col("a.__val") == F.col("b.__val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__fp").alias("__h_a"),
            F.col("b.__fp").alias("__h_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__h_a").bitwiseXOR(F.col("__h_b")))
    return (
        cand.select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bits: int = SIMHASH_BITS,
    blocks: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by SimHash byte-block candidates + hamming verify.

    Returns ``(id_a, id_b, hamming)`` with ``hamming <= max_hamming``.
    Fingerprint is `simhash` over whitespace tokens; candidate
    generation and verify are `hamming_near_dup_pairs` (see there for
    the pigeonhole recall guarantee and scale shape).
    """
    from spark_pipeline_spark.operators.partitions import ensure_min_partitions

    # ensure_min_partitions spreads the token-vote hashing off a
    # single-partition small-file scan (no-op when already parallel).
    sh = ensure_min_partitions(df.select(id_col, text_col)).select(
        F.col(id_col).alias("__id"), simhash(text_col, bits).alias("__simhash")
    )
    return hamming_near_dup_pairs(
        sh, "__id", "__simhash", max_hamming=max_hamming, bits=bits, blocks=blocks
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str,
    n: int = 8,
) -> DataFrame:
    """Drop training documents that share any word ``n``-gram with a
    benchmark/eval set — the standard train-test decontamination pass
    (n-gram overlap, as used for LLM training corpora).

    Scale shape: the benchmark side is tiny (eval sets are MBs), so its
    distinct gram hashes BROADCAST; the corpus's exploded grams meet
    them in a map-side broadcast semi-join — the corpus itself never
    shuffles.  The resulting ``contaminated`` id set is benchmark-KEYED
    but not benchmark-BOUNDED: one common phrase in the benchmark
    (licence boilerplate, a stock disclaimer) can flag an arbitrary
    fraction of the corpus, so the final left-anti is deliberately
    UN-hinted — AQE broadcast-converts it when the set is actually
    small and degrades gracefully to a shuffle when it is not, instead
    of failing the job at the broadcast size limit.  Documents shorter
    than ``n`` words produce no grams and always survive.
    """
    from spark_pipeline_spark.operators.partitions import ensure_min_partitions

    def gram_hashes(frame: DataFrame, keep: list[str], text: str) -> DataFrame:
        # Two projections, NOT explode(word_shingles(...)): the token
        # array must be a bound column before the gram lambda touches it,
        # or Catalyst re-inlines the full-text split into every
        # element_at (n splits per gram — measured 10× at sf0.1; same
        # trap shingle_table documents).
        toks = frame.select(
            *keep, F.split(F.lower(F.trim(_c(text))), "\\s+").alias("__w")
        ).filter(F.size("__w") >= n)
        grams = F.expr(minhash_sql(n).grams)
        return toks.select(*keep, F.explode(grams).alias("__g")).select(
            *keep, md5_int(F.col("__g")).alias("__h")
        )

    bench_hashes = gram_hashes(benchmark, [], bench_text_col).distinct()
    doc_grams = gram_hashes(
        ensure_min_partitions(
            df.select(F.col(id_col).alias("__did"), F.col(text_col).alias("__t"))
        ),
        ["__did"],
        "__t",
    )
    contaminated = (
        doc_grams.join(F.broadcast(bench_hashes), "__h")
        .select("__did")
        .distinct()
    )
    # No broadcast hint here: |contaminated| scales with corpus-side
    # fan-out (every doc sharing a gram with the benchmark), so a forced
    # broadcast is a scale-killer; AQE converts to broadcast at runtime
    # when the set is genuinely small.
    return df.join(
        contaminated,
        df[id_col] == contaminated["__did"],
        "left_anti",
    )


def fuzzy_join_pairs(
    df: DataFrame,
    value_col: str,
    block_col: Column | str,
    max_dist: int,
) -> DataFrame:
    """Edit-distance near-match pairs over distinct values of
    ``value_col`` — the entity-resolution join (typo'd names, variant
    spellings) under the same never-all-pairs discipline as every other
    candidate generator here: values meet ONLY inside their blocking
    key's bucket (caller-chosen: last token, soundex-ish key, length
    band…), then pairs are verified with ``levenshtein``.

    Distinct-compresses first, so duplication in the base table doesn't
    multiply candidates; output is ``(val_a, val_b, dist)`` with
    ``val_a < val_b``. Blocking recall is the caller's contract — a
    value pair in different buckets is never compared (exactly the LSH
    trade: bounded work, probabilistic recall).
    """
    b = _c(block_col)
    vals = df.select(
        F.col(value_col).alias("__v"), b.alias("__blk")
    ).distinct()
    left, right = vals.alias("a"), vals.alias("b")
    return (
        left.join(
            right,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__v") < F.col("b.__v")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.__v"), F.col("b.__v")))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("a.__v").alias("val_a"), F.col("b.__v").alias("val_b"), "dist"
        )
    )


def longest_shared_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 8,
    min_df: int = 2,
    max_df: int = 16,
) -> DataFrame:
    """TRUE longest-shared-span lengths per document pair (the
    arbitrary-length exact-substring report of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"),
    relationally, without a distributed suffix array.

    Matching ``w``-word gram START positions of a pair lie on an
    alignment diagonal (``sa − sb``); consecutive start positions on one
    diagonal extend the same shared span, so a gaps-and-islands pass
    (row_number per diagonal) recovers every maximal span and
    ``max(run) + w − 1`` is its exact length in words. Returns
    ``(id_a, id_b, longest_span_words, n_spans)`` with ``id_a < id_b``.

    Blocking: grams with document frequency outside [min_df, max_df]
    never enter the pair join — a boilerplate span shared by 10k docs
    would fan out 10⁸ pairs and belongs in an n-gram report, not the
    pair list. The islands window partitions by (pair, diagonal), so
    partition sizes are bounded by document length, never corpus-wide.
    """
    from pyspark.sql import Window

    from spark_pipeline_spark.session import query_persist

    words = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.lower(F.trim(_c(text_col))), "\\s+").alias("__w"),
    )
    grams = words.filter(F.size("__w") >= w).select(
        "__id",
        F.transform(
            F.sequence(F.lit(0), F.size("__w") - w),
            lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i + 1, w)),
        ).alias("__gs"),
    )
    starts = query_persist(
        grams.select("__id", F.posexplode_outer("__gs").alias("__s", "__g"))
        .filter(F.col("__g").isNotNull())
    )
    kept = (
        starts.select("__g", "__id")
        .distinct()
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df").between(min_df, max_df))
        .select("__g")
    )
    post = starts.join(kept, "__g")
    hits = (
        post.select("__g", F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
        .join(
            post.select("__g", F.col("__id").alias("id_b"), F.col("__s").alias("__sb")),
            "__g",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (F.col("__sa") - F.col("__sb")).alias("__d"), "__sa")
        .distinct()
    )
    win = Window.partitionBy("id_a", "id_b", "__d").orderBy("__sa")
    runs = (
        hits.withColumn("__grp", F.col("__sa") - F.row_number().over(win))
        .groupBy("id_a", "id_b", "__d", "__grp")
        .agg(F.count(F.lit(1)).alias("__run"))
    )
    return runs.groupBy("id_a", "id_b").agg(
        (F.max("__run") + F.lit(w - 1)).cast("long").alias("longest_span_words"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )


# Target LIVE bytes for one verify bucket's pair×array exchange (see the
# bucketed two-pass verify inside `prefix_filter_jaccard_join`): sized so
# a 5M-doc corpus (measured ≥60 GB one-shot) verifies in ~5-6 sequential
# buckets while every oracle/bench scale stays on the single-bucket path.
_VERIFY_BUCKET_BYTES = 12 * 2**30


def prefix_filter_jaccard_join(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold similarity self-join via prefix filtering
    (SSJoin/PPJoin, Chaudhuri et al. 2006 / Bayardo et al. 2007) — the
    dedup family's no-false-negative guarantee: unlike MinHash/SimHash
    blocking, every pair with shingle Jaccard >= ``threshold`` is
    RETURNED, provably, yet nothing close to all-pairs is ever compared.

    Each document's distinct word-``n``-gram set is ordered by ascending
    global document frequency (rarest first, ties by a 128-bit gram
    hash — a shared total order; nothing downstream depends on WHICH
    order, see the in-body note); only its PREFIX of length
    ``m - ceil(t*m) + 1`` enters the candidate join. Lemma: J(A,B) >= t
    implies |A∩B| >= ceil(t*max(|A|,|B|)), and two sets with overlap
    >= a must collide within their (size - a + 1)-prefixes under any
    shared total order — so the prefix equi-join misses nothing.
    Candidates are verified with exact Jaccard; the filter is pure
    recall insurance, correctness never depends on it (the registered
    oracle generates candidates from ANY shared gram — a superset —
    so the hash gate re-proves the no-false-negative claim every run).

    Scale shape: prefix grams are by construction the RAREST grams in
    the corpus, so per-key join fanout concentrates where df is
    smallest (the opposite of a naive posting self-join, which blows up
    on boilerplate grams); prefix selection is one df aggregate + one
    window over the posting stream keyed by document; the verify joins
    candidate ids back to the persisted shingle arrays.

    The candidate join also applies the LENGTH filter (Bayardo et al.
    2007 §3.1): J(A,B) >= t forces t*max(|A|,|B|) <= min(|A|,|B|), so
    size-incompatible collisions are discarded AT the equi-join — an
    8-byte column per posting row buys a candidate cut before the
    distinct and the wide-array verify, and it is pure pruning: any
    pair the filter drops provably fails the threshold.

    Floating point: both bounds (prefix length and length filter)
    compare a float product against integers, and a threshold whose
    double representation rounds UP (0.9 is 0.9000000000000000222…)
    could otherwise tighten a bound past its exact rational value and
    drop a pair whose verify-stage Jaccard passes. Each comparison
    therefore carries a slack of ``m·1e-12 + 1e-9`` in the recall-safe
    direction: the rounding error of ``t·m`` is RELATIVE (~2.3e-16·m),
    so the slack must scale with the set size — a fixed absolute 1e-9
    is outgrown once a document has more than ~4e6 distinct shingles
    (ADVICE r13) — while 1e-12·m both dominates the true error by
    three orders of magnitude and stays far below 1, so the integer
    bound never loosens by a whole unit. The filter can only become
    (immeasurably) more permissive, and the exact verify stage
    discards any extra candidates, so the output is unchanged while
    the no-false-negative guarantee holds for every representable
    threshold at every document size.
    """
    import math

    from pyspark.sql import Window

    if not (0 < threshold <= 1):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if shingles is not None:
        # caller already holds (and persisted) the ``(__id, __sh)`` table
        # — e.g. the shared MinHash index prep (minhash_index_tables) or a
        # report that also bands the same corpus; skipping the text scan
        # here removes a whole duplicate shingle pass. ``n`` must match
        # the builder's; stamped metadata is checked when present.
        if (p := minhash_index_params(shingles)) is not None and p[0] != n:
            raise ValueError(
                f"shingles were built with n={p[0]} but this call uses n={n}"
            )
        sh = shingles.select("__id", "__sh")
    else:
        if df is None:
            raise ValueError("df is required when no shingle table is passed")
        sh = query_persist(shingle_table(df, id_col, text_col, n))
    # Gram keys travel the posting pipeline as a 128-bit hash pair
    # (xxhash64 under two seeds), never as the gram STRING: the df
    # aggregate, the df join, the per-doc window sort, and the candidate
    # equi-join each shuffle every posting row, and at 5M docs the
    # string-keyed pipeline's CUMULATIVE shuffle files exceeded local
    # disk (measured: 19.4 GB at 500k docs → ENOSPC at 5M on a 67 GB
    # /tmp). Two fixed-width longs cut the shuffled row roughly in half
    # and compare JVM-native. Correctness: the lemma needs only a
    # SHARED TOTAL ORDER over grams — (df, h1, h2) is one, total modulo
    # a simultaneous collision in BOTH 64-bit hashes (birthday bound
    # ~1e-20 at 1e9 distinct grams), and a join-key collision can only
    # ADD candidates, which the exact verify discards. The no-false-
    # negative guarantee therefore holds modulo 128-bit hash collision.
    post = (
        sh.select(
            "__id",
            F.size("__sh").alias("__m"),
            F.explode_outer("__sh").alias("__g"),
        )
        .filter(F.col("__g").isNotNull())
        .select(
            "__id",
            "__m",
            F.xxhash64(F.col("__g")).alias("__h1"),
            F.xxhash64(F.col("__g"), F.lit(1)).alias("__h2"),
        )
    )
    gram_df = post.groupBy("__h1", "__h2").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__h1", "__h2")
    prefix = (
        post.join(gram_df, ["__h1", "__h2"])
        .withColumn("__rn", F.row_number().over(w))
        # m - ceil(t*m) + 1; the slack keeps ceil from rounding a
        # float-inflated t*m up past the exact rational bound (prefix
        # can only get longer — recall-safe). The double rounding error
        # of t*m is RELATIVE (~2⁻⁵²·t·m ≈ 2.3e-16·m), so a fixed
        # absolute 1e-9 is outgrown past ~4e6 shingles per doc; scale
        # the slack with m (1e-12·m dominates the true error by ~4000×
        # yet stays ≪ 1, so it can never loosen the bound by a whole
        # unit) and keep the 1e-9 floor for small m (ADVICE r13).
        .filter(
            F.col("__rn")
            <= F.col("__m")
            - F.ceil(
                threshold * F.col("__m")
                - (F.col("__m") * F.lit(1e-12) + F.lit(1e-9))
            )
            + 1
        )
        .select("__id", "__h1", "__h2", "__m", "__rn")
        # eager materialization, two jobs in one: (a) the candidate join
        # reads prefix on BOTH sides — without this the whole
        # posting+df+window pipeline is in the plan twice and exchange
        # reuse is at AQE's mercy; (b) lineage truncation makes the
        # upstream shuffle files collectable MID-QUERY (ContextCleaner),
        # which is what keeps the 5M-doc run inside local disk.
        .localCheckpoint(eager=True)
    )
    # POSITIONAL filter (PPJoin, Xiao et al. 2008 §3.2), applied per
    # collision row before the distinct: a gram at sorted position p
    # leaves at most m - p elements after it, so a collision at
    # (rn_a, rn_b) can witness an overlap of at most
    # 1 + min(ma - rn_a, mb - rn_b). Exactness: for a true pair take
    # its FIRST shared gram in the shared order — nothing before it is
    # shared on either side, so the true overlap a <= that bound, and
    # a >= ceil(t*max) means THIS row passes; the pair survives the
    # distinct even when its other collision rows are pruned. The cut
    # matters twice: fewer rows into the distinct exchange, and fewer
    # pairs carrying the WIDE shingle arrays through the verify joins
    # (the measured 14.3 GB stage at 500k docs).
    overlap_bound = F.lit(1) + F.least(
        F.col("__ma") - F.col("__ra"), F.col("__mb") - F.col("__rb")
    )
    cand = (
        prefix.select(
            F.col("__id").alias("id_a"), "__h1", "__h2",
            F.col("__m").alias("__ma"), F.col("__rn").alias("__ra"),
        )
        .join(
            prefix.select(
                F.col("__id").alias("id_b"), "__h1", "__h2",
                F.col("__m").alias("__mb"), F.col("__rn").alias("__rb"),
            ),
            ["__h1", "__h2"],
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # t*max <= min, with m-scaled float slack in the
            # keep-the-pair direction (see the prefix filter above)
            & (
                F.greatest("__ma", "__mb") * F.lit(threshold)
                <= F.least("__ma", "__mb")
                + F.greatest("__ma", "__mb") * F.lit(1e-12)
                + F.lit(1e-9)
            )
            # positional bound >= ceil(t*max), same recall-safe slack
            & (
                overlap_bound
                >= F.ceil(
                    threshold * F.greatest("__ma", "__mb")
                    - (
                        F.greatest("__ma", "__mb") * F.lit(1e-12)
                        + F.lit(1e-9)
                    )
                )
            )
        )
        .select("id_a", "id_b")
        .distinct()
        # Eager materialization of the (tiny: two longs per row) verified-
        # candidate list BEFORE the verify joins: lineage truncation lets
        # ContextCleaner reclaim the candidate self-join + distinct
        # shuffle files WHILE the verify stage runs — without this the
        # two biggest exchanges of the query (candidate collisions and
        # pair×array verify) are on disk SIMULTANEOUSLY, which is what
        # put the 1000× probe at 65.5 GB peak on a 67 GB /tmp (VERDICT
        # r13 item 4; measured at the 1000× synth: 65.5 -> <40 GB peak).
        .localCheckpoint(eager=True)
    )
    # Verify on 64-bit HASHED shingle sets, not the gram strings: the
    # first verify join's output shuffles one full array per candidate
    # pair for the second join — the measured dominant stage (10.4 GB
    # at 500k docs even after the positional filter). 8-byte elements
    # vs ~25-40-byte strings cut that exchange ~2-4×. |A∩B|/|A∪B| on
    # hashes equals the string-set value unless two DISTINCT grams of
    # the same compared pair collide in xxhash64 (P ≈ m²/2⁶⁵ ≈ 5e-15
    # per pair) — far below the float-slack regime, and the registered
    # oracle (string-set jaccard) re-checks the claim every driver run.
    shh = sh.select(
        "__id", F.transform("__sh", lambda g: F.xxhash64(g)).alias("__shh")
    )

    def verify(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(
                shh.select(
                    F.col("__id").alias("id_a"), F.col("__shh").alias("__sa")
                ),
                "id_a",
            )
            .join(
                shh.select(
                    F.col("__id").alias("id_b"), F.col("__shh").alias("__sb")
                ),
                "id_b",
            )
            .select(
                "id_a", "id_b",
                jaccard_similarity("__sa", "__sb").alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    # Bucketed two-pass verify (VERDICT r13 item 4): the pair×array
    # verify exchange is the query's at-linear term — P·(m_a+m_b)·8
    # bytes must cross the wire for an EXACT check, and at 5M docs that
    # single exchange alone peaked ≥60 GB on a 67 GB /tmp even with the
    # candidate stage already reclaimed (measured this round). Splitting
    # the (already materialized) pair list into hash buckets and
    # verifying them as SEQUENTIAL eagerly-checkpointed jobs caps the
    # LIVE footprint at ~one bucket's exchange: each bucket's shuffle
    # files become collectable (ContextCleaner, GC-driven) before the
    # next bucket writes, and only the tiny verified-pair frames
    # survive. Verdicts are per-pair and buckets partition the pairs,
    # so the union is set-identical to the one-shot verify — the
    # brute-force pytest and the any-shared-gram oracle re-prove it.
    # Bucket count is sized from measured quantities (pair count is a
    # cheap action on the checkpointed list; mean set size one
    # aggregate over the persisted shingle pass), so oracle/bench
    # scales run the zero-overhead single-bucket path.
    n_cand = cand.count()
    mbar = (sh.agg(F.avg(F.size("__sh"))).first()[0] or 0.0) if n_cand else 0.0
    verify_bytes = n_cand * mbar * 16.0  # two 8-byte-hash arrays per pair
    # capped at 64: each bucket is a full Spark job — past ~64 the
    # scheduling floor dominates any footprint win
    k_buckets = min(64, max(1, math.ceil(verify_bytes / _VERIFY_BUCKET_BYTES)))
    if k_buckets == 1:
        return verify(cand)
    bucket = F.pmod(F.xxhash64("id_a", "id_b"), F.lit(k_buckets))
    parts = [
        verify(cand.filter(bucket == b)).localCheckpoint(eager=True)
        for b in range(k_buckets)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
