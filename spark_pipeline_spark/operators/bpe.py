"""Iterated distributed BPE training (Sennrich et al. 2016) — the
tokenizer-trainer loop at corpus scale.

North-star capability (SURVEY.md §2.11; the reference has no text
functions at all — its closest hook is the ``transform-sql`` passthrough,
``sparktools/core.py:158-160``). `bpe_merge_candidates_documents`
computes ONE merge round's statistics; real tokenizer training iterates:
count adjacent symbol pairs (weighted by word frequency), merge the most
frequent pair everywhere, recount, N times.

Scale design — why this survives 100 TB:

- The loop runs over the **word-frequency table**, never the corpus: one
  corpus scan builds ``(term, n)`` (orders of magnitude smaller than the
  token stream — the classic BPE trainer layout), and every subsequent
  round touches only that vocabulary-sized frame.
- Pair counting is explode → groupBy(pair) → sum(n): map-side partial
  combine, one keyed shuffle of pair-count rows per round.
- The winning merge is ONE top-1 row fetched to the driver per round
  (contract-bounded, the k-center argmin discipline), then applied as a
  pure Catalyst ``aggregate`` left-fold over each word's symbol array —
  no Python UDFs, no per-row Python.
- ``localCheckpoint`` truncates lineage between rounds (the
  `connected_components` / `pagerank` iterative discipline), so round
  R's plan does not replay rounds 1..R-1.

Left-to-right merge semantics: the fold appends symbols to an
accumulator and, when (last(acc), current) equals the winning pair,
replaces the last element with the merged symbol. Because the merged
symbol ``a||b`` can never equal ``a`` (``b`` is nonempty), a freshly
merged element never re-matches as the LEFT side in the same pass —
i.e. the fold is exactly the standard single-pass, non-overlapping,
left-to-right BPE application (on ``aaa`` with merge ``(a,a)`` it
produces ``[aa, a]``, not ``[aa, aa]``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_pipeline_spark.gate import gate_rows, local_frame

__all__ = [
    "bpe_train",
    "bpe_encode",
    "build_bpe_vocab",
    "bpe_vocab_stats",
    "bpe_fertility_drift",
    "retrain_bpe_vocab",
]


def _apply_merge(s, a: str, b: str):
    """Single-pass left-to-right application of merge ``(a, b) -> a||b``
    to a symbol-array column (see module docstring for why the fold is
    exactly BPE's non-overlapping scan)."""
    merged = a + b
    rest = F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0)))
    return F.aggregate(
        rest,
        F.slice(s, 1, 1),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_train_driver(
    rows: list, n_merges: int
) -> tuple[list[dict], list]:
    """Driver-side replica of the distributed BPE rounds over a
    collected ``(term, n, s)`` list — EXACT same semantics: weighted
    adjacent-pair counts, winner by (count desc, pair asc — Python
    string order == Spark's UTF8 binary order, both code-point), and
    the single-pass left-to-right non-overlapping merge `_apply_merge`
    implements as a Catalyst fold. Symbol arrays arrive ALREADY SPLIT
    by Spark, so splitting semantics cannot drift between the paths.
    Property-tested equal to the distributed rounds in
    `tests/test_bpe.py`."""
    from collections import Counter

    sym = [(term, n, list(s)) for term, n, s in rows]
    merges: list[dict] = []
    for step in range(1, n_merges + 1):
        cnt: Counter = Counter()
        for _term, n, s in sym:
            for i in range(len(s) - 1):
                cnt[s[i] + " " + s[i + 1]] += n
        if not cnt:
            break
        pair, c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append({"step": step, "pair": pair, "n": int(c)})
        a, b = pair.split(" ", 1)
        merged = a + b
        new_sym = []
        for term, n, s in sym:
            out = s[:1]
            for x in s[1:]:
                if out and out[-1] == a and x == b:
                    out[-1] = merged
                else:
                    out.append(x)
            new_sym.append((term, n, out))
        sym = new_sym
    return merges, sym


def bpe_train(
    words: DataFrame,
    n_merges: int,
    term_col: str = "term",
    count_col: str = "n",
    driver_solve_cap: int = 200_000,
) -> tuple[list[dict], DataFrame]:
    """Train ``n_merges`` BPE merges over a word-frequency table.

    ``words``: ``(term_col string, count_col long)`` — distinct words
    with corpus frequencies (the one corpus-sized aggregation happens
    BEFORE this call; the loop itself is vocabulary-sized). Terms must
    be non-empty and whitespace-free (whitespace-split tokens are —
    the pair key joins symbols with a space, unambiguous by
    construction).

    Returns ``(merges, symbols)``: ``merges`` is the learned table —
    one dict ``{"step", "pair", "n"}`` per round, where ``pair`` is
    ``"a b"`` and ``n`` the weighted pair count at the time it won
    (count desc, pair asc tie-break — the deterministic convention
    every oracle replays) — and ``symbols`` the final
    ``(term, n, s array<string>)`` frame encoding each word under all
    learned merges. Training stops early if a round finds no pairs
    (every word collapsed to one symbol)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    from spark_pipeline_spark.operators.graph import _free_local_checkpoint

    sym = words.select(
        F.col(term_col).alias("term"),
        F.col(count_col).cast("long").alias("n"),
        F.split(term_col, "").alias("s"),
    ).localCheckpoint(eager=True)

    # Below ``driver_solve_cap`` vocabulary rows the whole merge loop
    # runs on the driver over ONE collect of the (already materialized,
    # already Spark-split) symbol table: each distributed round costs a
    # top-1 fetch + an eager checkpoint — 2 scheduler-floor jobs per
    # merge that dominate a vocabulary-sized frame on any scheduler.
    # The vocab table is orders of magnitude smaller than the corpus
    # (the whole point of the trainer layout), so the cap covers real
    # corpora far beyond bench scale; past it (or cap=0) the
    # distributed rounds run unchanged.
    if driver_solve_cap:
        head = gate_rows(sym, driver_solve_cap)
        if head is not None:
            merges, final_sym = _bpe_train_driver(
                [(r["term"], r["n"], r["s"]) for r in head], n_merges
            )
            _free_local_checkpoint(sym)
            symbols = local_frame(
                words.sparkSession, final_sym, "term string, n bigint, s array<string>"
            )
            return merges, symbols

    merges: list[dict] = []
    for step in range(1, n_merges + 1):
        pair_expr = F.transform(
            F.sequence(F.lit(1), F.size("s") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("s"), i), F.element_at(F.col("s"), i + 1)
            ),
        )
        top = (
            sym.filter(F.size("s") >= 2)
            .select("n", F.explode(pair_expr).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("n").alias("__cnt"))
            .orderBy(F.desc("__cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["__cnt"])
        a, b = pair.split(" ", 1)
        merges.append({"step": step, "pair": pair, "n": cnt})
        new_sym = sym.select(
            "term", "n", _apply_merge(F.col("s"), a, b).alias("s")
        ).localCheckpoint(eager=True)
        _free_local_checkpoint(sym, successor=new_sym)
        sym = new_sym
    return merges, sym


def bpe_encode(
    words: DataFrame,
    merges: list[str],
    term_col: str = "term",
) -> DataFrame:
    """Encode (distinct) words under an already-trained ordered merge
    list — the APPLY path for a persisted vocabulary, covering unseen
    words (the trainer's symbol table only covers its own corpus).

    Each word is char-split, then every merge is applied in training
    order as the same single-pass left-to-right Catalyst fold the
    trainer uses — so for words the trainer saw, the result is
    bit-identical to its symbol table (pinned by pytest). Adds an
    ``s array<string>`` column; input rows/columns pass through.

    Scale: vocabulary-sized (encode once per DISTINCT word, join back
    to the corpus by term — never encode the token stream), zero
    shuffles, no Python workers. The merge list is a driver-side
    constant (n_merges entries — the trained artifact, not data), so
    the folds inline as literals; localCheckpoint every few rounds
    keeps the nested-fold expression tree out of codegen-depth
    trouble on large merge counts."""
    out = words.withColumn("s", F.split(F.col(term_col), ""))
    for i, pair in enumerate(merges):
        a, b = pair.split(" ", 1)
        out = out.withColumn("s", _apply_merge(F.col("s"), a, b))
        if (i + 1) % 8 == 0:
            out = out.localCheckpoint(eager=False)
    return out


def _vocab_paths(root: str) -> tuple[str, str, str]:
    root = root.rstrip("/")
    return f"{root}/merges", f"{root}/symbols", f"{root}/stats"


def build_bpe_vocab(
    spark: SparkSession,
    words: DataFrame,
    path: str,
    n_merges: int,
    term_col: str = "term",
    count_col: str = "n",
) -> dict:
    """Train and PERSIST a BPE vocabulary — the tokenizer twin of
    `ann_index.build_ivf_index`'s persisted lifecycle. Three parquet
    sub-tables under ``path``:

    - ``merges/`` — ``(step int, pair string, n long)``, the ordered
      learned merge table (the artifact a tokenizer ships);
    - ``symbols/`` — ``(term, n, s array<string>)``, the training
      corpus's distinct words encoded under all merges (the trainer
      gets this for free; apply-side joins hit it before falling back
      to `bpe_encode` replay for unseen words);
    - ``stats/`` — ONE row ``(n_merges, n_terms, total_words,
      total_pieces, build_fertility)``: the build-time corpus-weighted
      fertility (pieces per word) that `bpe_fertility_drift` alarms
      against — persisted AT build time because recomputing it later
      would use the drifted corpus, which is the thing being measured.

    The three tables commit together: written once under a staging
    root, then one rename pair replaces the vocab root
    (`io.commit.commit`), so a reader never sees merges of one build
    with symbols of another. Spark Connect cannot rename, so there each
    table commits on its own (a crash between them can mix builds).
    Returns the stats row as a dict."""
    from spark_pipeline_spark.io.commit import commit

    merges, sym = bpe_train(words, n_merges, term_col, count_col)
    mdf = local_frame(
        spark,
        [(m["step"], m["pair"], m["n"]) for m in merges],
        "step int, pair string, n long",
    )
    stats_row = sym.agg(
        F.lit(len(merges)).cast("int").alias("n_merges"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("n").cast("long").alias("total_words"),
        F.sum(F.col("n") * F.size("s")).cast("long").alias("total_pieces"),
    ).withColumn(
        "build_fertility",
        F.round(F.col("total_pieces") / F.col("total_words"), 6),
    )

    frames = (mdf.coalesce(1), sym, stats_row.coalesce(1))
    if getattr(spark, "_jvm", None) is None:
        for p, df in zip(_vocab_paths(path), frames):
            commit(spark, p, df.write.mode("overwrite").parquet)
    else:
        def write(staging: str) -> None:
            for p, df in zip(_vocab_paths(staging), frames):
                df.write.parquet(p)

        commit(spark, path, write)
    return stats_row.first().asDict()


def bpe_vocab_stats(spark: SparkSession, path: str) -> dict:
    """The persisted build-time stats row of a vocab dir, as a dict."""
    from spark_pipeline_spark.io.commit import open_table

    return open_table(spark, _vocab_paths(path)[2]).first().asDict()


def bpe_fertility_drift(
    spark: SparkSession,
    path: str,
    words: DataFrame,
    alarm_ratio: float = 1.02,
    term_col: str = "term",
    count_col: str = "n",
) -> DataFrame:
    """Fertility-drift alarm for a persisted BPE vocabulary — the
    tokenizer mirror of the ANN index's PQ code-drift report (VERDICT
    r13 item 7): encode the CURRENT corpus's distinct words under the
    trained merges (`bpe_encode` — covers unseen words) and compare
    corpus-weighted fertility against the vocab's persisted BUILD-time
    fertility. A trained tokenizer's fertility rises as the corpus
    drifts away from its training distribution (new vocabulary, new
    languages); the alarm's acted-on path is `retrain_bpe_vocab`.

    Returns ONE row: ``(n_merges, build_fertility, apply_fertility,
    drift_ratio, alarm)``. ``drift_ratio`` casts each integer aggregate
    to double BEFORE multiplying — (double(apply_pieces) ·
    double(build_words)) / (double(apply_words) · double(build_pieces))
    — because the int64 product overflows past ~3e9 words per side
    (Spark would silently wrap under non-ANSI arithmetic, DuckDB would
    error — ADVICE r14), and IEEE double ops are bit-identical across
    both engines so the oracle pairing is unaffected; ``alarm``
    compares the 6dp-rounded ratio to ``alarm_ratio``.

    Scale: ONE vocabulary-sized encode pass + one aggregate; the merge
    table and the one-row stats frame are driver-side constants (the
    artifact, not data)."""
    from spark_pipeline_spark.io.commit import open_table

    m_path, _, st_path = _vocab_paths(path)
    merges = [
        r["pair"]
        for r in open_table(spark, m_path).orderBy("step").collect()
    ]
    stats = open_table(spark, st_path)

    enc = bpe_encode(
        words.select(F.col(term_col).alias("term"),
                     F.col(count_col).cast("long").alias("n")),
        merges,
    )
    apply_agg = enc.agg(
        F.sum("n").cast("long").alias("apply_words"),
        F.sum(F.col("n") * F.size("s")).cast("long").alias("apply_pieces"),
    )
    drift = F.round(
        (F.col("apply_pieces").cast("double") * F.col("total_words").cast("double"))
        / (F.col("apply_words").cast("double") * F.col("total_pieces").cast("double")),
        6,
    )
    return (
        apply_agg.crossJoin(
            F.broadcast(
                stats.select(
                    "n_merges", "total_words", "total_pieces",
                    "build_fertility",
                )
            )
        )
        .select(
            "n_merges",
            "build_fertility",
            F.round(
                F.col("apply_pieces") / F.col("apply_words"), 6
            ).alias("apply_fertility"),
            drift.alias("drift_ratio"),
            (drift > F.lit(alarm_ratio)).cast("int").alias("alarm"),
        )
    )


def retrain_bpe_vocab(
    spark: SparkSession,
    path: str,
    words: DataFrame,
    n_merges: int | None = None,
    term_col: str = "term",
    count_col: str = "n",
) -> dict:
    """The drift alarm's ACTED-ON path: retrain the merges on the
    CURRENT corpus and replace the whole persisted vocabulary through
    `build_bpe_vocab`'s commit (the live tables serve reads for the
    entire retrain; the commit is one rename pair, checked, rolled back
    and raised on failure — see `io.commit`).

    ``n_merges`` defaults to the live vocab's merge count. Returns the
    new stats dict plus ``swapped``, the tables the committed root
    holds."""
    from spark_pipeline_spark.io.commit import require_jvm

    require_jvm(spark, "retrain_bpe_vocab")
    if n_merges is None:
        n_merges = int(bpe_vocab_stats(spark, path)["n_merges"])
    info = build_bpe_vocab(
        spark, words, path, n_merges, term_col=term_col, count_col=count_col,
    )
    return {**info, "swapped": ["merges", "symbols", "stats"]}
