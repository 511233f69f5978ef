"""Iterated BPE training (`operators/bpe.py`): merge-application
semantics, determinism/early-stop, and the claim that justifies the
trainer's existence — a BPE-trained vocabulary beats the same-budget
char-n-gram baseline through the SAME greedy apply path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_pipeline_spark.operators.bpe import bpe_train
from spark_pipeline_spark.queries import t
from tests.conftest import SF_SMALL


def _wc(spark, rows):
    return spark.createDataFrame(rows, "term string, n long")


def test_merge_application_is_left_to_right_single_pass(spark):
    """The fold must implement the standard non-overlapping left-to-right
    scan: 'aaaa' under merge (a,a) becomes [aa, aa]; 'aaa' becomes
    [aa, a] (the trailing 'a' is NOT merged with the fresh 'aa')."""
    merges, sym = bpe_train(_wc(spark, [("aaaa", 10), ("aaa", 1)]), 1)
    assert merges == [{"step": 1, "pair": "a a", "n": 32}]
    got = {r["term"]: r["s"] for r in sym.collect()}
    assert got == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"]}


def test_merged_symbols_compose_across_rounds(spark):
    """Round 2 counts pairs over round-1's merged symbols — 'abab'
    learns (a,b) then (ab,ab)."""
    merges, sym = bpe_train(_wc(spark, [("abab", 5)]), 2)
    assert [m["pair"] for m in merges] == ["a b", "ab ab"]
    assert merges[0]["n"] == 10 and merges[1]["n"] == 5
    assert sym.collect()[0]["s"] == ["abab"]


def test_tie_break_and_weighting(spark):
    """Counts are word-frequency weighted; equal counts break to the
    lexicographically smaller pair (the oracle convention)."""
    # 'xy' seen 3 times (pair x y count 3); 'zw' seen 3 times — tie on
    # (w z? no) 'x y' vs 'z w': both 3, 'x y' < 'z w'
    merges, _ = bpe_train(_wc(spark, [("xy", 3), ("zw", 3)]), 1)
    assert merges == [{"step": 1, "pair": "x y", "n": 3}]


def test_early_stop_when_fully_merged(spark):
    """Training stops when every word is one symbol — no empty-pair
    rounds, no error."""
    merges, sym = bpe_train(_wc(spark, [("ab", 2)]), 5)
    assert [m["pair"] for m in merges] == ["a b"]
    assert sym.collect()[0]["s"] == ["ab"]


def test_n_merges_validation(spark):
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(_wc(spark, [("ab", 1)]), 0)


def test_trained_vocab_beats_ngram_baseline_fertility(spark):
    """VERDICT r12 item 4 'done' gate: corpus-weighted fertility
    (pieces per word) through `greedy_subword_count` — the
    `tokenizer_fertility_documents` apply path — with the 2-4-char
    pieces of a 64-merge BPE vocabulary is strictly better than with
    the top-64 char-{2,3,4}-gram vocabulary (the existing baseline
    derivation), and the direct BPE encode (the symbol arrays
    themselves) is better still. Measured at sf0.001: ~2.21 vs ~2.91
    vs ~1.77 pieces/word."""
    from spark_pipeline_spark.functions import greedy_subword_count

    toks = (
        t(spark, SF_SMALL, "documents")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), "\\s+")
            ).alias("term")
        )
        .filter(F.col("term") != "")
    )
    wc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n")).persist()
    try:
        merges, sym = bpe_train(wc, 64)
        bpe_vocab = [
            p for p in (m["pair"].replace(" ", "") for m in merges)
            if 2 <= len(p) <= 4
        ]
        grams = None
        for n in (2, 3, 4):
            g = toks.filter(F.length("term") >= n).select(
                F.explode(
                    F.expr(
                        f"transform(sequence(1, length(term) - {n} + 1),"
                        f" i -> substring(term, i, {n}))"
                    )
                ).alias("g")
            )
            grams = g if grams is None else grams.unionAll(g)
        gram_vocab = [
            r["g"]
            for r in grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("g"))
            .limit(64)
            .collect()
        ]

        def fertility(vocab):
            return (
                wc.select(
                    "n", greedy_subword_count("term", vocab).alias("p")
                )
                .agg((F.sum(F.col("n") * F.col("p")) / F.sum("n")))
                .first()[0]
            )

        f_bpe, f_gram = fertility(bpe_vocab), fertility(gram_vocab)
        f_direct = sym.agg(
            F.sum(F.col("n") * F.size("s")) / F.sum("n")
        ).first()[0]
        assert f_bpe < f_gram, (f_bpe, f_gram)
        assert f_direct <= f_bpe, (f_direct, f_bpe)
    finally:
        wc.unpersist()


# --- persisted vocab lifecycle: build / encode / drift / retrain ----------


def test_bpe_encode_matches_trainer_symbols_and_covers_unseen(spark):
    """For words the trainer saw, replaying the merge list reproduces the
    trainer's symbol table bit-for-bit; unseen words encode under the
    same left-to-right semantics."""
    from spark_pipeline_spark.operators.bpe import bpe_encode

    words = _wc(spark, [("abab", 5), ("abc", 3), ("cab", 2)])
    merges, sym = bpe_train(words, 2)
    mlist = [m["pair"] for m in merges]

    enc = bpe_encode(words, mlist)
    assert {r["term"]: r["s"] for r in enc.collect()} == {
        r["term"]: r["s"] for r in sym.collect()
    }

    # unseen word: 'abba' under merges learned from abab/abc/cab
    unseen = bpe_encode(_wc(spark, [("abba", 1)]), mlist).collect()[0]["s"]
    # replay by hand: merges are ['a b', then the round-2 winner]
    assert unseen[0] == "ab"  # first merge applies left-to-right


def test_build_vocab_persists_and_stats_row(spark, tmp_path):
    from spark_pipeline_spark.operators.bpe import (
        bpe_vocab_stats,
        build_bpe_vocab,
    )

    path = str(tmp_path / "vocab")
    info = build_bpe_vocab(
        spark, _wc(spark, [("abab", 4), ("abc", 2)]), path, 2
    )
    assert info["n_merges"] == 2 and info["n_terms"] == 2
    assert info["total_words"] == 6
    # abab -> [abab] (1 piece x4), abc -> [ab, c] (2 pieces x2) = 8
    assert info["total_pieces"] == 8
    assert bpe_vocab_stats(spark, path) == info
    m = spark.read.parquet(path + "/merges").orderBy("step").collect()
    assert [r["pair"] for r in m] == ["a b", "ab ab"]


def test_fertility_drift_alarm_fires_on_shifted_corpus(spark, tmp_path):
    """Same corpus -> ratio 1.0, no alarm; a corpus of unseen words ->
    fertility rises, alarm fires."""
    from spark_pipeline_spark.operators.bpe import (
        bpe_fertility_drift,
        build_bpe_vocab,
    )

    path = str(tmp_path / "vocab")
    train = _wc(spark, [("abab", 10), ("ab", 5)])
    build_bpe_vocab(spark, train, path, 2)

    same = bpe_fertility_drift(spark, path, train).first()
    assert same["drift_ratio"] == 1.0 and same["alarm"] == 0

    shifted = bpe_fertility_drift(
        spark, path, _wc(spark, [("zzzz", 10), ("qqqq", 5)]), alarm_ratio=1.02
    ).first()
    assert shifted["apply_fertility"] == 4.0  # no merge applies
    assert shifted["alarm"] == 1
    assert shifted["drift_ratio"] > 1.02


def test_retrain_swaps_vocab_and_defaults_keep_merge_count(spark, tmp_path):
    """Retrain on a shifted corpus replaces all three sub-tables (staged
    swap), keeps the live merge count by default, and equals a fresh
    build on the same corpus."""
    import os

    from spark_pipeline_spark.operators.bpe import (
        bpe_vocab_stats,
        build_bpe_vocab,
        retrain_bpe_vocab,
    )

    path = str(tmp_path / "vocab")
    build_bpe_vocab(spark, _wc(spark, [("abab", 10)]), path, 2)
    new_corpus = _wc(spark, [("zzzz", 8), ("zzq", 4)])
    info = retrain_bpe_vocab(spark, path, new_corpus)
    assert set(info["swapped"]) == {"merges", "symbols", "stats"}
    assert info["n_merges"] == 2  # kept the live count

    fresh = str(tmp_path / "fresh")
    want = build_bpe_vocab(spark, new_corpus, fresh, 2)
    assert bpe_vocab_stats(spark, path) == want
    got_m = [
        (r["step"], r["pair"], r["n"])
        for r in spark.read.parquet(path + "/merges").orderBy("step").collect()
    ]
    want_m = [
        (r["step"], r["pair"], r["n"])
        for r in spark.read.parquet(fresh + "/merges").orderBy("step").collect()
    ]
    assert got_m == want_m
    from tests.commit_kill import sidecar_residue

    assert sidecar_residue(tmp_path) == []
    assert sorted(os.listdir(str(tmp_path))) == ["fresh", "vocab"]


def test_bpe_driver_gate_equals_distributed_rounds(spark):
    """The driver-side merge loop (cap gate) must be bit-identical to
    the distributed rounds — merges (pair, count, order) AND the final
    symbol table — on shapes where tie-breaks, early stop, and
    non-overlapping application matter."""
    cases = [
        [("aaaa", 10), ("aaa", 1)],                  # overlap handling
        [("abab", 5), ("ababab", 2)],                # composed merges
        [("xy", 3), ("zw", 3)],                      # count tie -> pair asc
        [("ab", 2)],                                 # early stop
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
    ]
    for rows in cases:
        wc = _wc(spark, rows)
        m_drv, s_drv = bpe_train(wc, 4)
        m_dist, s_dist = bpe_train(wc, 4, driver_solve_cap=0)
        assert m_drv == m_dist, rows
        got_drv = {r["term"]: (r["n"], list(r["s"])) for r in s_drv.collect()}
        got_dist = {r["term"]: (r["n"], list(r["s"])) for r in s_dist.collect()}
        assert got_drv == got_dist, rows


def test_build_vocab_runs_without_jvm_gateway(spark, tmp_path):
    """Spark Connect sessions expose no _jvm and cannot rename: the build
    commits each table on its own there and reads back like a classic
    build; the retrain, which replaces the root by rename, refuses up
    front."""
    from spark_pipeline_spark.operators.bpe import (
        bpe_vocab_stats,
        build_bpe_vocab,
        retrain_bpe_vocab,
    )

    class FakeConnectSession:
        _jvm = None

        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            return getattr(self._real, name)

    fake = FakeConnectSession(spark)
    words = _wc(spark, [("abab", 10), ("abc", 3)])
    path, classic = str(tmp_path / "vocab"), str(tmp_path / "classic")
    got = build_bpe_vocab(fake, words, path, 2)
    assert got == build_bpe_vocab(spark, words, classic, 2)
    assert bpe_vocab_stats(fake, path) == got
    def rows(root, name):
        return {tuple(map(str, r)) for r in spark.read.parquet(f"{root}/{name}").collect()}

    for name in ("merges", "symbols"):
        assert rows(path, name) == rows(classic, name)
    with pytest.raises(RuntimeError, match="needs a classic SparkSession"):
        retrain_bpe_vocab(fake, path, words)
