"""Unigram-LM tokenizer (operators/unigram): trainer determinism pin,
Viterbi segmentation, the greedy maximal-match encode fold, and the
pinned-piece invariants the DuckDB replay depends on."""

from __future__ import annotations

import math

import pytest

from vector_database_app_spark.functions import sqlexpr
from vector_database_app_spark.operators import unigram

SF_SMOKE = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# pinned-table invariants (what the SQL replay assumes)
# ---------------------------------------------------------------------------


def test_pinned_pieces_marker_free_and_printable():
    for r in unigram.PINNED_PIECES:
        assert "\x01" not in r["piece"]
        assert r["piece"].isprintable()
        assert "'" not in r["piece"]  # no SQL-escape edge in the replay


def test_pinned_pieces_cover_ranks_and_sorted():
    ranks = [r["rank"] for r in unigram.PINNED_PIECES]
    assert ranks == list(range(len(unigram.PINNED_PIECES)))
    counts = [r["expected_count"] for r in unigram.PINNED_PIECES]
    assert counts == sorted(counts, reverse=True) or all(
        (a > b)
        or (a == b and x["piece"] < y["piece"])
        for (a, x), (b, y) in zip(
            [(r["expected_count"], r) for r in unigram.PINNED_PIECES],
            [(r["expected_count"], r) for r in unigram.PINNED_PIECES][1:],
        )
    )


def test_encode_order_priority():
    order = unigram.encode_order(
        [
            {"piece": "ab"},
            {"piece": "a"},
            {"piece": "abc"},
            {"piece": "aa"},
        ]
    )
    assert order == ["abc", "aa", "ab"]  # length desc, then lexicographic


# ---------------------------------------------------------------------------
# Viterbi segmentation
# ---------------------------------------------------------------------------


def test_viterbi_prefers_high_prob_pieces():
    logp = {"ab": math.log(0.4), "a": math.log(0.3), "b": math.log(0.3)}
    assert unigram.viterbi_tokens("ab", logp, 4) == ["ab"]
    # two singles: log(0.09) < log(0.4) -> merged wins
    assert unigram.viterbi_tokens("abab", logp, 4) == ["ab", "ab"]


def test_viterbi_unknown_char_fallback():
    logp = {"a": math.log(0.5)}
    assert unigram.viterbi_tokens("axa", logp, 4) == ["a", "x", "a"]


def test_viterbi_tie_prefers_longer_last_piece():
    # "aa" as one piece vs two singles with identical total logp
    logp = {"aa": math.log(0.25), "a": math.log(0.5)}
    assert unigram.viterbi_tokens("aa", logp, 4) == ["aa"]


# ---------------------------------------------------------------------------
# greedy maximal-match encode fold
# ---------------------------------------------------------------------------


def _count(word: str, pieces: list[dict], spark) -> int:
    row = (
        spark.range(1)
        .select(
            unigram.match_fold_expr(sqlexpr.slit(word), pieces).alias("n")
        )
        .collect()[0]
    )
    return row["n"]


def test_match_fold_counts(spark):
    pieces = [{"piece": p} for p in ["abc", "ab", "c", "z"]]
    # "abc" -> one piece; "abab" -> ab ab; "abd" -> ab + leftover d
    assert _count("abc", pieces, spark) == 1
    assert _count("abab", pieces, spark) == 2
    assert _count("abd", pieces, spark) == 2
    # longer piece wins over shorter even when shorter sorts first
    assert _count("abcabc", pieces, spark) == 2
    # uncovered chars count one each
    assert _count("xyz", pieces, spark) == 3


def test_match_fold_bounds(spark):
    """Token count is between ceil(len/max_piece_len) and len."""
    import random

    rng = random.Random(6)
    pieces = unigram.PINNED_PIECES
    for _ in range(20):
        w = "".join(rng.choice("scanorderwl") for _ in range(rng.randint(1, 12)))
        n = _count(w, pieces, spark)
        assert math.ceil(len(w) / 4) <= n <= len(w)


# ---------------------------------------------------------------------------
# trainer determinism pin (the bpe PINNED_MERGES discipline)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_trainer_reproduces_pinned_table(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = unigram.unigram_train(
        docs, vocab_size=24, max_piece_len=4, seed_size=200, em_rounds=2
    )
    assert got == unigram.PINNED_PIECES


@pytest.mark.slow
def test_trainer_batched_prune_parity(spark):
    """Throughput mode (exact=False, batched geometric prune schedule —
    the bpe exact=False analogue) reproduces the exact trainer's pinned
    table on the fixture: the collapsed prune steps compose exactly
    here, and the final round lands on vocab_size multi pieces."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = unigram.unigram_train(
        docs, vocab_size=24, max_piece_len=4, seed_size=200,
        em_rounds=2, exact=False,
    )
    assert got == unigram.PINNED_PIECES
    assert sum(len(r["piece"]) >= 2 for r in got) <= 24


def test_encode_counts_schema_and_sanity(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    out = unigram.unigram_encode_counts(docs, unigram.PINNED_PIECES)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["n_unigram_tokens"] <= r["n_chars"]
        assert r["n_unigram_tokens"] >= r["n_words"]


# ---------------------------------------------------------------------------
# independent-reference parity for the greedy maximal-match fold
# ---------------------------------------------------------------------------


def _py_maximal_match_count(word: str, ordered: list[str]) -> int:
    """Independent reference for the replace-fold semantics: consume
    non-overlapping occurrences piece by piece in priority order over a
    POSITION MASK of the original word (replacing a span with one
    marker char never makes its neighbours adjacent, so mask-world ==
    replace-world); every piece found and every leftover char is one
    token."""
    consumed = [False] * len(word)
    found = 0
    for p in ordered:
        i = 0
        while i + len(p) <= len(word):
            if word[i : i + len(p)] == p and not any(
                consumed[i : i + len(p)]
            ):
                for j in range(i, i + len(p)):
                    consumed[j] = True
                found += 1
                i += len(p)
            else:
                i += 1
    return found + sum(not c for c in consumed)


def test_match_fold_parity_with_independent_reference(spark):
    """100 random (word, piece-set) cases in ONE Spark job: the
    replace-fold column expression equals the mask-based reference."""
    import random

    rng = random.Random(42)
    cases = []
    for _ in range(100):
        alpha = "ab" if rng.random() < 0.5 else "abc"
        word = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 14)))
        n_pieces = rng.randint(1, 5)
        pieces = list(
            {
                "".join(
                    rng.choice(alpha)
                    for _ in range(rng.randint(2, 4))
                )
                for _ in range(n_pieces)
            }
        )
        cases.append((word, sorted(pieces)))
    # group cases by piece set so each set is one fold expression
    from collections import defaultdict

    by_set = defaultdict(list)
    for word, pieces in cases:
        by_set[tuple(pieces)].append(word)
    for pieces, words in by_set.items():
        piece_dicts = [{"piece": p} for p in pieces]
        df = spark.createDataFrame(
            [(w,) for w in words], "w string"
        ).select(
            "w",
            unigram.match_fold_expr("w", piece_dicts).alias("n"),
        )
        got = {r["w"]: r["n"] for r in df.collect()}
        order = unigram.encode_order(piece_dicts)
        for w in words:
            assert got[w] == _py_maximal_match_count(w, order), (
                w,
                pieces,
                got[w],
            )
