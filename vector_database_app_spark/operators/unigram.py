"""Distributed unigram-LM (SentencePiece-style) tokenizer training and
encoding.

No reference equivalent (the reference never tokenizes;
`rag_search/vector_db.py:269` embeds raw strings) — this is the other
half of real tokenizer training next to BPE (operators/tokenize.py):
learn a subword piece inventory by EM over a unigram language model
(Kudo 2018, arXiv:1804.10959), pruning the seed vocabulary round by
round, then measure per-document fertility of the frozen tokenizer.

Scale design — the same after-one-scan shape as the BPE trainer:

- ONE corpus scan counts words (`tokenize.word_counts`); every EM round
  after that touches only the distinct-word frame (|vocab| rows,
  millions at 100 TB — never corpus rows).
- The piece table is a bounded driver artifact (<= seed_size rows, like
  a k-means centroid set); each EM round is (a) one Arrow-batched
  Viterbi segmentation pass over the vocab frame (the piece table rides
  into the pandas UDF closure — broadcast-sized by construction),
  (b) one weighted hash aggregation of piece counts (map-side partial),
  (c) a bounded collect of <= seed_size rows for the M-step + prune on
  the driver.
- Pruning follows the standard unigram-LM approximation: drop the
  pieces with the LOWEST expected count — the likelihood loss of
  removing piece p is ~ count_p * (logp_alt - logp_p), monotone in
  count_p for a fixed fallback, so least-count == least-loss-increase.
  Single characters are never pruned (the model must cover any string).

ENCODE semantics (the value-oracled half): PRIORITY-ORDERED GLOBAL
REPLACE — pieces applied in (length DESC, piece ASC) priority, each
piece consuming ALL of its remaining occurrences (left-to-right,
non-overlapping) before the next piece runs; uncovered characters
count one token each (the unigram char-fallback). NOTE this is NOT
WordPiece's longest-match-at-position left-to-right scan: pieces
{'bcd','ab'} segment 'abcd' as [bcd]+a here but [ab]+c+d under
WordPiece (r6 advice — the earlier docstring overclaimed production
WordPiece semantics; cross-engine parity is unaffected because both
engines replay the same chain). It is a deterministic inference rule
exactly replayable in ANSI SQL as a sequential
`replace` chain (every matched piece collapses to one marker char, so
the final string LENGTH is the token count) — which is what makes
`unigram_encode` value-level oracle-checkable while training stays
rows-only (the EM fixed point is float-iterative, not SQL-expressible).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.sqlexpr import slit
from . import tokenize

#: Piece-table row schema (rank by final expected count, ties on piece).
PIECE_SCHEMA = "rank int, piece string, expected_count bigint, logprob double"

#: Marker char for the encode replace-fold; never appears in corpus
#: text (pieces containing it are dropped at pin time, asserted in
#: tests/test_unigram.py).
_MARK = "\x01"

#: The FROZEN production tokenizer: `unigram_train(documents@sf0.001,
#: vocab_size=24, max_piece_len=4, em_rounds=2)` pinned as literal data
#: (the bpe PINNED_MERGES discipline — trained once on the reference
#: corpus, applied unchanged at every scale, which is what makes the
#: encode path value-oracle-checkable at ANY sf). tests/test_unigram.py
#: asserts the trainer reproduces this table byte-for-byte.
PINNED_PIECES: list[dict] = [
    {"rank": 0, "piece": "e", "expected_count": 2788, "logprob": -2.494307564},
    {"rank": 1, "piece": "ow", "expected_count": 1842, "logprob": -2.908780119},
    {"rank": 2, "piece": "r", "expected_count": 1841, "logprob": -2.909323155},
    {"rank": 3, "piece": "s", "expected_count": 1808, "logprob": -2.927410795},
    {"rank": 4, "piece": "scan", "expected_count": 984, "logprob": -3.535761439},
    {"rank": 5, "piece": "co", "expected_count": 978, "logprob": -3.541877666},
    {"rank": 6, "piece": "lumn", "expected_count": 978, "logprob": -3.541877666},
    {"rank": 7, "piece": "wind", "expected_count": 976, "logprob": -3.543924749},
    {"rank": 8, "piece": "orde", "expected_count": 975, "logprob": -3.544949865},
    {"rank": 9, "piece": "sort", "expected_count": 974, "logprob": -3.545976032},
    {"rank": 10, "piece": "part", "expected_count": 963, "logprob": -3.557333924},
    {"rank": 11, "piece": "agg", "expected_count": 953, "logprob": -3.567772432},
    {"rank": 12, "piece": "valu", "expected_count": 950, "logprob": -3.570925351},
    {"rank": 13, "piece": "line", "expected_count": 946, "logprob": -3.575144767},
    {"rank": 14, "piece": "key", "expected_count": 945, "logprob": -3.576202408},
    {"rank": 15, "piece": "join", "expected_count": 936, "logprob": -3.585771859},
    {"rank": 16, "piece": "merg", "expected_count": 935, "logprob": -3.586840807},
    {"rank": 17, "piece": "g", "expected_count": 934, "logprob": -3.587910898},
    {"rank": 18, "piece": "quer", "expected_count": 934, "logprob": -3.587910898},
    {"rank": 19, "piece": "roup", "expected_count": 934, "logprob": -3.587910898},
    {"rank": 20, "piece": "y", "expected_count": 934, "logprob": -3.587910898},
    {"rank": 21, "piece": "a", "expected_count": 931, "logprob": -3.591128059},
    {"rank": 22, "piece": "or", "expected_count": 931, "logprob": -3.591128059},
    {"rank": 23, "piece": "vect", "expected_count": 931, "logprob": -3.591128059},
    {"rank": 24, "piece": "hash", "expected_count": 923, "logprob": -3.599758101},
    {"rank": 25, "piece": "slow", "expected_count": 921, "logprob": -3.6019273},
    {"rank": 26, "piece": "ream", "expected_count": 919, "logprob": -3.604101213},
    {"rank": 27, "piece": "st", "expected_count": 919, "logprob": -3.604101213},
    {"rank": 28, "piece": "er", "expected_count": 917, "logprob": -3.606279864},
    {"rank": 29, "piece": "filt", "expected_count": 917, "logprob": -3.606279864},
    {"rank": 30, "piece": "h", "expected_count": 910, "logprob": -3.613942736},
    {"rank": 31, "piece": "d", "expected_count": 29, "logprob": -7.060091506},
    {"rank": 32, "piece": "b", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 33, "piece": "c", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 34, "piece": "f", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 35, "piece": "i", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 36, "piece": "j", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 37, "piece": "k", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 38, "piece": "l", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 39, "piece": "m", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 40, "piece": "n", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 41, "piece": "o", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 42, "piece": "p", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 43, "piece": "q", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 44, "piece": "t", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 45, "piece": "u", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 46, "piece": "v", "expected_count": 0, "logprob": -10.427387336},
    {"rank": 47, "piece": "w", "expected_count": 0, "logprob": -10.427387336},
]


def _all_substrings(w: Column, max_len: int) -> Column:
    """Every substring of length 1..max_len of `w` — pure column
    expression (nested transform + flatten), so seeding is one
    shuffle-free projection over the vocab frame."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(max_len), F.length(w) - i + 1)
                ),
                lambda n: w.substr(i, n),
            ),
        )
    )


def seed_pieces(
    vocab: DataFrame, *, max_piece_len: int = 4, seed_size: int = 200
) -> list[dict]:
    """Seed candidate pieces: corpus-weighted substring counts, top
    `seed_size` multi-char pieces by (count DESC, piece ASC) plus ALL
    single characters (never prunable). Returns driver-side rows —
    bounded by seed_size + |alphabet|."""
    subs = (
        vocab.select(
            F.explode(_all_substrings(F.col("w"), max_piece_len)).alias(
                "piece"
            ),
            "ct",
        )
        .groupBy("piece")
        .agg(F.sum("ct").alias("n"))
    )
    multi = (
        subs.filter(F.length("piece") >= 2)
        .orderBy(F.desc("n"), F.asc("piece"))
        .limit(seed_size)
        .collect()
    )
    chars = subs.filter(F.length("piece") == 1).collect()
    return [
        {"piece": r["piece"], "n": int(r["n"])}
        for r in sorted(
            chars, key=lambda r: (-r["n"], r["piece"])
        )
    ] + [{"piece": r["piece"], "n": int(r["n"])} for r in multi]


def viterbi_tokens(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of `word` under piece log-probs — left-to-right
    DP maximizing the summed logprob; characters absent from the table
    fall back to (min logp - 10). Deterministic tie-break: equal scores
    prefer the LONGER last piece (larger split point)."""
    n = len(word)
    fallback = (min(logp.values()) if logp else 0.0) - 10.0
    best = [float("-inf")] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            p = word[i:j]
            lp = logp.get(p)
            if lp is None:
                if j - i > 1:
                    continue
                lp = fallback
            s = best[i] + lp
            # strict > with ascending i: the first (smallest-i) optimum
            # wins, i.e. ties prefer the LONGER last piece —
            # deterministic for the trainer pin
            if s > best[j]:
                best[j] = s
                back[j] = i
    out: list[str] = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


def unigram_train(
    df: DataFrame,
    *,
    vocab_size: int = 24,
    max_piece_len: int = 4,
    seed_size: int = 200,
    em_rounds: int = 2,
    prune_factor: float = 0.75,
    text_col: str = "text",
    exact: bool = True,
) -> list[dict]:
    """Learn a unigram-LM piece inventory. Returns the piece table as a
    driver-side list of dicts (rank, piece, expected_count, logprob) —
    <= vocab_size multi-char pieces plus all single chars, the bounded
    artifact a tokenizer IS.

    Per EM round: Viterbi-segment every distinct word under the current
    table (Arrow-batched pandas UDF — vocab-sized work), aggregate
    corpus-weighted piece counts (one shuffle on the piece key), re-fit
    probabilities, prune multi-char pieces to
    max(vocab_size, ceil(cur * prune_factor)) by (count DESC, piece
    ASC). Deterministic end to end: seeding, ties, and pruning all
    break on the piece string.

    ``exact=False`` is the THROUGHPUT mode (r6 verdict task 6 — the
    bpe ``exact=False`` analogue): instead of one prune_factor step per
    EM job (reaching a 32k target from a large seed needs
    log(target/seed)/log(prune_factor) ≈ |pruned| EM jobs), each of the
    ``em_rounds`` jobs prunes down a GEOMETRIC schedule from the seed
    multi-piece count to exactly ``vocab_size`` — batching several
    prune steps per segmentation pass, so the corpus is segmented
    |rounds| times total regardless of how far seed is from target.
    Within one batch the steps collapse exactly (pruning by count twice
    without re-segmenting == pruning once to the composed size); the
    approximation relative to ``exact=True`` is only the skipped
    re-segmentations BETWEEN the collapsed steps. Parity with the exact
    trainer on the pinned fixture is pinned in tests/test_unigram.py."""
    vocab = tokenize.word_counts(df, text_col=text_col).localCheckpoint(
        eager=True
    )
    try:
        seeds = seed_pieces(
            vocab, max_piece_len=max_piece_len, seed_size=seed_size
        )
        total = sum(r["n"] for r in seeds) or 1
        table: dict[str, float] = {
            r["piece"]: math.log(r["n"] / total) for r in seeds
        }
        counts: dict[str, int] = {r["piece"]: r["n"] for r in seeds}
        n_multi = sum(len(p) >= 2 for p in table)
        n_multi0 = max(n_multi, 1)
        for round_ix in range(em_rounds):
            logp = dict(table)  # closure snapshot for this round

            @F.pandas_udf("array<string>")
            def seg(ws: pd.Series) -> pd.Series:
                return ws.map(
                    lambda w: viterbi_tokens(w, logp, max_piece_len)
                )

            got = (
                vocab.select(F.explode(seg(F.col("w"))).alias("piece"), "ct")
                .groupBy("piece")
                .agg(F.sum("ct").alias("n"))
                .collect()
            )
            counts = {r["piece"]: int(r["n"]) for r in got}
            # keep unseen single chars alive with count 0 (coverage)
            for p in table:
                if len(p) == 1:
                    counts.setdefault(p, 0)
            if exact:
                n_multi = max(
                    vocab_size, math.ceil(n_multi * prune_factor)
                )
            elif round_ix == em_rounds - 1:
                # advisor r8: pin the last round explicitly — the float
                # geometric schedule at frac=1.0 can overshoot to
                # vocab_size+1 when (vocab_size/n_multi0)**1.0 rounds up
                # through the ceil, keeping one extra piece despite the
                # "lands exactly on the target" contract
                n_multi = vocab_size
            else:
                # batched prune: geometric schedule seed→vocab_size in
                # em_rounds jobs; the final round lands exactly on the
                # target (pinned above, not computed through float pow)
                frac = (round_ix + 1) / em_rounds
                n_multi = max(
                    vocab_size,
                    math.ceil(
                        n_multi0 * (vocab_size / n_multi0) ** frac
                    ),
                )
            kept_multi = sorted(
                (p for p in counts if len(p) >= 2),
                key=lambda p: (-counts[p], p),
            )[:n_multi]
            kept = [p for p in counts if len(p) == 1] + kept_multi
            tot = sum(max(counts[p], 1) for p in kept)
            table = {
                p: math.log(max(counts[p], 1) / tot) for p in kept
            }
    finally:
        vocab.unpersist()
    final_multi = sorted(
        (p for p in table if len(p) >= 2), key=lambda p: (-counts[p], p)
    )[:vocab_size]
    final = sorted(
        (p for p in table if len(p) == 1), key=lambda p: (-counts[p], p)
    ) + final_multi
    tot = sum(max(counts[p], 1) for p in final)
    return [
        {
            "rank": i,
            "piece": p,
            "expected_count": int(counts[p]),
            "logprob": round(math.log(max(counts[p], 1) / tot), 9),
        }
        for i, p in enumerate(
            sorted(final, key=lambda p: (-counts[p], p))
        )
    ]


def encode_order(pieces: list[dict]) -> list[str]:
    """Multi-char pieces in greedy maximal-match priority: length DESC,
    then piece ASC. Single chars are identity under the token-count
    fold (one leftover char == one token) and are skipped."""
    return sorted(
        (r["piece"] for r in pieces if len(r["piece"]) >= 2),
        key=lambda p: (-len(p), p),
    )


def match_fold_expr(w: str, pieces: list[dict]) -> Column:
    """Token count of a word under priority-ordered global replace
    (see module docstring — NOT WordPiece longest-match-at-position) —
    fold `replace(piece -> MARK)` in priority order, then LENGTH: every
    matched piece is one marker char, every uncovered char one token.
    Pure JVM column expressions on the distinct-word frame.

    ``w`` is a SQL snippet (a column name, or ``sqlexpr.slit(word)``):
    the whole replace chain is rendered as one generated-SQL text and
    parsed in a single py4j round trip instead of one gateway call per
    replace node (same pattern as tokenize.apply_merges_expr)."""
    out_sql = w
    for p in encode_order(pieces):
        out_sql = f"replace({out_sql}, {slit(p)}, {slit(_MARK)})"
    return F.expr(f"length({out_sql})")


def unigram_encode_counts(
    df: DataFrame,
    pieces: list[dict],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fertility of the frozen unigram tokenizer: word
    count, char count, token count under priority-ordered global
    replace, and chars-per-token. Identical scale shape to `bpe_encode_counts`:
    pieces apply to the DISTINCT word frame (vocab-sized expression
    work), the token stream joins back on the word key (AQE broadcasts
    the vocab side), corpus rows are touched exactly twice."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(TX.words(text_col), lambda w: w != F.lit(""))
        ).alias("w"),
    )
    vocab_tok = (
        toks.select("w")
        .distinct()
        .select(
            "w",
            match_fold_expr("w", pieces)
            .cast("bigint")
            .alias("w_tokens"),
            F.length("w").cast("bigint").alias("w_chars"),
        )
    )
    return (
        toks.join(vocab_tok, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("w_chars").cast("bigint").alias("n_chars"),
            F.sum("w_tokens").cast("bigint").alias("n_unigram_tokens"),
        )
        .select(
            id_col,
            "n_words",
            "n_chars",
            "n_unigram_tokens",
            F.round(
                F.col("n_chars") / F.col("n_unigram_tokens"), 6
            ).alias("chars_per_token"),
        )
    )
