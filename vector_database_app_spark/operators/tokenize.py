"""Distributed BPE tokenizer training and encoding.

No reference equivalent (the reference never tokenizes;
`rag_search/vector_db.py:269` embeds raw strings) — this is the
tokenizer-training stage of an LLM data pipeline: learn a byte-pair
merge table from corpus statistics (Sennrich et al. 2016,
arXiv:1508.07909) and measure the fertility of the learned tokenizer
over the corpus.

Scale design. BPE training is corpus-weighted WORD-VOCABULARY work:
after the one corpus scan that counts words, every iteration touches
only the distinct-word frame (|vocab| rows, millions at 100 TB — never
corpus rows). Each merge step is (a) one hash aggregation over exploded
adjacent symbol pairs (map-side partial, weighted by word count), (b) a
1-row TakeOrderedAndProject argmax collected to the driver (the merge
decision IS a driver artifact, like a k-means centroid), and (c) a pure
column-expression rewrite of the symbol arrays (``F.aggregate``
left-to-right scan — greedy leftmost-first merge exactly like the
published algorithm). ``localCheckpoint`` flattens the lineage each
iteration, the sanctioned use inside iterative trainers.

Encoding reuses the same shape: merges are applied to the DISTINCT word
frame once (vocab-sized work), and per-document token counts come from
joining the token stream back on the word key — AQE broadcasts the
vocab side when it fits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.sqlexpr import slit

#: Merge-table row: (rank, left_sym, right_sym, merged, pair_count).
MERGE_SCHEMA = (
    "rank int, left_sym string, right_sym string, "
    "merged string, pair_count bigint"
)

#: The FROZEN production tokenizer: `bpe_train(documents@sf0.001,
#: n_merges=12, min_pair_count=2)`, pinned as literal data — the way a
#: real pipeline ships a tokenizer (trained once on a reference corpus,
#: applied unchanged at every scale). Pinning makes the encode path
#: value-level oracle-checkable: the DuckDB oracle replays exactly these
#: merges as a string-replace chain, valid at ANY sf because the table
#: no longer depends on the input. tests/test_bpe.py asserts bpe_train
#: on the reference corpus reproduces this table byte-for-byte
#: (determinism guard: ties break on (count desc, pair asc)).
PINNED_MERGES: list[dict] = [
    {"rank": 0, "left_sym": "e", "right_sym": "r", "merged": "er",
     "pair_count": 4650},
    {"rank": 1, "left_sym": "o", "right_sym": "r", "merged": "or",
     "pair_count": 2880},
    {"rank": 2, "left_sym": "i", "right_sym": "n", "merged": "in",
     "pair_count": 2858},
    {"rank": 3, "left_sym": "o", "right_sym": "w", "merged": "ow",
     "pair_count": 2763},
    {"rank": 4, "left_sym": "s", "right_sym": "t", "merged": "st",
     "pair_count": 2721},
    {"rank": 5, "left_sym": "l", "right_sym": "u", "merged": "lu",
     "pair_count": 1928},
    {"rank": 6, "left_sym": "a", "right_sym": "r", "merged": "ar",
     "pair_count": 1873},
    {"rank": 7, "left_sym": "p", "right_sym": "ar", "merged": "par",
     "pair_count": 1873},
    {"rank": 8, "left_sym": "m", "right_sym": "er", "merged": "mer",
     "pair_count": 1824},
    {"rank": 9, "left_sym": "a", "right_sym": "t", "merged": "at",
     "pair_count": 1806},
    {"rank": 10, "left_sym": "a", "right_sym": "n", "merged": "an",
     "pair_count": 984},
    {"rank": 11, "left_sym": "c", "right_sym": "an", "merged": "can",
     "pair_count": 984},
]


def word_counts(
    df: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """One corpus scan → (word, ct): the only corpus-sized job in BPE
    training; everything after runs on the vocabulary."""
    return (
        df.select(
            F.explode(
                F.filter(TX.words(text_col), lambda w: w != F.lit(""))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("ct"))
    )


def merge_step_expr(sym_col: Column, left: str, right: str) -> Column:
    """Rewrite a symbol array applying ONE merge (left,right)→left+right,
    greedy leftmost-first — a sequential ``F.aggregate`` scan: append the
    next symbol, or fuse it into the accumulator tail when the tail is
    `left` and the symbol is `right`. Pure column expression: per-row,
    JVM-side, no Python. ``try_element_at`` keeps the empty-accumulator
    probe ANSI-safe (CASE WHEN does not short-circuit subexpressions)."""
    merged = left + right
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def merge_step_sql(inner: str, left: str, right: str) -> str:
    """The EXACT SQL text of ``merge_step_expr`` — same aggregate fold,
    same try_element_at tail probe, same CASE arms — so the chained
    encode expression parses in ONE py4j round trip instead of ~25 per
    merge (the Column builder costs ~0.37 s of gateway chatter for the
    12-merge PINNED table at every query construction; the SQL text is
    one parse). Collect-verified identical to the Column form on the
    corpus vocabulary (tests/test_bpe.py pins both paths)."""
    return (
        f"aggregate({inner}, CAST(array() AS ARRAY<STRING>), "
        f"(acc, x) -> CASE WHEN ((try_element_at(acc, -1) = {slit(left)}) "
        f"AND (x = {slit(right)})) THEN concat(slice(acc, 1, size(acc) - 1), "
        f"array({slit(left + right)})) ELSE concat(acc, array(x)) END)"
    )


def apply_merges_expr(sym_col: Column | str, merges: list[dict]) -> Column:
    """Chain the learned merge table (in rank order) over a symbol array
    — the ENCODE path. Expression depth is |merges|; encoding runs on
    the distinct-word frame, so the cost is vocab-sized.

    ``sym_col`` may be a Column (per-node Column builder) or a SQL
    snippet string (e.g. ``"split(w, '')"``): the string form renders
    the whole chain as one generated-SQL text parsed in a single round
    trip — the same expression tree, built ~25× cheaper."""
    if isinstance(sym_col, str):
        out_sql = sym_col
        for m in merges:
            out_sql = merge_step_sql(out_sql, m["left_sym"], m["right_sym"])
        return F.expr(out_sql)
    out = sym_col
    for m in merges:
        out = merge_step_expr(out, m["left_sym"], m["right_sym"])
    return out


def _select_batch(
    cands: list, max_batch: int, fetched: int, exact: bool = True
) -> list[tuple[str, str, int]]:
    """Pick merges from the (count desc, pair asc)-sorted candidate rows
    to apply IN ORDER this round.

    EXACT mode — bit-identical to the sequential algorithm (fuzz-proved
    in test_bpe.py); conservative yield (often the bare argmax on
    natural text, where top pairs share letters):
    1. PREFIX up to the first CONFLICT: a candidate conflicts when it
       shares any symbol with an accepted candidate's {left, right,
       merged} — conflicting pairs' counts change under the batch, so
       everything from the first conflict on is deferred to the next
       round.
    2. DOMINANCE: let B be the count at the first conflict (or at the
       last fetched row when no conflict — every unfetched pair counts
       <= that; 0 when the fetched rows are the whole table). Applying
       q merges can grow a non-accepted pair's count to at most
       (q+1)*B (old count <= B, plus at most one bounded increase per
       applied merge), so accept the largest prefix q with
       count_q > (q+1)*B — then at every sequential step j the next
       accepted pair still strictly dominates every other pair, and the
       argmax (with its tie-break) is unchanged.
    3. Fallback: when the rules admit nothing, take the plain argmax
       (top-1) — exactly the classic sequential step.

    APPROX mode (exact=False) — standard corpus-BPE batching: walk the
    candidates, SKIP conflicting ones, accept up to max_batch pairwise
    non-overlapping merges. Applying disjoint merges cannot interact
    textually (no shared symbols incl. merged outputs), but the
    recorded counts are pre-batch statistics and the merge ORDER may
    deviate from strict sequential rank — the throughput mode for real
    32k-vocab training, where one pair-count job per merge is the
    bottleneck."""
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    bound = 0 if len(cands) < fetched else int(cands[-1]["n"])
    for row in cands:
        syms = {row["l"], row["r"]}
        if syms & used or (row["l"] + row["r"]) in used:
            if exact:
                bound = int(row["n"])  # first conflict: everything
                break  # after this (fetched or not) is <= bound
            continue  # approx: skip, keep collecting disjoint merges
        if len(accepted) < max_batch:
            accepted.append((row["l"], row["r"], int(row["n"])))
            used |= syms | {row["l"] + row["r"]}
        elif not exact:
            break
        # exact: keep scanning past max_batch to locate the first
        # conflict (it sets the dominance bound)
    if exact:
        while accepted and accepted[-1][2] <= (len(accepted) + 1) * bound:
            accepted.pop()
    if not accepted and cands:
        row = cands[0]
        accepted = [(row["l"], row["r"], int(row["n"]))]
    return accepted


def bpe_train(
    df: DataFrame,
    *,
    n_merges: int = 12,
    min_pair_count: int = 2,
    text_col: str = "text",
    merges_per_round: int = 8,
    exact: bool = True,
) -> list[dict]:
    """Learn `n_merges` BPE merges from corpus word statistics. Returns
    the merge table as a driver-side list of dicts (rank, left_sym,
    right_sym, merged, pair_count) — n_merges rows, the bounded artifact
    a tokenizer IS (kmeans_train's k·dim contract). Ties break on the
    (left, right) pair string so training is deterministic; merging
    stops early when the best pair's corpus count falls below
    `min_pair_count` (no degenerate single-occurrence merges).

    Job count: one pair-count aggregation + one checkpoint per ROUND,
    not per merge. `exact=True` (default) accepts per round only merges
    whose counts provably make the batch bit-identical to the
    sequential algorithm (`_select_batch` dominance rule) — on natural
    text, where the top pairs share letters, this usually degrades to
    the classic one-merge step, which is the price of exactness.
    `exact=False` is the throughput mode for real 32k-vocab training:
    standard non-overlapping batching (skip conflicting candidates,
    accept up to `merges_per_round` disjoint merges per round — merge
    content order may deviate from strict sequential rank; measured
    rounds/merge in PERF.md). `merges_per_round=1` forces the classic
    sequential loop in either mode (the parity tests' reference)."""
    vocab = word_counts(df, text_col=text_col).select(
        F.split("w", "").alias("syms"), "ct"
    )
    vocab = vocab.localCheckpoint(eager=True)
    merges: list[dict] = []
    fetch = 4 * merges_per_round + 1
    try:
        while len(merges) < n_merges:
            pairs = vocab.filter(F.size("syms") >= 2).select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("l"),
                            F.element_at("syms", i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
                "ct",
            )
            cands = (
                pairs.groupBy("p.l", "p.r")
                .agg(F.sum("ct").alias("n"))
                .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
                .limit(fetch)
                .collect()
            )
            if not cands or cands[0]["n"] < min_pair_count:
                break
            batch = _select_batch(
                cands,
                min(merges_per_round, n_merges - len(merges)),
                fetch,
                exact=exact,
            )
            # min_pair_count cuts the batch exactly where the sequential
            # loop would stop
            batch = [b for b in batch if b[2] >= min_pair_count]
            if not batch:
                break
            expr = F.col("syms")
            for left, right, n in batch:
                merges.append(
                    {
                        "rank": len(merges),
                        "left_sym": left,
                        "right_sym": right,
                        "merged": left + right,
                        "pair_count": n,
                    }
                )
                expr = merge_step_expr(expr, left, right)
            nxt = vocab.select(
                expr.alias("syms"), "ct"
            ).localCheckpoint(eager=True)
            vocab.unpersist()
            vocab = nxt
    finally:
        vocab.unpersist()
    return merges


def bpe_encode_counts(
    df: DataFrame,
    merges: list[dict],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fertility of the learned tokenizer: word count,
    character count, BPE token count after applying the merge table, and
    the chars-per-token compression ratio (one rounded division).

    Scale shape: merges apply to the DISTINCT word frame (vocab-sized
    expression work), then the token stream joins back on the word key
    (AQE broadcast when the vocab fits) and re-aggregates per doc —
    corpus rows are touched exactly twice (explode + join), never by the
    merge expressions."""
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
            F.size(
                apply_merges_expr("split(w, '')", merges)
            ).cast("bigint").alias("w_tokens"),
            F.length("w").cast("bigint").alias("w_chars"),
        )
    )
    return (
        toks.join(vocab_tok, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("w_chars").cast("bigint").alias("n_chars"),
            F.sum("w_tokens").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            id_col,
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            F.round(
                F.col("n_chars") / F.col("n_bpe_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


def wordpiece_step_sqls(pieces: list[str]) -> tuple[str, str, str]:
    """One WordPiece matching step as three generated-SQL column texts
    (new pos / cnt / unk over state columns ``w, w_len, pos, cnt,
    unk``) — shared VERBATIM by the Spark selectExpr chain and the
    DuckDB oracle CTE chain, so the two engines cannot diverge. The
    match-length expression tries piece lengths longest-first (the
    WordPiece rule); substr past the end of the word yields a short
    string that matches no exact-length IN-list, so no bounds checks
    are needed."""
    by_len: dict[int, list[str]] = {}
    for p in pieces:
        by_len.setdefault(len(p), []).append(p)
    arms = []
    for ln in sorted(by_len, reverse=True):
        lits = ", ".join(
            "'" + p.replace("'", "''") + "'" for p in sorted(by_len[ln])
        )
        arms.append(f"WHEN substr(w, pos, {ln}) IN ({lits}) THEN {ln}")
    ml = "CASE " + " ".join(arms) + " ELSE 0 END"
    pos_sql = (
        f"CAST(CASE WHEN unk = 1 OR pos > w_len THEN pos "
        f"WHEN ({ml}) = 0 THEN pos ELSE pos + ({ml}) END AS INT) AS pos"
    )
    cnt_sql = (
        f"CAST(CASE WHEN unk = 1 OR pos > w_len THEN cnt "
        f"WHEN ({ml}) = 0 THEN cnt ELSE cnt + 1 END AS INT) AS cnt"
    )
    unk_sql = (
        f"CAST(CASE WHEN unk = 1 THEN 1 "
        f"WHEN pos <= w_len AND ({ml}) = 0 THEN 1 ELSE 0 END AS INT) AS unk"
    )
    return pos_sql, cnt_sql, unk_sql


def wordpiece_encode_counts(
    df: DataFrame,
    pieces: list[str],
    *,
    max_steps: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fertility of a frozen WordPiece tokenizer — greedy
    LONGEST-match-at-position with whole-word [UNK] on any failure (the
    WordPiece contract, Wu et al. 2016 §4.1; BERT's tokenizer), the
    third tokenizer family next to BPE (merge-order replay) and
    unigram-LM (priority-ordered replace): all three price the same
    corpus so fertility is comparable across families. This frozen
    demo vocab uses the same piece strings at word-initial and
    continuation positions (a real BERT vocab distinguishes ##-pieces;
    the MATCHING ALGORITHM — longest-first, UNK-whole-word — is what
    this operator demonstrates). A word still unconsumed after
    `max_steps` matches is counted [UNK] (same one-token cost).

    Scale shape: the bpe/unigram two-touch contract — the matching
    loop runs as `max_steps` chained selectExpr projections over the
    DISTINCT-word frame (vocab-sized work, pure codegen CASE/IN
    expressions, no HOFs, no Python), and per-doc counts come from
    joining the token stream back on the word key (AQE broadcasts the
    vocab side). The step SQL is generated ONCE and shared verbatim
    with the DuckDB oracle."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.col(text_col), " "), lambda w: w != F.lit("")
            )
        ).alias("w"),
    )
    pos_sql, cnt_sql, unk_sql = wordpiece_step_sqls(pieces)
    state = (
        toks.select("w")
        .distinct()
        .selectExpr(
            "w",
            "CAST(length(w) AS INT) AS w_len",
            "CAST(1 AS INT) AS pos",
            "CAST(0 AS INT) AS cnt",
            "CAST(0 AS INT) AS unk",
        )
    )
    for _ in range(max_steps):
        state = state.selectExpr("w", "w_len", pos_sql, cnt_sql, unk_sql)
    vocab_tok = state.selectExpr(
        "w",
        "CAST(w_len AS BIGINT) AS w_chars",
        "CAST(CASE WHEN unk = 1 OR pos <= w_len THEN 1 ELSE cnt END "
        "AS BIGINT) AS w_tokens",
        "CAST(CASE WHEN unk = 1 OR pos <= w_len THEN 1 ELSE 0 END "
        "AS BIGINT) AS w_unk",
    )
    return (
        toks.join(vocab_tok, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("w_chars").cast("bigint").alias("n_chars"),
            F.sum("w_tokens").cast("bigint").alias("n_wp_tokens"),
            F.sum("w_unk").cast("bigint").alias("n_unk_words"),
        )
    )
