"""Product quantization (PQ): compressed-domain ANN for the 100 TB corpus.

No reference equivalent (the reference holds float vectors in one pickle,
`rag_search/vector_db.py:160-161`). At scale the raw-vector scan is the
cost: 100 TB of float32 embeddings compresses ~32× under PQ (64-d float =
256 B → m=8 one-byte codes), so the FIRST pass of a search reads 3 TB of
codes instead of 100 TB of floats, then an exact re-rank touches only the
shortlist's float vectors (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — the IVF-ADC system).

Split of work, all stock DataFrame ops:

- **train** (`pq_train`): per-subspace L2 Lloyd's over sliced sub-vectors.
  Per iteration and subspace, assignment is a broadcast of k·(d/m)
  centroids and a row-local argmin (the corpus never shuffles); the mean
  update is posexplode + hashagg keyed (code, pos) with map-side partials.
  Only m·k·(d/m) = k·d doubles ever reach the driver.
- **encode** (`pq_encode`): one projection — an array<int> of m codes per
  vector via the same row-local argmin. Shuffle-free; write it partitioned
  next to the corpus and the compressed scan is just a narrower column.
- **search** (`pq_search`): Asymmetric Distance Computation. The query is
  NOT quantized: per query we precompute the m×k table of
  dot(query_sub, centroid) partials — tiny (q·m·k rows), broadcast — then
  score = sum over subspaces of table[s, code_s]. Expressed as
  posexplode(codes) ⋈ broadcast(table) → hashagg by (query, vector):
  explode + broadcast-hash-join + partial agg, the engine's standard
  scalable shape (PERF.md lesson: explode+hashagg over interpreted HOF
  folds). Optional exact re-rank (`refine_with`) rescoring the ADC
  shortlist against float vectors — the standard PQ + re-rank system.

Determinism: init = k lowest-id vectors per subspace, ties in argmin break
on code id, no RNG anywhere — same codes on every run and cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqlexpr import dlit, fold_dot, ident
from ..functions.vector import cosine_rounded

#: rounding applied to ADC partial sums — keeps scores accumulation-order
#: independent (same convention as cosine_rounded)
_ADC_SCALE = 6


def _subspace_cols(vec_col: str, m: int, dim: int) -> list:
    """Slice a d-dim array column into m contiguous (d/m)-dim sub-arrays
    (plan-time literals; d must be divisible by m)."""
    sub = dim // m
    return [
        F.slice(F.col(vec_col), s * sub + 1, sub).cast("array<double>").alias(
            f"_sub{s}"
        )
        for s in range(m)
    ]


def _l2_argmin_code(sub_name: str, codebook_rows):
    """Row-local nearest-centroid code under L2 over a PLAN-TIME literal
    codebook: argmin |x-c|² = argmax (x·c − |c|²/2). Builds an array of
    (score, code) structs and takes array_max — no join, no shuffle.

    GENERATED AS ONE SQL STRING (r7): the original Column-API form
    built 8 subspaces × k structs × (zip_with + aggregate + lit-array)
    through py4j — thousands of driver round-trips per pq_encode call,
    measured 15-20 s of PLAN CONSTRUCTION at any data size (execution
    of the 2000-row sf0.1 corpus was 0.6 s). One F.expr parse is a
    single py4j call for the identical expression tree; values are
    bit-identical (same round/aggregate/zip_with nodes after parsing —
    the pinned PQ oracles verify this at three SFs). `sub_name` is the
    COLUMN NAME of the (d/m)-dim slice.

    LOOPED, NOT UNROLLED (r8, the verdict's carry-over (b)): the k
    dot-product scorers are lambda-bound through one transform() over a
    literal array of (centroid, |c|²/2, neg_code) structs, so the
    expression tree holds ONE aggregate/zip_with body instead of k
    inline copies — k× smaller parse and analysis for pq_train's m×iters
    cold-start builds, with the literal struct array constant-folded.
    Same arithmetic per entry, so codes are bit-identical (pinned-
    codebook parity in tests/test_pq.py)."""
    entries = ", ".join(
        f"struct(array({', '.join(map(dlit, c))}) AS c, "
        f"{dlit(sum(v * v for v in c) / 2.0)} AS nh, {-j} AS neg_code)"
        for j, c in codebook_rows
    )
    # neg_code: array_max's struct ordering breaks score ties toward
    # the LOWEST code id
    return F.expr(
        f"CAST(-(array_max(transform(array({entries}), e -> "
        f"struct(round({fold_dot(ident(sub_name), 'e.c')} - e.nh, "
        f"{_ADC_SCALE}) AS score, e.neg_code AS neg_code))).neg_code) AS INT)"
    )


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train per-subspace L2 codebooks; returns a DataFrame
    ``(subspace int, code int, centroid array<double>)`` with m·k rows
    (the whole index metadata is k·d doubles — driver- and
    broadcast-friendly at any corpus size)."""
    spark = corpus.sparkSession
    subs = corpus.select(*_subspace_cols(vec_col, m, dim)).persist()

    books: dict[int, list[tuple[int, list[float]]]] = {}
    for s in range(m):
        col = f"_sub{s}"
        init = [
            (j, list(r[col]))
            for j, r in enumerate(
                corpus.orderBy(id_col)
                .limit(k)
                .select(*_subspace_cols(vec_col, m, dim))
                .collect()
            )
        ]
        books[s] = init

    for _ in range(iters):
        # one job updates ALL subspaces: assign each sub-vector row-locally
        # against its literal codebook, then a single (subspace, code, pos)
        # hashagg computes every mean
        assigned = subs.select(
            *[
                F.struct(
                    F.lit(s).alias("subspace"),
                    _l2_argmin_code(f"_sub{s}", books[s]).alias("code"),
                    F.col(f"_sub{s}").alias("sub"),
                ).alias(f"_a{s}")
                for s in range(m)
            ]
        )
        stacked = assigned.select(
            F.explode(F.array(*[F.col(f"_a{s}") for s in range(m)])).alias("a")
        ).select("a.subspace", "a.code", "a.sub")
        means = (
            stacked.select(
                "subspace", "code", F.posexplode("sub").alias("pos", "x")
            )
            .groupBy("subspace", "code", "pos")
            .agg(F.avg("x").alias("mval"))
            .groupBy("subspace", "code")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("mval")))
                    ),
                    lambda t: t["mval"],
                ).alias("centroid")
            )
            .collect()
        )
        for r in means:  # empty cells keep their previous centroid
            cur = dict(books[r.subspace])
            cur[r.code] = list(r.centroid)
            books[r.subspace] = sorted(cur.items())

    subs.unpersist()
    return spark.createDataFrame(
        [
            (s, j, v)
            for s, rows in sorted(books.items())
            for j, v in rows
        ],
        "subspace int, code int, centroid array<double>",
    )


def _codebook_literal(codebooks: DataFrame) -> dict[int, list[tuple[int, list[float]]]]:
    """Collect the (tiny) codebook table to plan-time literals — m·k·(d/m)
    doubles, the PQ analogue of broadcasting k centroids."""
    books: dict[int, list[tuple[int, list[float]]]] = {}
    for r in codebooks.collect():
        books.setdefault(r.subspace, []).append((r.code, list(r.centroid)))
    return {s: sorted(rows) for s, rows in books.items()}


def pq_encode(
    corpus: DataFrame,
    codebooks,
    *,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Compress each vector to ``codes array<int>`` (length m): row-local
    argmin per subspace against the literal codebooks — a shuffle-free
    projection that runs at scan speed. Keep it partitioned like the
    corpus; the float column stays behind for the re-rank pass only.

    `codebooks` is the pq_train DataFrame (collected here — one tiny
    job) or the already-collected ``{subspace: [(code, centroid), ...]}``
    dict (e.g. from the artifact store's in-process memo), which keeps
    plan construction zero-job."""
    books = (
        codebooks
        if isinstance(codebooks, dict)
        else _codebook_literal(codebooks)
    )
    m = len(books)
    sub = dim // m
    keep = keep_cols or []
    # ONE nested-transform expression for all m argmins (r7): the
    # unrolled form (m × k inline struct/aggregate copies) compiled a
    # multi-megabyte codegen unit — seconds of first-run JIT at ANY
    # data size. Here the codebook is one literal array<array<struct>>
    # and both loops are lambda-bound (the slice binds once per
    # subspace via the outer lambda), so codegen emits two small loops.
    # Arithmetic per element is IDENTICAL to _l2_argmin_code (the
    # pinned PQ oracles verify value-identity at three SFs).
    per_s = []
    for s in range(m):
        entries = ", ".join(
            f"named_struct('c', array({', '.join(map(dlit, c))}), "
            f"'nh', {dlit(sum(v * v for v in c) / 2.0)}, 'nj', {-j})"
            for j, c in books[s]
        )
        per_s.append(f"array({entries})")
    books_lit = f"array({', '.join(per_s)})"
    sub_vec = (
        f"slice(CAST({ident(vec_col)} AS ARRAY<DOUBLE>), s * {sub} + 1, {sub})"
    )
    codes = F.expr(
        f"transform(sequence(0, {m - 1}), s -> "
        f"CAST(-(array_max(transform(element_at({books_lit}, s + 1), "
        f"t -> struct(round({fold_dot(sub_vec, 't.c')} "
        f"- t.nh, {_ADC_SCALE}) AS score, t.nj AS neg_code))"
        f").neg_code) AS INT))"
    )
    return corpus.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        codes.alias("codes"),
    )


def pq_search(
    codes_df: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    shortlist: int | None = None,
    refine_with: DataFrame | None = None,
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over PQ codes, optionally exact-re-ranked.

    Stage 1 (compressed domain): the per-query m×k partial-dot table is
    itself a plan — queries ⋈ broadcast(codebooks) with a row-local dot
    product → (query, subspace, code, partial), only q·m·k rows. The
    exploded codes broadcast-join that table and a hashagg folds the m
    partials back into one ADC score per (query, vector); the corpus
    never shuffles raw floats in this stage, only codes.

    Stage 2 (optional, ``refine_with`` = the float corpus): semi-join the
    ADC ``shortlist`` (default 5k) back to the floats and rescore with
    exact cosine — the standard recall-restoring re-rank, touching only
    shortlist·q float vectors.
    """
    sub = dim // m

    # (query, subspace, code, partial-dot) — q·m·k rows, broadcast side
    table = (
        queries.crossJoin(F.broadcast(codebooks))
        .select(
            F.col(query_id_col),
            "subspace",
            "code",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.slice(
                            F.col(query_vec_col).cast("array<double>"),
                            F.col("subspace") * sub + 1,
                            sub,
                        ),
                        F.col("centroid"),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                _ADC_SCALE,
            ).alias("partial"),
        )
    )

    # posexplode_OUTER: pq_encode's codes are never null/empty (an
    # array() of m argmin literals), so outer is value-identical — but
    # plain posexplode lets the optimizer infer `size(codes) > 0 AND
    # isnotnull(codes)` and push that filter to the scan, re-running
    # the ENTIRE m-subspace encode per inferred site on the pre-shuffle
    # splits (PERF.md r5).
    exploded = codes_df.select(
        F.col(id_col), F.posexplode_outer("codes").alias("subspace", "code")
    )
    adc = (
        exploded.join(F.broadcast(table), ["subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(
            # partials are 6-dp-rounded doubles; summing them as
            # DECIMAL(18,6) is EXACT, so the ADC score is independent
            # of accumulation order AND engine (the cross-engine
            # rounded-value-sum rule; enables the pinned value oracle)
            F.round(
                F.sum(F.col("partial").cast("decimal(18,6)")).cast(
                    "double"
                ),
                _ADC_SCALE,
            ).alias("adc_score")
        )
    )

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("adc_score"), F.asc(id_col)
    )
    if refine_with is None:
        return (
            adc.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id_col, id_col, "adc_score", "rk")
        )

    short = shortlist or max(5 * k, 50)
    cand = adc.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= short
    )
    rescored = (
        cand.select(query_id_col, id_col, "adc_score")
        .join(refine_with.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(
                queries.select(F.col(query_id_col), F.col(query_vec_col))
            ),
            query_id_col,
        )
        .withColumn(
            "sim", cosine_rounded(vec_col, query_vec_col)
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        rescored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "sim", "adc_score", "rk")
    )


def ivfpq_search(
    assigned_codes: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 2,
    m: int = 8,
    dim: int = 64,
    shortlist: int | None = None,
    refine_with: DataFrame | None = None,
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_scale: int = 6,
) -> DataFrame:
    """IVF-PQ — the FAISS IVFADC system (Jégou et al. 2011 §V) as stock
    DataFrame ops, and the full 100 TB ANN architecture this engine's
    pieces compose into: the IVF coarse quantizer prunes the search to
    `n_probe` cells (partition-pruned scans when the code table is stored
    `partitionBy(centroid_id)` — tests/test_layout.py proves the DPP
    path), the PQ codes answer ADC inside those cells only (reading
    m bytes per candidate instead of d floats), and an exact re-rank
    touches the shortlist's float vectors alone.

    `assigned_codes` = (id, centroid_id, codes) — the stored form a real
    deployment writes once at index-build time (ivf_assign ∘ pq_encode).

    Scale accounting per query batch: centroid ranking touches √N rows,
    the ADC stage reads n_probe/√N of the CODE table (~3 TB for a 100 TB
    float corpus at m=8), and the float column is read for
    |queries|·shortlist rows — never a full-corpus float scan. Every join
    is an equi-join on a blocking key (centroid_id, then
    (query, subspace, code)); the corpus-side shuffle carries only
    candidate ADC partials, collapsed map-side.

    Determinism: probes, codes, ADC scores and both rankings use rounded
    scores with id tie-breaks — same answer on any partitioning."""
    sub = dim // m

    # stage 1: probe list per query (broadcast centroid table, √N rows)
    q_cent = queries.crossJoin(
        F.broadcast(centroids.select("centroid_id", "centroid"))
    ).withColumn(
        "qcsim",
        cosine_rounded(query_vec_col, "centroid", sim_scale),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.desc("qcsim"), F.asc("centroid_id")
    )
    probes = (
        q_cent.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= n_probe)
        .select(query_id_col, "centroid_id")
    )

    # stage 2: ADC inside probed cells only. The per-query m×k partial
    # table is tiny and broadcast; candidates explode to m code rows and
    # fold back in one hashagg.
    table = (
        queries.crossJoin(F.broadcast(codebooks))
        .select(
            F.col(query_id_col),
            "subspace",
            "code",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.slice(
                            F.col(query_vec_col).cast("array<double>"),
                            F.col("subspace") * sub + 1,
                            sub,
                        ),
                        F.col("centroid"),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                _ADC_SCALE,
            ).alias("partial"),
        )
    )
    cand = assigned_codes.join(F.broadcast(probes), "centroid_id")
    # posexplode_OUTER for the same reason as pq_search: kill the
    # generator-inferred size/isnotnull filter that would re-encode at
    # the scan (codes are never null/empty)
    exploded = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.posexplode_outer("codes").alias("subspace", "code"),
    )
    adc = (
        exploded.join(F.broadcast(table), [query_id_col, "subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(
            # partials are 6-dp-rounded doubles; summing them as
            # DECIMAL(18,6) is EXACT, so the ADC score is independent
            # of accumulation order AND engine (the cross-engine
            # rounded-value-sum rule; enables the pinned value oracle)
            F.round(
                F.sum(F.col("partial").cast("decimal(18,6)")).cast(
                    "double"
                ),
                _ADC_SCALE,
            ).alias("adc_score")
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("adc_score"), F.asc(id_col)
    )
    if refine_with is None:
        return (
            adc.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id_col, id_col, "adc_score", "rk")
        )

    # stage 3: exact re-rank of the ADC shortlist against float vectors
    short = shortlist or max(5 * k, 50)
    cand_top = adc.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= short
    )
    rescored = (
        cand_top.select(query_id_col, id_col, "adc_score")
        .join(refine_with.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            query_id_col,
        )
        .withColumn(
            "sim", cosine_rounded(vec_col, query_vec_col, sim_scale)
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        rescored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "sim", "adc_score", "rk")
    )


def pq_encode_residual(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks,
    *,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """RESIDUAL product quantization — the actual IVFADC encode of
    Jégou et al. 2011 §V (ivfpq_search's direct-vector form is the
    'no-residual' simplification FAISS calls IndexIVFPQ with
    by_residual=False): assign each vector to its coarse cell, then
    PQ-encode the RESIDUAL r = x − c(x) instead of x. Residuals
    concentrate near the origin, so the same codebook budget spends
    its resolution on the within-cell displacement — the reason
    production IVFADC defaults to residual encoding.

    Plan shape: one broadcast centroid join for assignment (ivf_assign),
    one more broadcast join to attach the winning centroid's vector, a
    row-local zip_with subtraction, then pq_encode's literal-codebook
    argmin — the corpus never shuffles. Output (id, centroid_id,
    codes), the stored form a residual deployment writes at index-build
    time."""
    from . import search as _search

    # r11 optimization (guide §2.4): ivf_assign passes every corpus
    # column through (it only drops its rank/score helpers), so the
    # assignment already carries the vector — joining it back onto the
    # corpus on id re-scanned and re-shuffled the corpus for rows it
    # already had. One broadcast join attaches the winning centroid's
    # vector; same rows, same residuals (oracle-verified).
    assign = _search.ivf_assign(
        corpus.select(id_col, vec_col), centroids, vec_col=vec_col, id_col=id_col
    ).select(id_col, vec_col, "centroid_id")
    with_cent = (
        assign.join(
            F.broadcast(
                centroids.select(
                    "centroid_id", F.col("centroid").alias("_cvec")
                )
            ),
            "centroid_id",
        )
        .select(
            id_col,
            "centroid_id",
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("_cvec").cast("array<double>"),
                lambda x, y: x - y,
            ).alias("_res"),
        )
    )
    return pq_encode(
        with_cent,
        codebooks,
        dim=dim,
        vec_col="_res",
        id_col=id_col,
        keep_cols=["centroid_id"],
    )


def ivfpq_residual_search(
    assigned_codes: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 2,
    m: int = 8,
    dim: int = 64,
    shortlist: int | None = None,
    refine_with: DataFrame | None = None,
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_scale: int = 6,
) -> DataFrame:
    """IVF-PQ search over RESIDUAL codes (pq_encode_residual) — the
    full IVFADC of Jégou et al. 2011 §V: q·x ≈ q·c + q·r, so the ADC
    score per candidate is the query-centroid dot of the candidate's
    OWN cell plus the residual-codebook table lookups. Each term is a
    6-dp-rounded double summed in DECIMAL(18,6), so the score is exact
    given its inputs, independent of accumulation order and engine —
    the pinned value-oracle contract of ivfpq_search extended by one
    additive term.

    Probe selection stays rounded-cosine (ivf_assign's metric, so a
    vector's cell is always among its nearest queries' probes); the
    ADC q·c term is the RAW dot — under the corpus's L2-normalized
    embeddings (F12 invariant) dot(q, x) IS the cosine being
    approximated, and normalizing by |c| would mis-weight the
    centroid term. Scale accounting matches ivfpq_search: the float
    column is touched only by the shortlist re-rank."""
    sub = dim // m

    def _dot6(a, b):
        return F.round(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            _ADC_SCALE,
        )

    q_cent = queries.crossJoin(
        F.broadcast(centroids.select("centroid_id", "centroid"))
    ).select(
        query_id_col,
        "centroid_id",
        cosine_rounded(
            query_vec_col, "centroid", sim_scale
        ).alias("qcsim"),
        _dot6(
            F.col(query_vec_col).cast("array<double>"),
            F.col("centroid").cast("array<double>"),
        ).alias("qc_dot"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.desc("qcsim"), F.asc("centroid_id")
    )
    probes = (
        q_cent.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= n_probe)
        .select(query_id_col, "centroid_id", "qc_dot")
    )

    table = (
        queries.crossJoin(F.broadcast(codebooks))
        .select(
            F.col(query_id_col),
            "subspace",
            "code",
            _dot6(
                F.slice(
                    F.col(query_vec_col).cast("array<double>"),
                    F.col("subspace") * sub + 1,
                    sub,
                ),
                F.col("centroid"),
            ).alias("partial"),
        )
    )
    cand = assigned_codes.join(F.broadcast(probes), "centroid_id")
    exploded = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col("qc_dot"),
        F.posexplode_outer("codes").alias("subspace", "code"),
    )
    adc = (
        exploded.join(F.broadcast(table), [query_id_col, "subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(
            F.round(
                (
                    F.sum(F.col("partial").cast("decimal(18,6)"))
                    + F.first("qc_dot").cast("decimal(18,6)")
                ).cast("double"),
                _ADC_SCALE,
            ).alias("adc_score")
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("adc_score"), F.asc(id_col)
    )
    if refine_with is None:
        return (
            adc.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(query_id_col, id_col, "adc_score", "rk")
        )
    short = shortlist or max(5 * k, 50)
    cand_top = adc.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= short
    )
    rescored = (
        cand_top.select(query_id_col, id_col, "adc_score")
        .join(refine_with.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            query_id_col,
        )
        .withColumn(
            "sim",
            cosine_rounded(vec_col, query_vec_col, sim_scale),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("sim"), F.asc(id_col)
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "sim", "adc_score", "rk")
    )
