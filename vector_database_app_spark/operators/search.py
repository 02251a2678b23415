"""Similarity search operators.

Reference core: `return_similar` (`rag_search/vector_db.py:684-696`) — exact
brute-force cosine via sklearn over an in-memory (N, d) matrix, full argsort,
take k. `run_text_search`/`run_image_search` (`:698-759`) wrap it with a
metadata prefilter (`get_search_range`, `:673-682`).

Spark-first re-expression:

- single query  → broadcast 1-row query × corpus, cosine expression, then
  `ORDER BY sim DESC LIMIT k` which Catalyst plans as TakeOrderedAndProject
  (per-partition heap top-k + driver merge — strictly better than the
  reference's full argsort, and it never materializes the corpus).
- query batch   → `corpus ⋈ broadcast(queries)` + window row_number per
  query. The corpus never shuffles; only per-query top-k rows move.
- 100 TB path   → candidate generation first (IVF coarse quantizer or
  sign-random-projection LSH buckets), exact re-rank only inside probed
  buckets. Candidate generation is a broadcast hash join on bucket id —
  no all-pairs crossJoin at scale.

Embedding-space safety (SURVEY §7.3): operators take an optional
``space``/``query_space`` tag and refuse to mix spaces — the reference
enforces this only implicitly by keeping text/image tables separate
(`rag_search/vector_db.py:716-722`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqlexpr import dlit, fold_dot, ident
from ..functions.vector import cosine_rounded


class EmbeddingSpaceMismatch(ValueError):
    """Raised when a query vector and corpus are tagged with different
    embedding spaces (e.g. CLIP-512 vs text-1536)."""


def _check_spaces(corpus_space: str | None, query_space: str | None) -> None:
    if corpus_space and query_space and corpus_space != query_space:
        raise EmbeddingSpaceMismatch(
            f"refusing to compare embedding spaces {corpus_space!r} vs {query_space!r}"
        )


def knn(
    corpus: DataFrame,
    query: DataFrame,
    *,
    k: int = 5,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    id_col: str = "vec_id",
    corpus_space: str | None = None,
    query_space: str | None = None,
    sim_scale: int = 6,
) -> DataFrame:
    """Exact top-k for ONE query row (reference `return_similar`,
    `rag_search/vector_db.py:684-696`; default k=5 per `:619`).

    `query` must be a 1-row DataFrame with `query_vec_col`. It is broadcast,
    so the plan is scan → project(sim) → TakeOrderedAndProject: one pass over
    the corpus, no shuffle of corpus rows, survives any corpus size.
    Ties break on `id_col` over the *rounded* similarity → deterministic.
    Rows with NULL sim never match (r7, defensive: the in-repo cosine
    maps null/zero vectors to 0.0, so this fires only if a sim
    expression ever produces NULLs — pinned across all three knn forms
    so they stay row-identical).
    """
    _check_spaces(corpus_space, query_space)
    sim = cosine_rounded(vec_col, query_vec_col, sim_scale)
    return (
        corpus.crossJoin(F.broadcast(query.select(query_vec_col)))
        .withColumn("sim", sim)
        .filter(F.col("sim").isNotNull())
        .drop(query_vec_col)
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    corpus_space: str | None = None,
    query_space: str | None = None,
    sim_scale: int = 6,
) -> DataFrame:
    """Top-k per query for a broadcastable batch of queries — the
    REFERENCE window form: corpus ⋈ broadcast(queries), row_number per
    query_id. Kept as the semantic definition and the equality baseline
    for tests/test_search_twophase.py; every in-repo consumer runs
    :func:`knn_batch_twophase` (r6), whose candidate-only shuffle
    replaces this form's corpus-sized shuffle into |queries| reducers.
    For query batches too large to broadcast, chunk or switch to
    `ivf_search`.
    """
    _check_spaces(corpus_space, query_space)
    joined = (
        corpus.crossJoin(
            F.broadcast(queries.select(query_id_col, query_vec_col))
        )
        .withColumn(
            "sim",
            cosine_rounded(vec_col, query_vec_col, sim_scale),
        )
        # NULL sims (null/missing vectors) never rank — pinned across
        # all three knn forms (r7; the struct sort in the two-phase form
        # is nulls-first where this window's DESC is nulls-last, so
        # filtering is the only order both forms agree on)
        .filter(F.col("sim").isNotNull())
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop(query_vec_col)
    )


def knn_batch_twophase(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    corpus_space: str | None = None,
    query_space: str | None = None,
    sim_scale: int = 6,
    persist_corpus: bool = False,
) -> DataFrame:
    """The 100 TB form of :func:`knn_batch`: identical rows and ranks,
    different physical strategy. knn_batch's per-query row_number window
    shuffles EVERY scored corpus row to |queries| reducer partitions —
    at a 100 TB corpus with a handful of queries that is a handful of
    reducers sorting the world. This version does distributed top-k the
    takeOrdered way: per-(query, input-partition) LOCAL top-k via one
    hash aggregation (map-side partial; shuffle carries only
    |partitions|·|queries|·k candidate structs of (sim, id) — never
    corpus rows), then a final per-query merge-sort-slice of the
    |partitions|·k candidates. Output columns == knn_batch
    ((corpus cols) + sim + rk), rows bit-identical (same rounded sim,
    same (sim DESC, id ASC) total order — equality property-pinned in
    tests/test_search_twophase.py).

    The candidate structs carry ONLY (sim, id); full corpus columns
    re-attach by an id equi-join at the end (k·|queries| rows), so wide
    corpus rows never enter the aggregation state. Agg state per task =
    partition rows × |queries| 16-byte structs before the slice —
    ObjectHashAggregate spills if a pathological partition×batch
    combination exceeds memory, where the window form would instead
    ship it all to one reducer.

    REQUIREMENTS on `corpus` (r6 advice — the re-attach is an id
    equi-join against a SECOND EXECUTION of the corpus plan):

    - `id_col` must be UNIQUE: duplicate ids multiply output rows at
      the re-attach (the window form would instead rank the duplicates
      separately). All in-repo corpora key on a primary key or a
      concat-of-keys chunk uid.
    - the corpus plan must be DETERMINISTIC: a nondeterministic plan
      (``sample()``, a nondeterministic UDF, a non-AvailableNow stream
      snapshot) can re-attach rows that DISAGREE with the scored
      candidates — pass ``persist_corpus=True`` to pin one
      materialization for both sides. In-repo consumer audit (r7):
      rag text/cross-modal/image corpora are pruned scans + filters +
      a concat_ws uid; image_text_search re-embeds through the
      deterministic clipstub exprs; ann_planner/mmr/registry corpora
      are scans or planner-bounded frames — all deterministic, none
      persisted (persisting an sf-scaling corpus at 100 TB trades a
      map-side rescan for cluster-wide cache pressure; the rescan is
      the right default when the corpus path has no shuffle).
    - rows with NULL sim are filtered BEFORE the candidate aggregation
      (defensive: the in-repo cosine maps null/zero vectors to 0.0, so
      NULL sims cannot arise today — but the struct array_sort is
      nulls-FIRST while the window form's sim DESC is nulls-LAST, so if
      a sim expression ever produced NULLs the forms would diverge;
      dropping them is the only ordering both agree on, and a NULL
      "nearest neighbor" is meaningless anyway). Pinned identically in
      :func:`knn` and :func:`knn_batch`.

    CAVEAT: the re-attach executes the corpus PLAN a second time. For a
    parquet scan that is a cheap pruned rescan; for an expensive
    DERIVED corpus (a trained projection, a UDF-embedded frame),
    pass ``persist_corpus=True`` (lazy persist, caller's session owns
    the cache lifetime) or persist() upstream — measured at
    sf0.1 the double-execution costs ~0.5-1 s on the clipstub-embedded
    multimodal corpus and would dominate on a heavy one."""
    _check_spaces(corpus_space, query_space)
    if persist_corpus:
        corpus = corpus.persist()
    sim = cosine_rounded(vec_col, query_vec_col, sim_scale)
    scored = (
        corpus.crossJoin(F.broadcast(queries.select(query_id_col, query_vec_col)))
        .select(
            query_id_col,
            F.col(id_col).alias("_cid"),
            sim.alias("sim"),
            F.spark_partition_id().alias("_pid"),
        )
        .filter(F.col("sim").isNotNull())
    )
    # (sim DESC, id ASC) as an ascending struct sort. The sort key is
    # `0.0 - sim`, not `-sim`: subtraction sends BOTH zero signs to
    # +0.0 (window ORDER BY normalizes -0.0 == 0.0; a raw negation
    # would let java.lang.Double.compare order them and diverge from
    # the window form on rounded sims of -0.0). The final rows re-read
    # the original sim from the struct, never the negated key.
    cand = F.struct(
        (F.lit(0.0) - F.col("sim")).alias("nsim"),
        F.col("_cid").alias("cid"),
        F.col("sim").alias("s"),
    )
    local = (
        scored.withColumn("_c", cand)
        .groupBy(query_id_col, "_pid")
        .agg(
            F.slice(
                F.array_sort(F.collect_list("_c")), 1, k
            ).alias("_top")
        )
    )
    merged = (
        local.groupBy(query_id_col)
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("_top"))), 1, k
            ).alias("_top")
        )
        .select(
            query_id_col,
            F.posexplode("_top").alias("_pos", "_c"),
        )
        .select(
            query_id_col,
            F.col("_c.cid").alias(id_col),
            F.col("_c.s").alias("sim"),
            (F.col("_pos") + 1).alias("rk"),
        )
    )
    # re-attach the full corpus row by id (k·|queries| rows)
    out_cols = [c for c in corpus.columns]
    return (
        merged.join(corpus.select(*out_cols), id_col)
        .select(*out_cols, query_id_col, "sim", "rk")
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    threshold: float,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    corpus_space: str | None = None,
    query_space: str | None = None,
    sim_scale: int = 6,
) -> DataFrame:
    """RANGE query — every corpus row with cosine >= threshold per query
    (radius search: "all candidates at least this similar", the retrieval
    mode behind near-dup lookups and recall-first RAG, where top-k's fixed
    cut is wrong by construction).

    Cheaper than knn_batch at scale: the threshold is a plain filter on
    the scored rows — NO per-query window, NO shuffle at all after the
    broadcast join; the corpus stays partition-local end to end. For
    selective thresholds pre-filter with an SRP/IVF candidate stage and
    apply the same predicate inside the probed cells."""
    _check_spaces(corpus_space, query_space)
    return (
        corpus.crossJoin(
            F.broadcast(queries.select(query_id_col, query_vec_col))
        )
        .withColumn(
            "sim", cosine_rounded(vec_col, query_vec_col, sim_scale)
        )
        .filter(F.col("sim") >= threshold)
        .drop(query_vec_col)
    )


# ---------------------------------------------------------------------------
# Scale path: sign-random-projection LSH buckets + exact re-rank
# ---------------------------------------------------------------------------


def _srp_bucket(vec_col: str, n_bits: int, dim: int) -> Column:
    """Sign-random-projection bucket id: n_bits hyperplane sign bits packed
    into a bigint. Hyperplanes are deterministic pseudo-random ±1 vectors
    derived from fixed md5-based constants — same bucket for the same vector
    on every run/cluster, no fitted model object to ship.

    Cosine-preserving LSH: P[bit_i(a) == bit_i(b)] = 1 - angle(a,b)/π.

    The ±1 signs are resolved at PLAN TIME into a literal array via an md5
    of (bit, j) — NOT an affine-mod-2 formula, whose value depends only on
    the parities of its coefficients and therefore yields at most 2
    distinct hyperplanes no matter how many bits (a bug this replaced:
    8-bit buckets collapsed to 4 distinct values on the fixture corpus).
    Per-row work is one zip_with multiply + left-fold add per bit. (A
    fully-flattened element_at chain was measured FASTER warm but 3×
    slower in context: srp_search references the query bucket 9× through
    the probe-ring explode, and projection collapse duplicates the
    expression into each reference — compact trees keep codegen compile
    time bounded.)

    Emitted as ONE generated-SQL F.expr (r7, the pq_encode plan-cost
    lesson): the Column-API form issued n_bits × dim py4j lit calls
    (~512) per bucket expression — measured seconds of plan build
    across this helper's many consumers. CASE WHEN proj >= 0 mirrors
    F.when exactly; values bit-identical (SRP oracles re-verified)."""
    import hashlib

    name = ident(vec_col)
    terms = []
    for bit in range(n_bits):
        signs = ", ".join(
            "1.0D"
            if hashlib.md5(f"srp|{bit}|{j}".encode()).digest()[0] & 1
            else "-1.0D"
            for j in range(dim)
        )
        # not sqlexpr.fold_dot: SQL lambda names print in the plan, and
        # this fold has always bound (x, s)
        proj = (
            f"aggregate(zip_with(CAST({name} AS ARRAY<DOUBLE>), "
            f"array({signs}), (x, s) -> x * s), "
            f"{dlit(0.0)}, (acc, x) -> acc + x)"
        )
        terms.append(
            f"(CASE WHEN {proj} >= {dlit(0.0)} "
            f"THEN CAST({1 << bit} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    if not terms:
        # advisor r8: n_bits=0 used to leave a trailing "+" (a parse
        # error at plan time where the old Column form returned bucket 0)
        return F.expr("CAST(0 AS BIGINT)")
    return F.expr(
        "CAST(0 AS BIGINT) + " + " + ".join(terms)
    )


def srp_index(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    n_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Materialize the ANN 'index': corpus + bucket column. At scale, write
    this out partitioned/bucketed BY bucket so a probe reads only matching
    files (partition pruning does candidate generation for free)."""
    return corpus.withColumn("bucket", _srp_bucket(vec_col, n_bits, dim))


def srp_search(
    indexed_corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    n_bits: int = 8,
    dim: int = 64,
    hamming_probe: int = 1,
    sim_scale: int = 6,
) -> DataFrame:
    """ANN: probe buckets within `hamming_probe` bit-flips of the query's
    bucket, exact-cosine re-rank candidates, top-k per query.

    The join is an equi-join on bucket id (broadcastable query side), so at
    100 TB the corpus is scanned once with bucket pruning instead of a full
    crossJoin; recall is tuned by (n_bits, hamming_probe).
    """
    from itertools import combinations

    if hamming_probe > 3:
        raise ValueError(
            f"hamming_probe={hamming_probe} would probe "
            "sum(C(n_bits,r)) buckets — cap is 3; raise n_bits or use ivf_search"
        )
    q = queries.withColumn("qbucket", _srp_bucket(query_vec_col, n_bits, dim))
    # probe ring: the bucket itself + every mask with <= hamming_probe bits
    masks = [0] + [
        sum(1 << b for b in combo)
        for r in range(1, hamming_probe + 1)
        for combo in combinations(range(n_bits), r)
    ]
    probes = [F.col("qbucket").bitwiseXOR(F.lit(m)) for m in masks]
    q = q.withColumn("bucket", F.explode(F.array(*probes)))
    cand = indexed_corpus.join(
        F.broadcast(q.select(query_id_col, query_vec_col, "bucket")), "bucket"
    )
    scored = cand.withColumn(
        "sim", cosine_rounded(vec_col, query_vec_col, sim_scale)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop(query_vec_col, "bucket")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    centroid_vec_col: str = "centroid",
    centroid_id_col: str = "centroid_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF coarse assignment: each vector → argmax-cosine centroid — the
    SAME rounded-cosine ranking ivf_search uses for probes, so a vector's
    cell is always among the cells its nearest queries probe (ranking by
    raw dot here would bias toward large-norm centroids and break that
    agreement for unnormalized k-means means). Centroids are broadcast
    (tiny: √N cells for N vectors); the corpus never shuffles. Write the
    result partitioned by centroid_id and probes become partition-pruned
    scans."""
    scored = corpus.crossJoin(
        F.broadcast(centroids.select(centroid_id_col, centroid_vec_col))
    ).withColumn(
        "csim", cosine_rounded(vec_col, centroid_vec_col)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("csim"), F.asc(centroid_id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .drop("rk", "csim", centroid_vec_col)
    )


def kmeans_train(
    corpus: DataFrame,
    *,
    k: int = 10,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SPHERICAL k-means as DataFrame ops — the IVF index-BUILD step
    (ivf_assign/ivf_search consume its output): cosine assignment +
    per-cell mean + renormalize to unit length each iteration (the
    renormalization is what makes cosine-assignment Lloyd's monotone;
    unnormalized means under dot-product assignment can oscillate).
    Deterministic: init = the k lowest-id vectors; ties break on
    centroid_id.

    Scale shape per iteration: broadcast k centroids → argmax-cosine
    assign (corpus never shuffles) → per-cell elementwise mean via
    posexplode + hash aggregation keyed (cell, pos) — shuffle volume is
    k·dim doubles after map-side partial agg. Only the k centroids ever
    reach the driver (k·dim floats), keeping lineage flat across
    iterations instead of stacking `iters` nested plans."""
    spark = corpus.sparkSession
    init = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>").alias("centroid"))
        .collect()
    )
    cents: dict[int, list[float]] = {
        i: list(r.centroid) for i, r in enumerate(init)
    }

    def cent_df():
        return spark.createDataFrame(
            [(i, v) for i, v in sorted(cents.items())],
            "centroid_id int, centroid array<double>",
        )

    for _ in range(iters):
        assigned = ivf_assign(
            corpus, cent_df(), vec_col=vec_col, id_col=id_col
        )
        means = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("m")))
                    ),
                    lambda s: s["m"],
                ).alias("centroid")
            )
            .collect()
        )
        # empty cells keep their previous centroid; survivors renormalize
        import math

        for r in means:
            v = list(r.centroid)
            n = math.sqrt(sum(x * x for x in v))
            cents[r.centroid_id] = [x / n for x in v] if n > 0 else v
    return cent_df()


def ivf_search(
    assigned_corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    centroid_vec_col: str = "centroid",
    centroid_id_col: str = "centroid_id",
    id_col: str = "vec_id",
    sim_scale: int = 6,
) -> DataFrame:
    """IVF probe: rank centroids per query (rounded cosine, centroid-id
    tie-break), take the `n_probe` nearest, equi-join their cells, exact
    top-k re-rank inside the probed cells only.

    At 100 TB the assigned corpus is stored partitioned by `centroid_id`,
    so the equi-join on the (broadcast) probe list becomes a
    partition-pruned scan of n_probe/√N of the data — the crossJoin here
    touches only the tiny centroid table, never the corpus."""
    q_cent = queries.crossJoin(
        F.broadcast(centroids.select(centroid_id_col, centroid_vec_col))
    ).withColumn(
        "qcsim",
        cosine_rounded(query_vec_col, centroid_vec_col, sim_scale),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.desc("qcsim"), F.asc(centroid_id_col)
    )
    probes = (
        q_cent.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= n_probe)
        .select(query_id_col, query_vec_col, centroid_id_col)
    )
    cand = assigned_corpus.join(F.broadcast(probes), centroid_id_col)
    scored = cand.withColumn(
        "sim", cosine_rounded(vec_col, query_vec_col, sim_scale)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop(query_vec_col)
    )


def ivf_probe_sweep(
    assigned_corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_probes: tuple = (1, 2, 4, 8),
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    centroid_vec_col: str = "centroid",
    centroid_id_col: str = "centroid_id",
    id_col: str = "vec_id",
    sim_scale: int = 6,
) -> DataFrame:
    """The IVF OPERATING CURVE in one pass: for every n_probe in
    `n_probes`, recall@k against brute-force ground truth and the
    average fraction of the corpus actually probed — the two numbers
    that choose a production operating point (recall you need vs rows
    you pay to scan). One row out per n_probe.

    Single-pass shape: the per-query centroid ranking is computed ONCE
    and fanned out over the (tiny, broadcast) sweep values; candidates
    join cells once per (n_probe, query) — the probed subsets only,
    never a per-n_probe corpus rescan. Ground truth runs on the fixed
    query sample (recall estimation never needs the full query load) and
    is shared by all sweep points. Four corpus scans total, independent
    of len(n_probes): candidates, ground truth, and the two cheap
    column-pruned accounting passes (per-cell sizes, total rows) — at
    production scale the assigned corpus is a stored table, making the
    accounting legs metadata-cheap.

    Deterministic: rounded cosine + id tie-breaks everywhere, exact
    integer row accounting, so the whole curve replays in SQL."""
    spark = assigned_corpus.sparkSession
    sweep = spark.createDataFrame(
        [(int(n),) for n in sorted(n_probes)], "n_probe int"
    )
    q_cent = queries.crossJoin(
        F.broadcast(centroids.select(centroid_id_col, centroid_vec_col))
    ).withColumn(
        "qcsim",
        cosine_rounded(query_vec_col, centroid_vec_col, sim_scale),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.desc("qcsim"), F.asc(centroid_id_col)
    )
    ranked_cells = q_cent.withColumn("prk", F.row_number().over(wq)).select(
        query_id_col, query_vec_col, centroid_id_col, "prk"
    )
    probes = ranked_cells.crossJoin(F.broadcast(sweep)).filter(
        F.col("prk") <= F.col("n_probe")
    )

    # approx top-k per (n_probe, query) inside probed cells
    cand = assigned_corpus.join(
        F.broadcast(
            probes.select("n_probe", query_id_col, query_vec_col, centroid_id_col)
        ),
        centroid_id_col,
    )
    wk = Window.partitionBy("n_probe", query_id_col).orderBy(
        F.desc("sim"), F.asc(id_col)
    )
    approx = (
        cand.withColumn(
            "sim", cosine_rounded(vec_col, query_vec_col, sim_scale)
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k)
        .select("n_probe", query_id_col, id_col)
    )

    # shared brute-force ground truth
    scored = assigned_corpus.crossJoin(
        F.broadcast(queries.select(query_id_col, query_vec_col))
    ).withColumn(
        "sim", cosine_rounded(vec_col, query_vec_col, sim_scale)
    )
    wt = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    truth = (
        scored.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col)
    )

    hits = (
        approx.join(truth, [query_id_col, id_col])
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )

    # probed-row accounting: per-cell sizes (√N rows), summed per sweep
    # point over the query sample
    sizes = assigned_corpus.groupBy(centroid_id_col).agg(
        F.count(F.lit(1)).alias("cell_rows")
    )
    probed = (
        probes.join(F.broadcast(sizes), centroid_id_col)
        .groupBy("n_probe")
        .agg(F.sum("cell_rows").cast("bigint").alias("probed_rows"))
    )
    totals = assigned_corpus.agg(
        F.count(F.lit(1)).alias("n_rows")
    ).crossJoin(queries.agg(F.count(F.lit(1)).alias("n_queries")))

    return (
        sweep.join(hits, "n_probe", "left")
        .join(probed, "n_probe", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "n_probe",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / (F.col("n_queries") * F.lit(k)),
                6,
            ).alias("recall"),
            F.coalesce("probed_rows", F.lit(0)).cast("bigint").alias(
                "probed_rows"
            ),
            F.round(
                F.coalesce("probed_rows", F.lit(0))
                / (F.col("n_queries") * F.col("n_rows")),
                6,
            ).alias("probed_frac"),
        )
        .orderBy("n_probe")
    )


def matryoshka_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    prefix_dims: int = 16,
    shortlist: int = 25,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    corpus_space: str | None = None,
    query_space: str | None = None,
    sim_scale: int = 6,
) -> DataFrame:
    """Coarse-to-fine ANN via prefix truncation (the Matryoshka / adaptive
    retrieval pattern; no reference equivalent — the reference is full-dim
    brute force, `rag_search/vector_db.py:684-696`): rank a SHORTLIST per
    query by cosine over the first `prefix_dims` dimensions, then exact
    full-dim re-rank of the shortlist only.

    Scale shape: the coarse pass reads `prefix_dims`/d of the float payload
    per row (with the prefix stored as its own parquet column the scan I/O
    drops by the same factor — column pruning does it for free); the
    full-dim vectors are touched for shortlist·|queries| rows only. Both
    stages rank on ROUNDED cosine with an `id_col` tiebreak, so the
    shortlist — and therefore the final answer — is deterministic and
    engine-portable (the algorithm itself is its oracle).
    """
    _check_spaces(corpus_space, query_space)
    coarse_sim = cosine_rounded(
        F.slice(F.col(vec_col), 1, prefix_dims),
        F.slice(F.col(query_vec_col), 1, prefix_dims),
        sim_scale,
    )
    joined = corpus.crossJoin(
        F.broadcast(queries.select(query_id_col, query_vec_col))
    ).withColumn("coarse_sim", coarse_sim)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("coarse_sim"), F.asc(id_col)
    )
    cands = joined.withColumn("crk", F.row_number().over(w)).filter(
        F.col("crk") <= shortlist
    )
    fine = cands.withColumn(
        "sim", cosine_rounded(vec_col, query_vec_col, sim_scale)
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        fine.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .drop(query_vec_col, "crk")
    )


def _sign_word(vec: Column, offset: int) -> Column:
    """Pack 32 sign bits of `vec[offset..offset+31]` into one BIGINT,
    MSB-first (element offset+1 lands in bit 31), by folding acc*2+bit —
    values stay in [0, 2^32) so no signed-overflow edge exists under ANSI
    mode, and the fold is exact integer arithmetic both engines replay."""
    return F.aggregate(
        F.slice(vec, offset + 1, 32),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2).cast("long")
        + F.when(x > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


def binary_quantize(
    df: DataFrame, vec_col: str = "embedding", dims: int = 64, prefix: str = "bq"
) -> DataFrame:
    """1-bit (sign) quantization: `dims` floats → dims/32 BIGINT words,
    a 32× payload cut (64 floats = 256 B → 16 B). The 100 TB first-pass
    layout: store the words as their own parquet columns and the Hamming
    candidate stage scans ONLY them (column pruning keeps the float
    vectors untouched until re-rank). No reference equivalent — the
    reference is full-float brute force (rag_search/vector_db.py:684-696).
    """
    if dims % 32:
        raise ValueError("dims must be a multiple of 32")
    out = df
    for w in range(dims // 32):
        out = out.withColumn(f"{prefix}{w}", _sign_word(F.col(vec_col), w * 32))
    return out


def binary_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    shortlist: int = 50,
    dims: int = 64,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    corpus_space: str | None = None,
    query_space: str | None = None,
    sim_scale: int = 6,
) -> DataFrame:
    """Binary-quantized ANN: Hamming distance over sign-bit words picks a
    `shortlist` per query, exact full-float cosine re-ranks it — the
    binary-quantization retrieval pattern (sign sketch ≈ SimHash with
    coordinate hyperplanes; Charikar '02 gives the angle bound).

    Scale shape: the candidate stage is bit_count(XOR) over dims/32
    BIGINTs per row — 16 B/vector of I/O and pure codegen integer ops;
    floats are read for shortlist·|queries| rows only. Both stages rank
    with an `id_col` tiebreak (Hamming is already integer-exact; cosine is
    rounded), so the result is deterministic and the SQL oracle replays it
    value-for-value.
    """
    _check_spaces(corpus_space, query_space)
    n_words = dims // 32
    cb = binary_quantize(corpus, vec_col, dims, prefix="_cb")
    qb = binary_quantize(
        queries.select(query_id_col, query_vec_col), query_vec_col, dims, prefix="_qb"
    )
    joined = cb.crossJoin(F.broadcast(qb))
    ham = None
    for w in range(n_words):
        term = F.bit_count(F.col(f"_cb{w}").bitwiseXOR(F.col(f"_qb{w}")))
        ham = term if ham is None else ham + term
    joined = joined.withColumn("hamming", ham.cast("int"))
    w_short = Window.partitionBy(query_id_col).orderBy(
        F.asc("hamming"), F.asc(id_col)
    )
    cands = joined.withColumn("crk", F.row_number().over(w_short)).filter(
        F.col("crk") <= shortlist
    )
    fine = cands.withColumn(
        "sim", cosine_rounded(vec_col, query_vec_col, sim_scale)
    )
    w_k = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    drop = (
        [query_vec_col, "crk"]
        + [f"_cb{w}" for w in range(n_words)]
        + [f"_qb{w}" for w in range(n_words)]
    )
    return (
        fine.withColumn("rk", F.row_number().over(w_k))
        .filter(F.col("rk") <= k)
        .drop(*drop)
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    shortlist: int = 10,
    lam: float = 0.7,
    pen_weight: float = 0.3,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    corpus_space: str | None = None,
    query_space: str | None = None,
    sim_scale: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    1998). The reference returns the raw similarity top-k
    (`rag_search/vector_db.py:684-696`); MMR is the standard RAG-context
    diversification on top of it: pick the best hit, then repeatedly pick
    ``argmax lam·sim(q,d) − pen_weight·max_{s∈picked} sim(d,s)`` over the
    rest of a per-query SHORTLIST.

    Spark shape: the shortlist comes from :func:`knn_batch` (the scale
    path — corpus never shuffles); the shortlist×shortlist pair matrix and
    the ``k`` greedy rounds are relational ops blocked by ``query_id_col``
    on ≤``shortlist`` rows per query, so the re-rank cost is independent
    of corpus size. The rounds are UNROLLED at plan time (k is a small
    constant) — no driver-side action fires.

    Plan-growth control (Catalyst does no sub-DAG CSE): the shortlist,
    pair matrix, and EACH round's pick are persist()ed (lazily —
    construction stays job-free), and every round's remaining/penalty
    frames are rebuilt from cached `short` minus the UNION of cached
    picks rather than chaining off the previous round's frames. The
    naive recursive form re-referenced uncached subtrees combinatorially
    — measured 402 parquet scans / 4 729 plan lines at k=5, and after
    caching only short/pair still 200+ scheduler stages from the
    exponential remaining-chain. The cached-union form is linear in k.
    All persisted frames are ≤ |queries|·shortlist rows — executor-memory
    noise at any corpus size.

    Determinism/oracle-portability: similarities are rounded to
    ``sim_scale`` decimals, and the MMR score itself is computed in EXACT
    DECIMAL arithmetic (6-decimal sims × decimal literals) cast back to
    double — ``round(0.7·qsim, 6)`` would hit a 7th-decimal half-way tie
    on almost every row, where Spark (decimal-string HALF_UP) and other
    engines (binary-value rounding) disagree. ``lam``/``pen_weight`` are
    both explicit literals (never computed as ``1-lam``, a different
    double); every argmax tie-breaks on ``id_col``. The greedy trajectory
    is therefore bit-identical in any engine replaying the same steps.
    """
    _check_spaces(corpus_space, query_space)
    short = knn_batch_twophase(
        corpus,
        queries,
        k=shortlist,
        vec_col=vec_col,
        query_vec_col=query_vec_col,
        query_id_col=query_id_col,
        id_col=id_col,
        sim_scale=sim_scale,
    ).select(
        query_id_col,
        F.col(id_col),
        F.col("sim").alias("qsim"),
        F.col(vec_col),
    ).persist()
    pair = (
        short.select(
            query_id_col,
            F.col(id_col).alias("a_id"),
            F.col(vec_col).alias("a_emb"),
        )
        .join(
            short.select(
                query_id_col,
                F.col(id_col).alias("b_id"),
                F.col(vec_col).alias("b_emb"),
            ),
            on=query_id_col,
        )
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            query_id_col,
            "a_id",
            "b_id",
            cosine_rounded("a_emb", "b_emb", sim_scale).alias("psim"),
        )
        .persist()
    )
    short_cached = short  # the persisted plan (drop() below derives a
    short = short.drop(vec_col)  # new frame; unpersist needs this one)

    dec = f"decimal(18,{sim_scale})"
    lam_lit = F.expr(f"CAST({lam!r} AS DECIMAL(10,6))")
    pen_lit = F.expr(f"CAST({pen_weight!r} AS DECIMAL(10,6))")

    w1 = Window.partitionBy(query_id_col).orderBy(F.desc("qsim"), F.asc(id_col))
    first = (
        short.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            query_id_col,
            id_col,
            "qsim",
            F.lit(1).alias("step"),
            (lam_lit * F.col("qsim").cast(dec)).cast("double").alias("mmr"),
        )
        .persist()
    )
    picks = [first]
    for step in range(2, k + 1):
        sel_all = picks[0]
        for p in picks[1:]:
            sel_all = sel_all.unionByName(p)
        sel_ids = sel_all.select(query_id_col, id_col)
        remaining = short.join(sel_ids, on=[query_id_col, id_col], how="anti")
        pen = (
            pair.join(
                sel_ids.withColumnRenamed(id_col, "b_id"),
                on=[query_id_col, "b_id"],
            )
            .groupBy(query_id_col, "a_id")
            .agg(F.max("psim").alias("pen"))
        )
        scored = remaining.join(
            pen,
            on=(remaining[query_id_col] == pen[query_id_col])
            & (remaining[id_col] == pen["a_id"]),
        ).select(
            remaining[query_id_col],
            remaining[id_col],
            remaining["qsim"],
            (
                lam_lit * remaining["qsim"].cast(dec)
                - pen_lit * pen["pen"].cast(dec)
            )
            .cast("double")
            .alias("mmr"),
        )
        ws = Window.partitionBy(query_id_col).orderBy(F.desc("mmr"), F.asc(id_col))
        pick = (
            scored.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select(query_id_col, id_col, "qsim", F.lit(step).alias("step"), "mmr")
            .persist()
        )
        picks.append(pick)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    # every persisted frame here is ≤ |queries|·shortlist rows, but a
    # long-lived session looping MMR queries still accumulates them —
    # pin release handles onto the result (caching.pin discipline, r9)
    from .. import caching

    return caching.pin(out, short_cached, pair, *picks)


def pca_train(
    corpus: DataFrame,
    *,
    k: int = 4,
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[float]]:
    """REAL MLlib PCA fit on the embedding column — the second genuinely
    trainable in-container model after Word2Vec (no external libraries:
    `pyspark.ml.feature.PCA` runs a distributed covariance/SVD job).
    Returns (components, explained): `components` is k rows of dim
    floats (the principal axes, unit-norm, mutually orthogonal),
    `explained` the k variance-explained ratios in non-increasing order.

    Only k·dim floats reach the driver (the fitted matrix) — same
    contract as `kmeans_train`. Callers persist the pair through
    `plans.artifacts.load_or_build_object` so repeat query constructions
    are zero-job, and project with `pca_project_expr` (pure column
    expressions, no UDF). Dimensionality reduction before ANN is the
    classic recall/cost lever (OPQ/PCA rotation in FAISS pipelines);
    `ann_matryoshka` is the learned-prefix sibling."""
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector

    ds = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "features"
        )
    )
    model = MLPCA(k=k, inputCol="features", outputCol="pca").fit(ds)
    pc = model.pc.toArray()  # dim x k, column j = component j
    comps = [
        [float(pc[i][j]) for i in range(pc.shape[0])] for j in range(k)
    ]
    return comps, [float(x) for x in model.explainedVariance]


def pca_project_expr(vec_col: str, component: list[float]) -> Column:
    """Dot product of the vector column NAMED `vec_col` with one literal
    principal axis — `zip_with` multiply + `aggregate` sum, inside
    codegen, no UDF (the projection at serving time must not cost a
    python boundary).

    Emitted as ONE generated-SQL F.expr: the Column-API form issued one
    py4j call per literal — 64 per axis, ~2k per pca_search build (the
    pq_encode plan-cost lesson, PERF.md r7). repr round-trips doubles
    exactly and the CASTs constant-fold, so values are bit-identical."""
    arr = f"array({', '.join(map(dlit, component))})"
    return F.expr(fold_dot(f"CAST({ident(vec_col)} AS ARRAY<DOUBLE>)", arr))


def pca_search(
    corpus: DataFrame,
    queries: DataFrame,
    components: list[list[float]],
    *,
    k: int = 5,
    shortlist: int = 25,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    sim_scale: int = 6,
) -> DataFrame:
    """Coarse-to-fine ANN through the trained PCA rotation (the
    OPQ/PCA-prefilter pattern of FAISS pipelines; `pca_train` is the
    trainer): rank a SHORTLIST per query by the dot product of the
    k'-dim PCA projections — for L2-normalized corpora that dot equals
    the cosine of the rank-k' reconstructions, the best k'-dim linear
    approximation of true cosine — then exact full-dim re-rank of the
    shortlist only.

    Scale shape: projections are pure column expressions
    (`pca_project_expr`, no Python boundary); with the projection
    materialized as its own parquet column the coarse scan reads
    k'/d of the float payload (column pruning). Full-dim vectors are
    touched for shortlist·|queries| rows only. Both stages rank on
    ROUNDED scores with an `id_col` tiebreak, so the answer is
    deterministic. The sibling of `matryoshka_search` (unlearned
    prefix) and `srp_search` (unlearned rotation, bit-quantized)."""
    # ONE projection array per side via transform over the literal axes
    # (r7, the pq_encode plan-cost lesson): k' separate per-axis columns
    # compiled k' inline aggregates; the lambda-bound loop codegens
    # once. coarse = zip_with+aggregate left fold from 0.0 — the SAME
    # add order as the previous sum() of per-axis products, so scores
    # are bit-identical (pinned oracle re-verified).
    axes_lit = "array(" + ", ".join(
        f"array({', '.join(map(dlit, comp))})" for comp in components
    ) + ")"

    def _proj(col_name: str) -> Column:
        vec = f"CAST({ident(col_name)} AS ARRAY<DOUBLE>)"
        return F.expr(f"transform({axes_lit}, a -> {fold_dot(vec, 'a')})")

    coarse = F.aggregate(
        F.zip_with(F.col("_pc"), F.col("_qc"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    joined = (
        corpus.select("*", _proj(vec_col).alias("_pc"))
        .crossJoin(
            F.broadcast(
                queries.select(
                    query_id_col, query_vec_col,
                    _proj(query_vec_col).alias("_qc"),
                )
            )
        )
        .withColumn("coarse_sim", F.round(coarse, sim_scale))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("coarse_sim"), F.asc(id_col)
    )
    cands = (
        joined.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= shortlist)
        .drop("_pc", "_qc")
    )
    fine = cands.withColumn(
        "sim",
        cosine_rounded(vec_col, query_vec_col, sim_scale),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("sim"), F.asc(id_col)
    )
    return (
        fine.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .drop(query_vec_col, "crk")
    )


def knn_self_join(
    df: DataFrame,
    *,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 8,
    dim: int = 64,
    hamming_probe: int = 1,
    sim_scale: int = 6,
) -> DataFrame:
    """k-NN JOIN: top-k neighbors for EVERY corpus vector — the
    kNN-graph construction primitive (SemDeDup neighborhoods,
    connectivity-based dedup, manifold methods all start here). Not a
    fixed-query search: both sides are the corpus, so the only
    admissible plan is a blocked EQUI-join — each vector probes the
    SRP buckets within `hamming_probe` bit-flips of its own (the
    srp_search ring, query side = corpus), candidates re-rank on exact
    rounded cosine, top-k per source with an id tiebreak.

    Scale shape: index once (`srp_index`), explode the ≤1+n_bits probe
    ring on the source side, shuffle both sides on the bucket key, one
    window partitioned by source id. Candidate volume is Σ_bucket
    |bucket|·|ring-neighbors| — LSH keeps buckets balanced for
    near-uniform corpora; degenerate buckets get the same
    `max_bucket_size`-style cap treatment as the minhash pipeline if a
    skewed corpus needs it. A (src,nbr) pair arises from exactly one
    probe (the neighbor's own bucket), so no candidate dedup pass is
    needed. Never a crossJoin; recall tunes via (n_bits,
    hamming_probe) exactly as in srp_search."""
    from itertools import combinations

    if hamming_probe > 3:
        raise ValueError("hamming_probe cap is 3 (probe-ring blowup)")
    indexed = srp_index(df, vec_col=vec_col, n_bits=n_bits, dim=dim)
    masks = [0] + [
        sum(1 << b for b in combo)
        for r in range(1, hamming_probe + 1)
        for combo in combinations(range(n_bits), r)
    ]
    from ..functions.vector import dot, l2_norm

    # Norms are precomputed per VECTOR (2N sqrt-of-dot), not per
    # candidate pair (2P with P >> N) — the embedding_near_dups lesson;
    # the guarded-division form reproduces cosine_rounded's zero-norm
    # semantics bit-for-bit (same IEEE ops, same order).
    indexed = indexed.withColumn("_norm", l2_norm(F.col(vec_col)))
    src = indexed.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("_src_vec"),
        F.col("_norm").alias("_src_norm"),
        F.explode(
            F.array(
                *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
            )
        ).alias("bucket"),
    )
    nbrs = indexed.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("_nbr_vec"),
        F.col("_norm").alias("_nbr_norm"),
        "bucket",
    )
    denom = F.col("_src_norm") * F.col("_nbr_norm")
    scored = (
        src.join(nbrs, "bucket")
        .filter(F.col("src_id") != F.col("nbr_id"))
        .withColumn(
            "sim",
            F.round(
                F.when(
                    denom > F.lit(0.0),
                    dot("_src_vec", "_nbr_vec") / denom,
                ).otherwise(F.lit(0.0)),
                sim_scale,
            ),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.desc("sim"), F.asc("nbr_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("src_id", "nbr_id", "sim", "rk")
    )


def knn_classify(
    df: DataFrame,
    *,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    **knn_kwargs,
) -> DataFrame:
    """k-NN label propagation over the corpus: build the kNN graph with
    `knn_self_join` (SRP-blocked equi-join, never a crossJoin), majority-
    vote each vector's label from its k neighbors with an ALL-INTEGER
    tie-break (vote count desc, label asc — no float ordering), and
    report the true-vs-predicted confusion matrix plus each cell's
    rounded share of total. The semi-supervised quality-labeling
    primitive: propagate a small audited label set across a 100 TB
    corpus without a model.

    Scale shape: the vote and confusion aggs are keyed hash aggs with
    map-side partials; the label lookup joins on the vector id — an
    sf-scaling frame, so NO broadcast hint (AQE decides); the only
    windows partition by src_id (the knn_self_join top-k) and the 1-row
    prediction total broadcasts as a bounded cross join."""
    nn = knn_self_join(
        df, k=k, vec_col=vec_col, id_col=id_col, **knn_kwargs
    )
    # vote from LABELED neighbors only: the semi-supervised case has
    # unlabeled vectors, and a NULL label would also order differently
    # across engines (Spark ASC puts nulls first, DuckDB last)
    lbl = df.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("nbr_id"),
        F.col(label_col).cast("int").alias("nbr_label"),
    )
    votes = nn.join(lbl, "nbr_id").groupBy("src_id", "nbr_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # r11 optimization: top-1 vote as min-of-struct((-n, label)) hash
    # aggregate instead of a row_number window (the label_propagation
    # restructure — map-side partial agg, same (n DESC, label ASC)
    # pick). Persisting pred for its two consumers was tried and
    # measured SLOWER (they evaluate in parallel and beat a serialized
    # cache fill). Values unchanged (oracle-verified).
    pred = (
        votes.groupBy("src_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("_nn"),
                    F.col("nbr_label").alias("_l"),
                )
            ).alias("_m")
        )
        .select("src_id", F.col("_m._l").alias("pred_label"))
    )
    truth = df.select(
        F.col(id_col).alias("src_id"),
        F.col(label_col).cast("int").alias("true_label"),
    )
    total = pred.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    out = (
        pred.join(truth, "src_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .crossJoin(F.broadcast(total))  # 1-row total: bounded
        .select(
            "true_label",
            "pred_label",
            "n_vecs",
            F.round(
                F.col("n_vecs") / F.col("n_total").cast("double"), 6
            ).alias("share"),
        )
    )
    return out


def nsw_build(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 6,
    dim: int = 64,
    degree: int = 16,
    bridge: int = 8,
    sim_scale: int = 6,
) -> DataFrame:
    """Deterministic navigable-small-world neighbor lists (the graph-ANN
    index family of HNSW/NSW — Malkov & Yashunin 2016; the reference
    has no index at all, brute-force scan at rag_search/vector_db.py:684-
    696, so this is the beyond-reference scale path).

    The graph is PINNED by construction, not by a fitted model object:
    the SRP hyperplanes are plan-time md5 literals (search._srp_bucket)
    and every edge choice is a deterministic (rounded-sim DESC, dst ASC)
    rank, so the exact same adjacency materializes on every run, every
    cluster, and in the DuckDB oracle replay.

    Edges per node: `degree` nearest within the node's own SRP bucket
    (short links — local navigability) UNION `bridge` nearest across the
    Hamming-1 probe ring (long links — cross-bucket reach, the NSW
    small-world ingredient). Both are bucket-keyed equi-joins, never a
    crossJoin: within-bucket cost is sum(bucket_size²) and ring cost is
    n_bits × that, so at 100 TB you raise `n_bits` with log₂(N) to hold
    expected bucket occupancy (and therefore per-node join fan-in)
    constant — |E| stays O(N·(degree+bridge)) and the build is one
    shuffle on bucket id. Every window below is partitioned by src;
    no SinglePartition anywhere.

    If `corpus` already carries a `bucket` column it is used as-is —
    the registry query persists ONE bucketed corpus and shares it
    between build and search, so the (large, codegen-heavy) SRP
    expression compiles and evaluates once instead of once per join
    branch. Likewise a precomputed `_nvec` (unit-normalized vector)
    column is reused: edge scoring is then ONE fold per candidate pair
    (round(dot(â,b̂),6) — value-identical ranking to rounded cosine)
    instead of the three folds cosine needs, because the two norms are
    paid once per NODE on the persisted frame, not once per PAIR
    (measured: the Hamming-ring candidate stage dominated the build at
    3 folds/pair; pair volume is n·(bucket_size)·(1+n_bits)).
    """
    from ..functions.vector import dot_unrolled_sql, l2_normalize

    indexed = (
        corpus
        if "bucket" in corpus.columns
        else corpus.withColumn("bucket", _srp_bucket(vec_col, n_bits, dim))
    )
    if "_nvec" not in indexed.columns:
        indexed = indexed.withColumn("_nvec", l2_normalize(F.col(vec_col)))
    src = indexed.select(
        F.col(id_col).alias("src"),
        F.col("_nvec").alias("_svec"),
        "bucket",
    )
    dst = indexed.select(
        F.col(id_col).alias("dst"),
        F.col("_nvec").alias("_dvec"),
        F.col("bucket").alias("_dbucket"),
    )

    def _top_edges(half: DataFrame, cap: int) -> DataFrame:
        # the dot is symmetric, so `half` holds each unordered pair
        # ONCE; score it once, then mirror the scored triple — half
        # the fold work for the identical edge set. Projecting to
        # (src, dst, esim) before the window keeps the rank shuffle
        # free of the two 64-dim vectors riding along.
        scored = half.select(
            "src",
            "dst",
            F.round(
                F.expr(dot_unrolled_sql("_svec", "_dvec", dim)), sim_scale
            ).alias("esim"),
        )
        both = scored.unionByName(
            scored.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "esim",
            )
        )
        w = Window.partitionBy("src").orderBy(F.desc("esim"), F.asc("dst"))
        return (
            both.withColumn("_erk", F.row_number().over(w))
            .filter(F.col("_erk") <= cap)
            .select("src", "dst")
        )

    within = _top_edges(
        src.join(dst, src.bucket == dst._dbucket).filter(
            F.col("src") < F.col("dst")
        ),
        degree,
    )
    # long links: candidates from the n_bits Hamming-1-adjacent
    # buckets. A ring pair (a,b) arises twice (a probes b's bucket AND
    # b probes a's), so keeping only the lower-bucket side generates
    # each unordered pair exactly once; _top_edges mirrors it back.
    ring_src = src.withColumn(
        "_pbucket",
        F.explode(
            F.array(
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << b))
                    for b in range(n_bits)
                ]
            )
        ),
    )
    ring = _top_edges(
        ring_src.join(
            dst,
            (ring_src._pbucket == dst._dbucket)
            & (ring_src.bucket < dst._dbucket),
        ),
        bridge,
    )
    # UNION (distinct): a ring bucket never equals the own bucket, so
    # overlap is impossible in theory, but distinct keeps the contract
    # explicit and the oracle replay trivially identical
    return within.unionByName(ring).distinct()


def nsw_search(
    corpus: DataFrame,
    edges: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    n_bits: int = 6,
    dim: int = 64,
    entry: int = 16,
    beam: int = 32,
    hops: int = 2,
    entry_probe: int = 2,
    sim_scale: int = 6,
) -> DataFrame:
    """`hops` unrolled greedy-beam-search rounds over the `nsw_build`
    adjacency, exact-cosine re-rank of everything visited, top-k.

    Round 0 seeds the beam with the `entry` best corpus vectors from the
    query's SRP probe ring (bucket + Hamming-≤`entry_probe` — the
    srp_search machinery standing in for HNSW's upper layers); each
    round then expands the current beam through the edge list (one
    equi-join on src), scores the new frontier with exact cosine, and
    keeps the `beam` best of everything visited so far. The visited set
    only ever holds entry + beam·(degree+bridge) rows per query per
    round, so the whole search is broadcast-joins against a tiny query
    side plus query_id-partitioned top-k windows — no SinglePartition,
    no crossJoin, and the corpus is touched only via bucket pruning and
    vec_id equi-joins (at 100 TB: bucket-pruned scan + `hops` edge-list
    lookups instead of the reference's full O(N·d) scan per query,
    rag_search/vector_db.py:684-696).

    Defaults (n_bits=6, degree=16, bridge=8, entry=16, beam=32,
    hops=2, entry_probe=2) were swept against brute-force top-5 on the
    fixture corpora: recall 0.87 at BOTH 500 and 2000 vectors (the
    naive n_bits=6/degree=6/beam=8 start read 0.33; a third hop adds
    nothing at these scales — the sweep is recorded in PERF.md §r11).

    Each round's visited set is persisted (and pinned onto the result
    for caching.release): round h+1 references round h's frame twice
    (beam rank + union), so an unpersisted chain re-evaluates the
    whole upstream 2^hops times (measured: hops=3 unpersisted cost
    3× hops=2 on identical data).
    """
    from itertools import combinations

    q = queries.withColumn(
        "qbucket", _srp_bucket(query_vec_col, n_bits, dim)
    )
    masks = [0] + [
        sum(1 << b for b in combo)
        for r in range(1, entry_probe + 1)
        for combo in combinations(range(n_bits), r)
    ]
    probes = [F.col("qbucket").bitwiseXOR(F.lit(m)) for m in masks]
    qp = q.withColumn("bucket", F.explode(F.array(*probes))).select(
        query_id_col, query_vec_col, "bucket"
    )
    indexed = (
        corpus
        if "bucket" in corpus.columns
        else corpus.withColumn("bucket", _srp_bucket(vec_col, n_bits, dim))
    )
    entry_cand = (
        indexed.join(F.broadcast(qp), "bucket")
        .withColumn(
            "sim",
            cosine_rounded(vec_col, query_vec_col, sim_scale),
        )
        .select(query_id_col, id_col, "sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    frontier = (
        entry_cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= entry)
        .select(query_id_col, id_col, "sim")
    )

    from .. import caching

    qvecs = q.select(query_id_col, query_vec_col)
    corp = corpus.select(id_col, vec_col)
    visited = frontier
    pinned: list[DataFrame] = []
    for _ in range(hops):  # unrolled beam rounds
        hop = (
            visited.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= beam)
            .select(query_id_col, F.col(id_col).alias("src"))
            .join(edges, "src")
            .select(query_id_col, F.col("dst").alias(id_col))
            .distinct()
        )
        hop_scored = (
            hop.join(corp, id_col)
            .join(F.broadcast(qvecs), query_id_col)
            .withColumn(
                "sim",
                cosine_rounded(
                    vec_col, query_vec_col, sim_scale
                ),
            )
            .select(query_id_col, id_col, "sim")
        )
        # ≤ |queries|·(entry + hops·beam·degree) rows — bounded by the
        # search parameters, not the corpus; persisted because the next
        # round reads it twice (beam rank + union)
        visited = visited.unionByName(hop_scored).distinct().persist()
        pinned.append(visited)

    out = (
        visited.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            query_id_col,
            id_col,
            "sim",
            F.col("rk").cast("int").alias("rk"),
        )
    )
    return caching.pin(out, *pinned)


def sq8_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    sim_scale: int = 6,
) -> DataFrame:
    """Scalar-quantized (symmetric int8) ANN: the search path the
    `embed_quantize` audit prices — corpus and queries compress to int8
    codes (functions.vector.int8_scale/int8_quantize, truncation so
    both engines agree), the compressed-domain score is an EXACT
    integer dot of the code arrays (≤ 64·127² — value-oracle-perfect),
    the shortlist ranks on the dequantized estimate scale_c·scale_q·
    int_dot, and the float originals re-rank the survivors with exact
    cosine. At 100 TB the compressed scan reads 4× fewer bytes than the
    float corpus and the re-rank touches only shortlist·q vectors —
    the standard SQ serving layout (e.g. FAISS SQ8).

    Plan shape mirrors knn_batch: corpus ⋈ broadcast(bounded query
    batch), per-query top-k windows — no SinglePartition, queries must
    be broadcast-bounded."""
    from ..functions.vector import int8_quantize, int8_scale

    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        int8_scale(vec_col).alias("_cscale"),
        int8_quantize(vec_col, int8_scale(vec_col)).alias("_ccodes"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        int8_scale(query_vec_col).alias("_qscale"),
        int8_quantize(query_vec_col, int8_scale(query_vec_col)).alias(
            "_qcodes"
        ),
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("_ccodes"), F.col("_qcodes"), lambda a, b: a * b
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("sq8_dot", idot.cast("bigint"))
        .withColumn(
            "approx_dot",
            F.round(
                F.col("_cscale")
                * F.col("_qscale")
                * F.col("sq8_dot").cast("double"),
                sim_scale,
            ),
        )
        .filter(F.col("approx_dot").isNotNull())
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("approx_dot"), F.asc(id_col)
    )
    short = scored.withColumn("_crk", F.row_number().over(w)).filter(
        F.col("_crk") <= shortlist
    )
    rescored = short.withColumn(
        "sim", cosine_rounded(vec_col, query_vec_col, sim_scale)
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("sim"), F.asc(id_col)
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select(
            query_id_col,
            id_col,
            "sq8_dot",
            "approx_dot",
            "sim",
            F.col("rk").cast("int").alias("rk"),
        )
    )


def kcenter_select(
    corpus: DataFrame,
    *,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sim_scale: int = 6,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 2-approximation;
    Sener & Savarese 2018 as the data-selection use) — pick `k` maximally
    spread vectors: seed with the lowest-id vector, then `k`-1 unrolled
    rounds each promote the point FARTHEST from every chosen center
    (max-min squared L2, tie → lowest id). Output: one row per center
    (sel_ix, vec_id, radius = its max-min distance² at selection — the
    2-approx covering-radius certificate) plus n_assigned (corpus points
    whose nearest center it is; ties → lowest sel_ix).

    Cross-engine determinism: dist² is round(dot(x,x) − 2·dot(x,c) +
    dot(c,c), 6) — three sequential-fold dots combined in fixed order,
    the same parity class every cosine oracle stands on; every argmax/
    argmin is (rounded value, id) ranked. Plan shape: the chosen-center
    frames are 1-row (TakeOrderedAndProject) and broadcast; the running
    min-distance frame updates by a broadcast crossJoin per round
    (bounded: 1-row side), so per-round cost is one corpus scan — at
    100 TB that is k scans total, never a pairwise matrix. Each round's
    frame is persisted (lazy) and pinned: round r+1 reads round r twice
    (top-1 + update)."""
    centers = kcenter_select_centers(
        corpus, k=k, vec_col=vec_col, id_col=id_col, sim_scale=sim_scale
    )
    return kcenter_assign(
        corpus, centers, vec_col=vec_col, id_col=id_col, sim_scale=sim_scale
    )


def _kcenter_d2(a, b, sim_scale: int = 6):
    from ..functions.vector import dot

    return F.round(
        dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b), sim_scale
    )


def kcenter_select_centers(
    corpus: DataFrame,
    *,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sim_scale: int = 6,
) -> DataFrame:
    """The k sequential greedy max-min scans (TRAINING pass — the
    registry query runs this under the load_or_train artifact
    lifecycle). Returns (sel_ix, vec_id, radius, _cvec)."""
    from .. import caching

    def d2(a, b):
        return _kcenter_d2(a, b, sim_scale)

    seed = corpus.select(id_col, vec_col).orderBy(id_col).limit(1)
    centers = seed.select(
        F.lit(1).cast("int").alias("sel_ix"),
        F.col(id_col),
        F.col(vec_col).alias("_cvec"),
        F.lit(0.0).alias("radius"),
    )
    md = corpus.select(id_col, vec_col).crossJoin(
        F.broadcast(seed.select(F.col(vec_col).alias("_c")))  # 1 row
    ).select(
        id_col, vec_col, d2(F.col(vec_col), F.col("_c")).alias("_dist")
    )
    pinned = []
    for r in range(2, k + 1):
        md = md.persist()
        pinned.append(md)
        nxt = md.orderBy(F.desc("_dist"), F.asc(id_col)).limit(1)
        centers = centers.unionByName(
            nxt.select(
                F.lit(r).cast("int").alias("sel_ix"),
                F.col(id_col),
                F.col(vec_col).alias("_cvec"),
                F.col("_dist").alias("radius"),
            )
        )
        md = md.crossJoin(
            F.broadcast(nxt.select(F.col(vec_col).alias("_c")))  # 1 row
        ).select(
            id_col,
            vec_col,
            F.least(
                F.col("_dist"), d2(F.col(vec_col), F.col("_c"))
            ).alias("_dist"),
        )
    return caching.pin(centers, *pinned)


def kcenter_assign(
    corpus: DataFrame,
    centers: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sim_scale: int = 6,
) -> DataFrame:
    """Serving side: nearest-center assignment counts joined onto the
    selected centers — one corpus scan against the broadcast k-row
    center table."""

    def d2(a, b):
        return _kcenter_d2(a, b, sim_scale)

    # assignment: nearest center per point (dist², then sel_ix);
    # project the broadcast side so the corpus id column stays unique
    scored = corpus.select(id_col, vec_col).crossJoin(
        F.broadcast(centers.select("sel_ix", "_cvec"))  # k rows: bounded
    ).select(
        F.col(id_col),
        "sel_ix",
        d2(F.col(vec_col), F.col("_cvec")).alias("_d"),
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("_d"), F.asc("sel_ix"))
    counts = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .groupBy("sel_ix")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_assigned"))
    )
    return centers.join(counts, "sel_ix", "left").select(
        "sel_ix",
        id_col,
        "radius",
        F.coalesce("n_assigned", F.lit(0).cast("bigint")).alias(
            "n_assigned"
        ),
    )


def retrieval_metrics(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    label_col: str = "label",
    sim_scale: int = 6,
) -> DataFrame:
    """Ranking-quality evaluation (recall@k, MRR@k, nDCG@k) of the
    exact-cosine top-k against label-match relevance — the evaluation
    harness a vector engine needs to grade its own ANN variants (the
    reference has no evaluation at all). Relevance: corpus items with
    the query's label, query itself excluded.

    Cross-engine determinism: the 1/log2(i+1) discount gains and their
    ideal prefix sums are PYTHON-COMPUTED double literals baked into
    both plans (k of them), so nDCG never depends on engine libm log2;
    recall and MRR divisions are single IEEE ops on identical inputs.
    Plan shape: one knn_batch (corpus ⋈ broadcast bounded queries) +
    one label-count broadcast join + per-query hash aggs."""
    gains = [1.0 / __import__("math").log2(i + 1) for i in range(1, k + 1)]
    ideal = []
    acc = 0.0
    for g in gains:
        acc += g
        ideal.append(acc)

    qlab = queries.join(
        corpus.select(
            F.col(id_col).alias(query_id_col),
            F.col(label_col).alias("_qlabel"),
        ),
        query_id_col,
    )
    top = knn_batch(
        corpus.select(id_col, vec_col, label_col),
        F.broadcast(qlab.select(query_id_col, query_vec_col)),
        k=k + 1,
        vec_col=vec_col,
        query_vec_col=query_vec_col,
        query_id_col=query_id_col,
        id_col=id_col,
        sim_scale=sim_scale,
    ).filter(F.col(id_col) != F.col(query_id_col))
    # re-rank after self-removal so rank i is the i-th OTHER item
    w = Window.partitionBy(query_id_col).orderBy("rk")
    top = top.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= k
    )
    hits = top.join(
        F.broadcast(qlab.select(query_id_col, "_qlabel")), query_id_col
    ).withColumn("_hit", (F.col(label_col) == F.col("_qlabel")).cast("int"))
    gain_expr = F.when(F.lit(False), F.lit(0.0))
    for i, g in enumerate(gains, start=1):
        gain_expr = gain_expr.when(F.col("_r") == i, F.lit(g))
    per_q = hits.groupBy(query_id_col).agg(
        F.sum("_hit").cast("bigint").alias("_nhits"),
        F.round(F.sum(F.col("_hit") * gain_expr), sim_scale).alias("_dcg"),
        F.min(F.when(F.col("_hit") == 1, F.col("_r"))).alias("_first"),
    )
    nrel = (
        corpus.select(F.col(label_col).alias("_qlabel"), F.col(id_col))
        .join(
            F.broadcast(
                qlab.select(
                    query_id_col,
                    "_qlabel",
                    F.col(query_id_col).alias("_qid"),
                )
            ),
            "_qlabel",
        )
        .filter(F.col(id_col) != F.col("_qid"))
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rel"))
    )
    ideal_expr = F.when(F.lit(False), F.lit(0.0))
    for i, c in enumerate(ideal, start=1):
        ideal_expr = ideal_expr.when(
            F.least(F.col("n_rel"), F.lit(k)) == i, F.lit(c)
        )
    return (
        per_q.join(nrel, query_id_col, "left")
        .select(
            query_id_col,
            F.coalesce("n_rel", F.lit(0).cast("bigint")).alias("n_rel"),
            F.col("_nhits").alias("n_hits"),
            F.round(
                F.when(
                    F.coalesce("n_rel", F.lit(0)) > 0,
                    F.col("_nhits") / F.col("n_rel").cast("double"),
                ).otherwise(F.lit(0.0)),
                sim_scale,
            ).alias("recall_at_k"),
            F.round(
                F.when(
                    F.col("_first").isNotNull(),
                    F.lit(1.0) / F.col("_first").cast("double"),
                ).otherwise(F.lit(0.0)),
                sim_scale,
            ).alias("mrr_at_k"),
            F.round(
                F.when(
                    F.coalesce("n_rel", F.lit(0)) > 0,
                    F.col("_dcg") / ideal_expr,
                ).otherwise(F.lit(0.0)),
                sim_scale,
            ).alias("ndcg_at_k"),
        )
    )
