"""RAG tail: metadata prefilter, result fusion, context assembly, source
list, deterministic summary stand-in.

Reference lifecycle (`run_search`, `rag_search/vector_db.py:615-671`):
filter (P1 `get_search_range` :673-682) → brute-force top-k (V1 :684-696) →
concat text+image hits (V6 :666,733) → LLM summary (R2 :668) → source list
(R3 :903-916).

The LLM call itself is a pluggable batch-inference UDF out of the
correctness path; the deterministic stand-in is `concat_ws` over the
retrieved texts in similarity order — an aggregate over retrieved rows, the
same dataflow shape as the real summarizer (`collect + prompt-build + one
call per query`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.embed import (
    CLIP_STUB_SPACE,
    clip_stub_image_embed,
    clip_stub_query_text,
    clip_stub_text_embed,
    embed_query_text,
    embedding_space_tag,
)
from ..functions.vector import cosine_rounded
from .search import knn_batch_twophase as knn_batch


def search_range_filter(
    df: DataFrame, search_location: str | None, path_col: str = "doc_name"
) -> DataFrame:
    """Reference `get_search_range` (`rag_search/vector_db.py:673-682`):
    None → whole table; directory → case-insensitive *literal* substring
    match (the reference regex-escapes, `:677`); exact file → equality.
    On storage partitioned by doc prefix the equality branch becomes
    partition pruning."""
    if search_location is None:
        return df
    c = F.col(path_col)
    if search_location.endswith("/"):
        return df.filter(F.lower(c).contains(search_location.lower()))
    return df.filter(c == F.lit(search_location))


# ---------------------------------------------------------------------------
# Full run_search composition (reference §3.1 lifecycle,
# rag_search/vector_db.py:615-671)
# ---------------------------------------------------------------------------


def _chunk_uid() -> F.Column:
    """Deterministic per-chunk tie-break key (content_id alone is only
    unique within a document)."""
    return F.concat_ws("#", "doc_name", "content_id")


def _one_row_query(chunks: DataFrame, embed_expr, space: str) -> DataFrame:
    spark = chunks.sparkSession
    return spark.range(1).select(
        F.lit(space).alias("query_space"), embed_expr.alias("query_embedding")
    )


def text_search(
    chunks: DataFrame,
    query_text: str,
    *,
    top_n: int = 5,
    search_location: str | None = None,
    text_dim: int = 64,
    text_backend=None,
) -> DataFrame:
    """Reference `run_text_search` (vector_db.py:698-713): embed the query
    text, P1-filter, exact top-k over TEXT rows (content_type != 'image',
    the reference's P2 split). Space safety: only rows tagged with the text
    space are scanned — the filter composes with partition pruning when the
    store is partitioned by content/modality.

    `text_backend` (a `functions.backends.TextEmbedBackend`) swaps BOTH
    the query embedder and the space filter, so a store ingested with a
    real model (Word2Vec/BGE/OpenAI) is searched in ITS space — the
    default stays the deterministic hash embedder."""
    if text_backend is not None:
        space = text_backend.space
        query_embed = text_backend(F.lit(query_text))
    else:
        space = embedding_space_tag(text_dim)
        query_embed = embed_query_text(query_text, text_dim)
    corpus = (
        search_range_filter(chunks, search_location)
        .filter(F.col("content_type") != "image")
        .filter(F.col("embedding_space") == space)
        .withColumn("chunk_uid", _chunk_uid())
    )
    q = _one_row_query(chunks, query_embed, space)
    return knn_batch(
        corpus,
        q.select(F.lit(0).alias("query_id"), "query_embedding"),
        k=top_n,
        vec_col="embedding",
        id_col="chunk_uid",
        corpus_space=space,
        query_space=space,
    )


def cross_modal_search(
    chunks: DataFrame,
    query_text: str,
    *,
    top_n: int = 5,
    search_location: str | None = None,
) -> DataFrame:
    """Reference V3 (vector_db.py:716-730): the query text goes through the
    CLIP TEXT tower and is compared against IMAGE rows — both sides live in
    the clipstub space, so the space check passes; comparing the hash-64
    text query against image vectors raises EmbeddingSpaceMismatch
    instead of silently returning garbage (SURVEY §7.3)."""
    corpus = (
        search_range_filter(chunks, search_location)
        .filter(F.col("content_type") == "image")
        .filter(F.col("embedding_space") == CLIP_STUB_SPACE)
        .withColumn("chunk_uid", _chunk_uid())
    )
    q = _one_row_query(chunks, clip_stub_query_text(query_text), CLIP_STUB_SPACE)
    return knn_batch(
        corpus,
        q.select(F.lit(0).alias("query_id"), "query_embedding"),
        k=top_n,
        vec_col="embedding",
        id_col="chunk_uid",
        corpus_space=CLIP_STUB_SPACE,
        query_space=CLIP_STUB_SPACE,
    )


def image_search(
    chunks: DataFrame,
    query_images: DataFrame,
    *,
    top_n: int = 5,
    search_location: str | None = None,
    payload_col: str = "payload",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Reference `run_image_search` (vector_db.py:738-759): one top-k per
    query image, all images in ONE batched plan (the reference loops and
    concats per image — here the batch rides a single broadcast join)."""
    corpus = (
        search_range_filter(chunks, search_location)
        .filter(F.col("content_type") == "image")
        .filter(F.col("embedding_space") == CLIP_STUB_SPACE)
        .withColumn("chunk_uid", _chunk_uid())
    )
    q = query_images.select(
        F.col(query_id_col).alias("query_id"),
        clip_stub_image_embed(F.col(payload_col)).alias("query_embedding"),
    )
    return knn_batch(
        corpus,
        q,
        k=top_n,
        vec_col="embedding",
        id_col="chunk_uid",
        corpus_space=CLIP_STUB_SPACE,
        query_space=CLIP_STUB_SPACE,
    )


def image_text_search(
    chunks: DataFrame,
    query_images: DataFrame,
    *,
    top_n: int = 5,
    search_location: str | None = None,
    payload_col: str = "payload",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Reference V5 — image-vs-text search, the reference's own declared
    TODO (`rag_search/vector_db.py:757`). Retrieval runs entirely in the
    clipstub space through the PAIRED towers: the query image through the
    image tower, the corpus text chunks through the text tower (CLIP
    image→text retrieval works exactly because the towers share a space).

    The STORED text embeddings live in the hash-64 space and are NOT
    comparable — knn_batch's EmbeddingSpaceMismatch guard refuses the dot
    product (tested) — so the text side is re-embedded into the clipstub
    space inside the plan. A production store materializes this second
    per-space embedding column at write time instead of per query."""
    corpus = (
        search_range_filter(chunks, search_location)
        .filter(F.col("content_type") != "image")
        .filter(F.col("embedding_space") == embedding_space_tag())
        .withColumn("chunk_uid", _chunk_uid())
        .withColumn("embedding", clip_stub_text_embed(F.col("content_raw")))
        .withColumn("embedding_space", F.lit(CLIP_STUB_SPACE))
    )
    q = query_images.select(
        F.col(query_id_col).alias("query_id"),
        clip_stub_image_embed(F.col(payload_col)).alias("query_embedding"),
    )
    return knn_batch(
        corpus,
        q,
        k=top_n,
        vec_col="embedding",
        id_col="chunk_uid",
        corpus_space=CLIP_STUB_SPACE,
        query_space=CLIP_STUB_SPACE,
    )


def run_search(
    chunks: DataFrame,
    *,
    query_text: str | None = None,
    query_images: DataFrame | None = None,
    top_n: int = 5,
    search_location: str | None = None,
    text_backend=None,
) -> DataFrame:
    """The flagship lifecycle (reference `run_search`, vector_db.py:615-671):
    mode dispatch → text search → cross-modal search → image search →
    fusion → search_reference stamp (P5). Returns the fused hit rows;
    `summarize_hits` / `source_list` consume them downstream.

    Quirks normalized (SURVEY §2.9): no silent empty-result on error, the
    P3 projection is real, and image-vs-text search (reference V5 TODO)
    falls out of the same space machinery for free.

    query_id namespace: the text query (and its cross-modal branch — one
    logical query, like the reference's single run_search response) owns
    the RESERVED id -1; `query_images` ids must be >= 0 so an image query
    can never collide with the text query in downstream per-query
    grouping (assemble_prompts). Each row also carries `search_mode` ∈
    {text, cross_modal, image}."""
    if query_text is None and query_images is None:
        raise ValueError("run_search needs query_text and/or query_images")
    TEXT_QUERY_ID = -1
    parts: list[DataFrame] = []
    if query_text is not None:
        t = (
            text_search(
                chunks,
                query_text,
                top_n=top_n,
                search_location=search_location,
                text_backend=text_backend,
            )
            .withColumn("query_id", F.lit(TEXT_QUERY_ID))
            .withColumn("search_reference", F.lit(query_text))
            .withColumn("search_mode", F.lit("text"))
        )
        x = (
            cross_modal_search(
                chunks, query_text, top_n=top_n, search_location=search_location
            )
            .withColumn("query_id", F.lit(TEXT_QUERY_ID))
            .withColumn("search_reference", F.lit(query_text))
            .withColumn("search_mode", F.lit("cross_modal"))
        )
        parts += [t, x]
    if query_images is not None:
        # in-plan guard, not a driver-side count(): a pre-flight
        # `filter(...).limit(1).count()` would fire a synchronous scan of
        # the query frame before every search; raise_error evaluates with
        # the rest of the plan and fails the task on the first bad row
        query_images = query_images.withColumn(
            "query_id",
            F.when(
                F.col("query_id") < 0,
                F.raise_error(
                    F.lit(
                        "query_images query_id must be >= 0 (negative ids "
                        "are reserved for the text query)"
                    )
                ).cast(query_images.schema["query_id"].dataType.simpleString()),
            ).otherwise(F.col("query_id")),
        )
        parts.append(
            image_search(
                chunks, query_images, top_n=top_n, search_location=search_location
            )
            .withColumn("search_reference", F.lit("image-query"))
            .withColumn("search_mode", F.lit("image"))
        )
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.unionByName(p, allowMissingColumns=True)
    return fused


def assemble_prompts(
    hits: DataFrame,
    *,
    query_id_col: str = "query_id",
    query_text_col: str = "search_reference",
) -> DataFrame:
    """R1 context assembly (reference `generate_gpt_response`,
    vector_db.py:838-901): per query, collect retrieved rows into one
    multimodal message — text rows as plain context lines, image rows as
    base64 data-URLs — ordered by similarity then uid (deterministic).
    Output: (query_id, prompt) — one row per query, ready for batched LLM
    inference."""
    part = F.when(
        F.col("content_type") == "image",
        F.concat(
            F.lit("data:image/png;base64,"), F.base64(F.col("content_bytes"))
        ),
    ).otherwise(F.col("content_raw"))
    keyed = hits.select(
        F.col(query_id_col),
        F.col(query_text_col).alias("qtext"),
        F.struct(
            (-F.col("sim")).alias("neg_sim"),
            F.col("chunk_uid").alias("uid"),
            part.alias("part"),
        ).alias("kv"),
    )
    return keyed.groupBy(query_id_col).agg(
        F.concat(
            F.lit("Answer using the context below.\nQuery: "),
            F.first("qtext"),
            F.lit("\nContext:\n"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("kv")), lambda s: s["part"]),
                "\n",
            ),
        ).alias("prompt")
    )


def answer_prompts(prompts: DataFrame, backend: str = "stub") -> DataFrame:
    """R2 batched LLM inference slot (reference GPT-4o / local Mistral,
    vector_db.py:768-901): ONE Arrow-batched mapInPandas stage over
    assembled prompts, with the generation function selected from
    functions.llm_backends ('stub' | 'openai-gpt-4o' | 'local-mistral-3').
    Every backend shares this plan and the (query_id, response) schema;
    only 'stub' (deterministic first-100-token summary, cap mirroring the
    reference's max_new_tokens=100 at :830) is on the correctness path."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.llm_backends import resolve_gen_backend

    generate = resolve_gen_backend(backend)
    schema = T.StructType(
        [
            T.StructField("query_id", T.IntegerType()),
            T.StructField("response", T.StringType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            out = {
                "query_id": pdf["query_id"],
                "response": generate(list(pdf["prompt"])),
            }
            yield pd.DataFrame(out)

    return prompts.mapInPandas(run, schema)


def hybrid_search(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    *,
    query_vec_id: int = 0,
    k: int = 10,
    w_lex: float = 0.5,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid sparse+dense retrieval: BM25 over `query_terms` fused with
    cosine against the `query_vec_id` embedding by per-modality MIN-MAX
    normalization (the standard convex-combination hybrid; `rrf_fusion`
    is the rank-based alternative). No reference equivalent — the
    reference is dense-only (rag_search/vector_db.py:684-696).

    Determinism: both legs produce engine-identical doubles (BM25 via
    exact-decimal partial sums, cosine via `cosine_rounded`), min/max are
    selections not accumulations, and the normalized/fused values are
    rounded before ranking with an `id_col` tiebreak — so the whole
    trajectory replays in SQL.

    Scale shape: each leg is its own shortlist-producing pipeline (BM25:
    term-pruned explode + hash agg; dense: broadcast query, one corpus
    scan); the fusion is a full outer join of two score frames far
    smaller than the corpus, and the min-max stats are a broadcast
    single-row aggregate. Final ranking is TakeOrderedAndProject."""
    from . import textops  # noqa: PLC0415

    lex = textops.bm25_rank(
        docs, query_terms, top_k=None, text_col=text_col, id_col=id_col
    ).select(id_col, "bm25")
    qv = emb.filter(F.col(vec_id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qe")
    )
    dense = emb.crossJoin(F.broadcast(qv)).select(
        F.col(vec_id_col).alias(id_col),
        cosine_rounded(vec_col, "_qe", 6).alias("cos_sim"),
    )
    joined = (
        dense.join(lex, id_col, "full")
        .select(
            id_col,
            F.coalesce(F.col("bm25"), F.lit(0.0)).alias("bm25"),
            F.coalesce(F.col("cos_sim"), F.lit(0.0)).alias("cos_sim"),
        )
    )
    stats = joined.agg(
        F.min("bm25").alias("_mnb"),
        F.max("bm25").alias("_mxb"),
        F.min("cos_sim").alias("_mnc"),
        F.max("cos_sim").alias("_mxc"),
    )

    def _norm(col: str, mn: str, mx: str) -> Column:
        # rounded to 6 dp then cast to DECIMAL so the convex combination
        # below is EXACT: w*nb + (1-w)*nc of two 6-dp values has 7+ decimal
        # digits and lands precisely on round-half boundaries — in binary
        # doubles the engines disagree on the flip (observed at sf0.01:
        # 0.7200665 → 0.720066 vs 0.720067); decimal half-up is identical
        # on Spark and DuckDB.
        return (
            F.when(
                F.col(mx) > F.col(mn),
                F.round((F.col(col) - F.col(mn)) / (F.col(mx) - F.col(mn)), 6),
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
        )

    from decimal import Decimal  # noqa: PLC0415

    w_dec = Decimal(str(w_lex)).quantize(Decimal("0.000001"))
    fused = joined.crossJoin(F.broadcast(stats)).select(
        id_col,
        "bm25",
        "cos_sim",
        F.round(
            F.lit(w_dec) * _norm("bm25", "_mnb", "_mxb")
            + F.lit(Decimal(1) - w_dec) * _norm("cos_sim", "_mnc", "_mxc"),
            6,
        )
        .cast("double")
        .alias("fused"),
    )
    return (
        fused.orderBy(F.desc("fused"), F.asc(id_col))
        .limit(k)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("fused"), F.asc(id_col))
            ),
        )
    )


def cross_encoder_rerank(
    hits: DataFrame,
    *,
    k: int = 5,
    backend: str = "deterministic",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-encoder re-ranking slot for the RAG tail (no reference
    equivalent — the reference ranks by bi-encoder cosine only,
    rag_search/vector_db.py:684-696): score each (query, candidate) PAIR
    with a joint model and keep the top-k per query. This is the standard
    second-stage ranker a production RAG adds after retrieval; candidates
    must already be blocked (a retriever shortlist), never the full
    corpus — the pair scorer is the expensive stage.

    `backend='deterministic'` scores via md5(query ␟ text) hexdigest in an
    Arrow-batched mapInPandas stage: the REAL plan shape (pair batches →
    Python worker → scored batches), with a score DuckDB replays
    byte-for-byte (`md5(q || chr(31) || t)`) — so even the UDF stage is
    value-level oracle-checked. Ranking is ascending-lexicographic on the
    hex score with an `id_col` tiebreak (total order, no float risk).
    `backend='model'` is the real cross-encoder slot (load once per
    executor, score batches) and raises until a model is plugged in.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    if backend == "model":
        raise NotImplementedError(
            "plug a real cross-encoder here: load the model once per "
            "executor (module-level cache), score pdf[[query_text, text]] "
            "batches, emit the same (..., ce_score) schema"
        )
    if backend != "deterministic":
        raise ValueError(f"unknown cross-encoder backend {backend!r}")

    in_fields = [
        f for f in hits.schema.fields
        if f.name in (query_id_col, query_text_col, id_col, text_col)
    ]
    schema = T.StructType(
        [*in_fields, T.StructField("ce_score", T.StringType())]
    )
    cols = [f.name for f in in_fields]

    def run(batches):
        import hashlib  # noqa: PLC0415

        for pdf in batches:
            out = pdf[cols].copy()
            out["ce_score"] = [
                hashlib.md5(f"{q}\x1f{t}".encode()).hexdigest()
                for q, t in zip(pdf[query_text_col], pdf[text_col])
            ]
            yield out

    scored = hits.select(*cols).mapInPandas(run, schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.asc("ce_score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "ce_score", "rk")
    )


def rrf_fusion(
    hits_a: DataFrame,
    hits_b: DataFrame,
    *,
    id_col: str = "doc_id",
    sim_col: str = "sim",
    k: int = 60,
    scale: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion — the principled replacement for the
    reference's plain concat (V6, vector_db.py:666): rrf = Σ 1/(k + rank)
    over both lists. Rank-based, so scores from incomparable embedding
    spaces fuse meaningfully. The window is global but runs over top-k hit
    lists (k rows), never over a corpus."""
    from pyspark.sql import Window

    def ranked(df, tag):
        w = Window.orderBy(F.desc(sim_col), F.asc(id_col))
        return df.select(
            F.col(id_col), F.row_number().over(w).alias("rnk"), F.lit(tag).alias("src")
        )

    both = ranked(hits_a, "a").unionByName(ranked(hits_b, "b"))
    return (
        both.groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.lit(k) + F.col("rnk"))), scale
            ).alias("rrf"),
            F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        )
    )


def source_list(hits: DataFrame) -> DataFrame:
    """Reference `generate_source_list` (`rag_search/vector_db.py:903-916`):
    project the 5 metadata columns; doc_name already a string here."""
    return hits.select("doc_name", "page_num", "content_type", "content_id", "content_raw")


def summarize_hits(
    hits: DataFrame,
    *,
    query_id_col: str = "query_id",
    text_col: str = "text",
    sim_col: str = "sim",
    id_col: str = "doc_id",
    sep: str = " | ",
) -> DataFrame:
    """Deterministic summary: texts joined in (sim DESC, id ASC) order.

    collect_list is order-nondeterministic across partitions, so ordering is
    imposed AFTER collection: sort_array over (neg-sim, id, text) structs,
    then project the text — reproducible on any partitioning/cluster size.
    A real LLM summarizer swaps the array_join for a batch-inference pandas
    UDF over the same collected array (reference R2, vector_db.py:838-901).
    """
    keyed = hits.select(
        F.col(query_id_col),
        F.struct(
            (-F.col(sim_col)).alias("neg_sim"),
            F.col(id_col).alias("id"),
            F.col(text_col).alias("text"),
        ).alias("kv"),
    )
    return keyed.groupBy(query_id_col).agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list("kv")), lambda s: s["text"]), sep
        ).alias("summary"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
