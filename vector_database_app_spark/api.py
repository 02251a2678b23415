"""Drop-in user facade: the reference's `VectorDatabase` class surface
(`rag_search/vector_db.py:27-671` — constructor, `vectorize_file`,
`vectorize_folder`, `run_search`) re-expressed over the Spark engine, so a
user of the reference can run their existing notebook script
(`Execute Vector_DB - Local.ipynb` cells 2-8: initialize → vectorize a
folder → scoped text searches → text+image search) against this repo
unchanged in shape.

Differences by design (SURVEY §1.4 / §2.9 normalizations):

- State is a PARQUET chunk store under ``save_dir`` (one unified table with
  a ``content_type`` discriminator), not two pickles. The opened store
  frame is kept until the store's ``_SUCCESS`` marker changes (every
  committed append rewrites it), so back-to-back searches skip the file
  listing and schema inference. Each search is a lazy plan that runs
  once: `run_search` persists the fused hits, builds the summary and the
  source list from them, and releases them before it returns the (tiny)
  response dict.
- Per-file failures quarantine into rows with ``content_type='error'``
  instead of being printed and swallowed (quirk §2.9.6).
- Ingest is idempotent by file hash (anti-join against the store BEFORE the
  embed stage — same probe-then-embed ordering as the reference's
  `file_already_processed`, vector_db.py:431-434).
- Model slots: the deterministic hash/clipstub embedders and the stub
  generator are the defaults (the correctness path); the reference's model
  names route to the same backend registry the engine uses everywhere
  (`functions.backends`, `functions.llm_backends`).

`run_search` returns the reference's exact response shape:
``{"response": str, "sources": [ {doc_name, page_num, content_type,
content_id, content_raw}, ... ]}`` (vector_db.py:671, :903-916).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.llm_backends import GEN_BACKENDS
from .operators import rag
from .sources import ingest

#: reference model names (vector_db.py:40-57 whitelists) accepted by the
#: facade, routed to this engine's backend slots. 'local-hash-64' and
#: 'stub' are the deterministic defaults with no external dependency.
TEXT_EMBED_MODELS = {
    "local-hash-64": None,  # deterministic default (embed_chunks)
    "openai-text-embedding-3-small": "openai-text-embedding-3-small",
    "local-bge-base": "local-bge-base",
    # the one REAL trainable model that runs end-to-end in-container:
    # MLlib Word2Vec, fit on the FIRST ingested batch and frozen (word
    # vectors persist under save_dir — a re-opened store embeds queries
    # in the same space without retraining)
    "local-word2vec": "local-word2vec",
}


class VectorDatabase:
    """Spark-backed mirror of the reference's single engine class."""

    def __init__(
        self,
        spark: SparkSession,
        save_dir: str,
        *,
        text_embedding_model: str = "local-hash-64",
        response_model: str = "stub",
        dim: int = 64,
    ) -> None:
        if text_embedding_model not in TEXT_EMBED_MODELS:
            raise ValueError(
                f"unknown text embedding model {text_embedding_model!r}; "
                f"known: {sorted(TEXT_EMBED_MODELS)}"
            )
        if response_model not in GEN_BACKENDS:
            raise ValueError(
                f"unknown response model {response_model!r}; "
                f"known: {sorted(GEN_BACKENDS)}"
            )
        self.spark = spark
        self.save_dir = save_dir
        self.store_path = os.path.join(save_dir, "chunks")
        self.text_embedding_model = text_embedding_model
        self.response_model = response_model
        self.dim = dim
        #: persisted Word2Vec model file (only for 'local-word2vec'):
        #: vocab × dim word vectors, written once on first ingest
        self.w2v_path = os.path.join(save_dir, "w2v_vectors.json")
        os.makedirs(save_dir, exist_ok=True)

    # -- embedding-model routing ------------------------------------------

    def _w2v_loaded_backend(self):
        """The frozen Word2Vec backend for this store, built at most once
        per model-file version: re-broadcasting the vocabulary on every
        search would leak one Spark broadcast per query (advisor r3
        finding), so the constructed backend is memoized keyed on the
        model file's (size, mtime_ns). Also validates the STORED model's
        dimension against this facade's `dim` — a silent mismatch would
        tag queries with the wrong space and return empty results."""
        from .functions import backends as B

        st = os.stat(self.w2v_path)
        key = (st.st_size, st.st_mtime_ns)
        cached = getattr(self, "_w2v_cache", None)
        if cached and cached[0] == key:
            return cached[1]
        vecs = B.load_word2vec_vectors(self.w2v_path)
        model_dim = len(next(iter(vecs.values()))) if vecs else self.dim
        if model_dim != self.dim:
            raise ValueError(
                f"this store's Word2Vec model is {model_dim}-dimensional "
                f"but the facade was opened with dim={self.dim} — reopen "
                f"with dim={model_dim} (the model is frozen at training "
                "dimension)"
            )
        backend = B.word2vec_backend_from_vectors(
            self.spark, vecs, model_dim
        )
        if cached and cached[1].release is not None:
            # the model file changed: unpersist the superseded backend's
            # vocabulary broadcast (executor copies freed; advisor r3
            # leak finding) — release() uses unpersist, not destroy, so
            # lazy plans built against the old UDF still execute by
            # re-fetching from the driver (advisor r4 use-after-free
            # finding)
            cached[1].release()
        self._w2v_cache = (key, backend)
        return backend

    def _w2v_backend_factory(self, parsed):
        """Factory handed to `ingest.ingest_folder`: load the frozen model
        if one was already trained for this store, else fit Word2Vec on
        THIS batch's parsed text chunks and persist the vectors — later
        batches and query embedding reuse the frozen space."""
        from .functions import backends as B

        if os.path.exists(self.w2v_path):
            return self._w2v_loaded_backend()
        corpus = parsed.filter(
            F.col("content_type") == "text_chunk"
        ).select(F.col("content_raw").alias("text"))
        vecs = B.train_word2vec_vectors(
            self.spark, corpus, dim=self.dim, min_count=2, seed=7
        )
        B.save_word2vec_vectors(vecs, self.w2v_path)
        backend = B.word2vec_backend_from_vectors(
            self.spark, vecs, self.dim
        )
        # seed the memo with the just-saved file's version so the first
        # run_search reuses THIS broadcast instead of re-loading the JSON
        # and broadcasting the vocabulary a second time
        st = os.stat(self.w2v_path)
        self._w2v_cache = ((st.st_size, st.st_mtime_ns), backend)
        return backend

    def _ingest_text_backend(self):
        """What `embed_chunks` should use for this facade's model: None
        (hash default), a registry backend name, or the Word2Vec factory."""
        if self.text_embedding_model == "local-word2vec":
            return self._w2v_backend_factory
        return TEXT_EMBED_MODELS[self.text_embedding_model]

    def _query_text_backend(self):
        """Backend for embedding SEARCH queries in the store's space (None
        = deterministic hash default)."""
        from .functions import backends as B

        if self.text_embedding_model == "local-word2vec":
            if not os.path.exists(self.w2v_path):
                raise RuntimeError(
                    "no trained Word2Vec model in this store — ingest "
                    "first (the model is fit on the first batch)"
                )
            return self._w2v_loaded_backend()
        name = TEXT_EMBED_MODELS[self.text_embedding_model]
        return None if name is None else B.resolve_text_backend(name)

    # -- ingestion (reference vectorize_file / vectorize_folder) ----------

    def vectorize_file(self, file_path: str) -> int:
        """Reference `vectorize_file` (vector_db.py:180-229): hash → dedup
        probe → parse → embed → append. Returns the number of NEW chunk
        rows (0 when the file hash is already in the store)."""
        return self.vectorize_folder(file_path)

    def vectorize_folder(self, folder_path: str) -> int:
        """Reference `vectorize_folder` (vector_db.py:163-178): recursive
        scan, per-file quarantine instead of swallowed exceptions, ONE
        batched Spark pipeline instead of a serial per-file loop."""
        new_rows = ingest.ingest_folder(
            self.spark,
            str(folder_path),
            self.store_path,
            dim=self.dim,
            text_backend=self._ingest_text_backend(),
        )
        return new_rows.count()

    # -- state access ------------------------------------------------------

    def chunks(self) -> DataFrame | None:
        """The persisted chunk store as a DataFrame (lazy), or None before
        the first ingest.

        A ``spark.read.parquet`` frame fixes its file listing when it is
        opened, and opening one runs a schema-inference job. The frame is
        therefore memoized keyed on the (st_mtime_ns, st_ino) of the
        store's ``_SUCCESS`` marker, which every committed append —
        from this facade or any other writer — rewrites. The marker is
        read BEFORE the store is opened: an append that commits between
        the two only makes the next call reopen. Without a marker the
        store is opened on every call."""
        try:
            st = os.stat(os.path.join(self.store_path, "_SUCCESS"))
        except FileNotFoundError:
            return ingest.load_chunks(self.spark, self.store_path)
        key = (st.st_mtime_ns, st.st_ino)
        cached = getattr(self, "_chunks_cache", None)
        if cached and cached[0] == key:
            return cached[1]
        frame = ingest.load_chunks(self.spark, self.store_path)
        self._chunks_cache = (key, frame)
        return frame

    # -- search (reference run_search) ------------------------------------

    def run_search(
        self,
        search_content: dict,
        search_location: str | None = None,
        top_n: int = 5,
    ) -> dict:
        """Reference `run_search` (vector_db.py:615-671). `search_content`
        is the reference's query dict: ``{"text": str}`` and/or
        ``{"image": [base64, ...]}``. Returns
        ``{"response": str, "sources": [dict, ...]}``.

        Like the reference, the hits are retrieved once: the fused hit
        frame is persisted before the first collect, the summary and the
        source list both read it, and it is unpersisted in a ``finally``
        so a failed search leaves no cached blocks behind."""
        query_text = search_content.get("text")
        images = search_content.get("image") or []
        if query_text is None and not images:
            raise ValueError(
                "search_content needs 'text' and/or 'image' entries"
            )
        chunks = self.chunks()
        if chunks is None:
            # reference: emptiness check at :651-654
            raise RuntimeError("vector database is empty — ingest first")

        query_images = None
        if images:
            query_images = self.spark.createDataFrame(
                [(i, b64) for i, b64 in enumerate(images)],
                "query_id int, b64 string",
            ).select("query_id", F.unbase64("b64").alias("payload"))

        hits = rag.run_search(
            chunks,
            query_text=query_text,
            query_images=query_images,
            top_n=top_n,
            search_location=search_location,
            text_backend=self._query_text_backend(),
        ).persist()
        try:
            # the reference produces ONE summary over the fused text+image
            # hits (:666-668) — collapse all modalities into a single prompt
            one_query = hits.withColumn("query_id", F.lit(0))
            prompts = rag.assemble_prompts(one_query)
            answered = rag.answer_prompts(prompts, backend=self.response_model)
            resp_rows = answered.collect()
            response = resp_rows[0].response if resp_rows else ""
            sources = [r.asDict() for r in rag.source_list(hits).collect()]
        finally:
            hits.unpersist()
        return {"response": response, "sources": sources}
