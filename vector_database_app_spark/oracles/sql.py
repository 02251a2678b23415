"""DuckDB oracle SQL for the registry queries.

``ORACLE[name]`` is ANSI SQL that DuckDB runs over the same parquet tables
as ``registry.QUERIES[name]``; the driver compares the two results by row
count, schema and an order-insensitive value hash. Every computed column
is aliased and rounded exactly as the Spark side does it (FIXTURES.md).
Texts shared with a Spark query (the TPC-H ``_SQL_Q*`` strings, pinned
constants) are imported from ``registry``, so both engines run the same
text; ``registry`` never imports this package.
"""

from __future__ import annotations

from ..operators import textops, tokenize, unigram
from ..registry import (
    RAKE_STOPWORDS,
    _KMV_K,
    _KMV_M,
    _LP_MAX_CUST_DEG,
    _LP_TOP,
    _PPR_SEEDS,
    _RAKE_TOP,
    _SQL_Q2,
    _SQL_Q3,
    _SQL_Q4,
    _SQL_Q5,
    _SQL_Q6,
    _SQL_Q7,
    _SQL_Q8,
    _SQL_Q9,
    _SQL_Q10,
    _SQL_Q11,
    _SQL_Q12,
    _SQL_Q13,
    _SQL_Q14,
    _SQL_Q15,
    _SQL_Q16,
    _SQL_Q17,
    _SQL_Q18,
    _SQL_Q19,
    _SQL_Q20,
    _SQL_Q21,
    _SQL_Q22,
    _sprt_consts,
)
from .media_literals import (
    AUDIO_DEDUP_FP_SQL,
    AUDIO_FEATURES_WAV_SQL,
    IMAGE_DEDUP_AHASH_SQL,
    IMAGE_FEATURES_PNG_SQL,
    VIDEO_DEDUP_FRAMEHASH_SQL,
)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


#: DuckDB strict-order cosine matching functions.vector.cosine (dot in
#: element order on double-cast arrays, then the same norm product form).
#: Zero-safe like functions.vector.cosine (a zero-norm side scores 0.0,
#: the engine's OOV/quarantine convention) — the oracle must replay the
#: recorded semantics, not divide-by-zero where the engine returns 0.
_SQL_COS = (
    "(CASE WHEN sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])) > 0 THEN "
    "round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6) "
    "ELSE 0.0 END)"
)

#: DuckDB word-3-gram shingles matching functions.text.shingles (lowercase,
#: split on single space keeping empties, fallback to whole text).
_SQL_SHINGLES3 = (
    "CASE WHEN len({ws}) >= 3 THEN "
    "list_transform(range(1, len({ws}) - 1), "
    "i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2]) "
    "ELSE [lower({t})] END"
)


# ---------------------------------------------------------------------------
# Round-2 third-session additions: retrieval ranking, LM scoring, histograms,
# classifier serving, sliding chunks, event analytics, stream-stream join
# ---------------------------------------------------------------------------


_COS_EB_Q = _SQL_COS.format(a="e.embedding", b="q.qe")

#: Shared IVF coarse-assignment CTE (cent + assigned) — the SAME text
#: feeds ann_ivf, ann_ivf_search, dedup_semantic, and ann_recall so the
#: assignment tie-break can never silently diverge between their oracles
#: (the _SQL_PARTSUPP pattern).
_SQL_IVF_CENT_ASSIGN = f"""cent AS (
        SELECT label AS centroid_id, embedding AS centroid FROM (
            SELECT label, embedding,
                   row_number() OVER (PARTITION BY label ORDER BY vec_id)
                   AS rn
            FROM embeddings) WHERE rn = 1
    ), assigned AS (
        SELECT vec_id, embedding, label, centroid_id FROM (
            SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_SQL_COS.format(a="e.embedding", b="c.centroid")}
                                DESC, c.centroid_id) AS rk
            FROM embeddings e CROSS JOIN cent c) WHERE rk = 1
    )"""

_COS_AB = _SQL_COS.format(a="a.embedding", b="b.embedding")

ORACLE: dict[str, str] = {
    "scan_parquet": "SELECT r_regionkey, r_name FROM region",
    "filter_contains": (
        "SELECT doc_id, source FROM documents WHERE contains(lower(source), 'rc1')"
    ),
    "filter_eq": "SELECT doc_id, lang, n_chars FROM documents WHERE source = 'src3'",
    "filter_neq": "SELECT doc_id, lang FROM documents WHERE lang <> 'en'",
    "project_cols": "SELECT doc_id, lang, n_chars FROM documents",
    "with_literal": (
        "SELECT doc_id, 'query-001' AS search_reference FROM documents "
        "WHERE source = 'src3'"
    ),
    "knn_brute_force": f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, e.label, {_COS_EB_Q} AS sim
        FROM embeddings e, q WHERE e.vec_id <> 0
        ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
    "topk_per_group": f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id, e.label, {_COS_EB_Q} AS sim
          FROM embeddings e, q WHERE e.vec_id <> 0)
        SELECT vec_id, label, sim,
               CAST(row_number() OVER (PARTITION BY label ORDER BY sim DESC, vec_id) AS INT) AS rk
        FROM scored
        QUALIFY rk <= 3
    """,
    "rag_topk_summary": f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id, {_COS_EB_Q} AS sim
          FROM embeddings e, q WHERE e.vec_id <> 0),
        top5 AS (SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 5)
        SELECT CAST(0 AS INT) AS query_id,
               string_agg(d.text, ' | ' ORDER BY t.sim DESC, d.doc_id) AS summary,
               CAST(count(*) AS BIGINT) AS n_sources
        FROM top5 t JOIN documents d ON d.doc_id = t.vec_id
    """,
    "join_inner": """
        SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name IN ('ASIA', 'EUROPE')
    """,
    "join_left": """
        SELECT c.c_custkey, o.o_orderkey
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    "join_semi": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "join_asof": """
        SELECT p.event_id, p.user_id,
               epoch_us(p.ts) AS purchase_us,
               c.click_id, epoch_us(c.click_ts) AS click_us
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT event_id AS click_id, user_id, ts AS click_ts
                   FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id AND c.click_ts <= p.ts
        QUALIFY row_number() OVER (PARTITION BY p.event_id
                 ORDER BY c.click_ts DESC NULLS LAST, c.click_id DESC NULLS LAST) = 1
    """,
    "dedup_anti_join": """
        SELECT d.doc_id, sha256(d.text) AS content_hash
        FROM documents d
        WHERE sha256(d.text) NOT IN
              (SELECT sha256(text) FROM documents WHERE doc_id % 2 = 0)
    """,
    "order_limit": """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    "agg_group": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "agg_distinct": """
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_rollup": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "window_lag": """
        SELECT o_custkey, o_orderkey, o_totalprice,
               lag(o_totalprice) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS prev_price
        FROM orders
    """,
    "union_all": """
        SELECT doc_id, source FROM documents WHERE source = 'src1'
        UNION ALL
        SELECT doc_id, source FROM documents WHERE source = 'src2'
    """,
    "join_full": """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    "join_cross": "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "join_range": """
        SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_shipped_30d
        FROM lineitem l JOIN orders o
          ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
        GROUP BY o.o_orderkey
    """,
    "join_interval": """
        SELECT i.incident_id,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(CAST(round(p.value, 4) AS DECIMAL(18,4)))
                    AS DOUBLE) AS total_value
        FROM (SELECT event_id AS incident_id, ts AS t0,
                     ts + INTERVAL 10 MINUTE AS t1
              FROM events WHERE event_type = 'error') i
        JOIN (SELECT ts, value FROM events
              WHERE event_type = 'purchase') p
          ON p.ts >= i.t0 AND p.ts < i.t1
        GROUP BY i.incident_id
    """,
    "set_intersect": """
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "set_except": """
        SELECT n_nationkey AS nationkey FROM nation
        EXCEPT ALL
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
    "agg_cube": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                    AS BIGINT) AS gid
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "pivot_wide": """
        -- CAST to BIGINT: DuckDB's bare sum(BIGINT) yields HUGEINT, which
        -- lands in pandas as float64 and hash-mismatches Spark's bigint
        -- even when values are identical (round-1 red row)
        SELECT lang,
               CAST(sum(n_chars) FILTER (WHERE source = 'src0') AS BIGINT) AS src0,
               CAST(sum(n_chars) FILTER (WHERE source = 'src1') AS BIGINT) AS src1,
               CAST(sum(n_chars) FILTER (WHERE source = 'src2') AS BIGINT) AS src2,
               CAST(sum(n_chars) FILTER (WHERE source = 'src3') AS BIGINT) AS src3
        FROM documents
        WHERE source IN ('src0', 'src1', 'src2', 'src3')
        GROUP BY lang
    """,
    "window_running_sum": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_spend
        FROM orders
    """,
    "window_range_rolling": """
        SELECT event_id, user_id,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               CAST(count(*) OVER w AS BIGINT) AS n_2d,
               CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) OVER w
                    AS DOUBLE) AS sum_2d
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(epoch_us(ts) AS BIGINT)
                     RANGE BETWEEN 172800000000 PRECEDING AND CURRENT ROW)
    """,
    "window_rank": """
        SELECT c_custkey, c_nationkey,
               CAST(rank() OVER w AS BIGINT) AS bal_rank,
               CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
               CAST(ntile(4) OVER w AS BIGINT) AS bal_quartile
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
    "window_lead": """
        SELECT user_id, event_id,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               CAST(epoch_us(lead(ts) OVER w) AS BIGINT) AS next_ts_us,
               first_value(event_type) OVER w AS first_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "agg_stats": """
        SELECT l_returnflag,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(stddev_samp(l_extendedprice), 4) AS std_price,
               round(var_samp(l_extendedprice), 2) AS var_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_corr": """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 4)
                   AS covar_qty_price,
               round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 4)
                   AS intercept
        FROM lineitem GROUP BY l_returnflag
    """,
    "window_cume": """
        SELECT o_orderkey, o_orderpriority,
               round(cume_dist() OVER w, 6) AS price_cume,
               nth_value(o_orderkey, 2) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS second_cheapest_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
    """,
    "agg_percentile": """
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        FROM orders GROUP BY o_orderpriority
    """,
    "math_funcs": """
        SELECT o_orderkey,
               round(o_totalprice, 1) AS price_r1,
               CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
               CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
               round(abs(o_totalprice - 100000), 2) AS abs_diff,
               round(sqrt(o_totalprice), 6) AS price_sqrt,
               round(ln(o_totalprice), 6) AS price_ln,
               round(pow(o_totalprice, 0.25), 6) AS price_pow,
               CAST(o_orderkey % 7 AS BIGINT) AS key_mod7,
               CAST(sign(o_totalprice - 100000.0) AS INTEGER) AS over_100k
        FROM orders
    """,
    "map_funcs": """
        SELECT event_id,
               json_keys(props)[1] AS first_key,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
               CAST(len(json_keys(props)) AS BIGINT) AS n_keys
        FROM events
    """,
    "regex_funcs": """
        SELECT doc_id,
               regexp_extract(text, '([a-z]+)', 1) AS first_word,
               regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
                 AS n_digits,
               CAST(regexp_matches(text, 'table|join') AS INTEGER)
                 AS mentions_sql
        FROM documents
    """,
    "cond_funcs": """
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'debt'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END AS tier,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment,
               greatest(c_acctbal, 0.0) AS bal_pos,
               least(c_acctbal, 1000.0) AS bal_capped
        FROM customer
    """,
    "sql_pricing_summary": """
        SELECT o.o_orderkey,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               CAST(epoch_us(o.o_orderdate) AS BIGINT) AS orderdate_us
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'O'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
    """,
    "string_funcs": """
        SELECT doc_id,
               upper(lang) AS lang_upper,
               substr(text, 1, 20) AS prefix20,
               CAST(length(text) AS BIGINT) AS len,
               concat_ws('-', source, lang) AS src_lang,
               replace(source, 'src', 'source_') AS src_renamed,
               lpad(CAST(doc_id AS VARCHAR), 8, '0') AS id_padded,
               CAST(strpos(text, 'data') AS BIGINT) AS data_pos,
               CAST(starts_with(trim(text), 'key') AS INT) AS starts_key
        FROM documents
    """,
    "date_funcs": """
        SELECT event_id,
               CAST(year(ts) AS INT) AS y,
               CAST(month(ts) AS INT) AS m,
               CAST(day(ts) AS INT) AS d,
               CAST(hour(ts) AS INT) AS h,
               CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day_str,
               epoch_us(ts) AS ts_us
        FROM events
    """,
    "array_funcs": """
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 6) AS sq_norm,
               round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
               round(list_reduce(embedding::DOUBLE[], (x, y) -> x + y), 6) AS vec_sum
        FROM embeddings
    """,
    "json_funcs": """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        FROM events
    """,
    "dedup_exact": """
        SELECT sha256(text) AS content_hash,
               min(doc_id) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY sha256(text)
    """,
    "rag_rerank": """
        -- replay of rag.cross_encoder_rerank's deterministic backend:
        -- the mapInPandas pair scorer is hashlib.md5(q + chr(31) + t)
        -- hexdigest, byte-identical to DuckDB's md5()
        WITH q AS (
            SELECT doc_id AS query_id, text AS query_text, lang
            FROM documents WHERE doc_id < 2
        ), c AS (
            SELECT doc_id, text, lang FROM documents WHERE doc_id >= 2
        ), s AS (
            SELECT q.query_id, c.doc_id,
                   md5(q.query_text || chr(31) || c.text) AS ce_score
            FROM c JOIN q USING (lang)
        )
        SELECT query_id, doc_id, ce_score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY ce_score, doc_id) AS INT)
                   AS rk
        FROM s
        QUALIFY rk <= 5
    """,
    "gopher_quality": """
        -- replay of textops.gopher_quality: integer-compared Gopher rules
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), m AS (
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(ws, x -> len(x)))
                        AS BIGINT) AS sum_chars,
                   CAST(len(list_filter(ws,
                        x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
                       AS n_alpha_words,
                   CAST(len(list_filter(ws, x -> x IN ('the', 'a')))
                        AS BIGINT) AS n_stopwords
            FROM w
        )
        SELECT doc_id, n_words,
               round(CAST(sum_chars AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
                   AS mean_word_len,
               n_alpha_words, n_stopwords,
               CASE WHEN n_words >= 50 AND n_words <= 100000
                         AND sum_chars * 10 >= n_words * 38
                         AND sum_chars * 10 <= n_words * 100
                         AND n_alpha_words * 10 >= n_words * 8
                         AND n_stopwords >= 2
                    THEN 'keep' ELSE 'drop' END AS verdict
        FROM m
    """,
    "dedup_passage": """
        -- replay of textops.passage_dedup: sliding 8-word windows,
        -- earliest-doc passage ownership, integer-compared 50% verdict
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), p AS (
            SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS passage
            FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 6)) AS i) g
            WHERE len(ws) >= 8
        ), own AS (
            SELECT passage, min(doc_id) AS _owner FROM p GROUP BY passage
        ), agg AS (
            SELECT p.doc_id,
                   CAST(count(*) AS BIGINT) AS n_passages,
                   CAST(sum(CASE WHEN own._owner < p.doc_id
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
            FROM p JOIN own USING (passage) GROUP BY p.doc_id
        )
        SELECT doc_id, n_passages, n_dup,
               round(CAST(n_dup AS DOUBLE) / CAST(n_passages AS DOUBLE), 4)
                   AS dup_frac,
               CASE WHEN n_dup * 2 > n_passages THEN 'drop' ELSE 'keep' END
                   AS verdict
        FROM agg
    """,
    "dedup_edit_distance": """
        WITH pairs AS (
            SELECT doc_id AS id_a, doc_id + 100 AS id_b FROM documents
        )
        SELECT p.id_a, p.id_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance
        FROM pairs p
        JOIN documents a ON a.doc_id = p.id_a
        JOIN documents b ON b.doc_id = p.id_b
    """,
    "knn_filtered": f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        scoped AS (
            SELECT e.* FROM embeddings e
            WHERE e.vec_id <> 0
              AND EXISTS (SELECT 1 FROM documents d
                          WHERE d.doc_id = e.vec_id AND d.source = 'src3')
        )
        SELECT s.vec_id, s.label,
               {_SQL_COS.format(a="s.embedding", b="q.qe")} AS sim
        FROM scoped s, q
        ORDER BY sim DESC, s.vec_id LIMIT 5
    """,
    "events_pipeline": """
        WITH dedup AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY event_id
                                             ORDER BY ts) AS _rk
                FROM events) WHERE _rk = 1
        )
        SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS win_us,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total_value
        FROM dedup
        WHERE event_type IN ('click', 'view')
        GROUP BY date_trunc('hour', ts), event_type
    """,
    "events_funnel": """
        WITH v AS (
          SELECT user_id, min(ts) AS t_view
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
          SELECT e.user_id, v.t_view, min(e.ts) AS t_click
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id, v.t_view
        ), p AS (
          SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            AND e.ts <= c.t_view + INTERVAL 7 DAY
          GROUP BY e.user_id
        )
        SELECT '1_view' AS stage, CAST((SELECT count(*) FROM v) AS BIGINT) AS users
        UNION ALL
        SELECT '2_click', CAST((SELECT count(*) FROM c) AS BIGINT)
        UNION ALL
        SELECT '3_purchase', CAST((SELECT count(*) FROM p) AS BIGINT)
    """,
    "ngram_jaccard": f"""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS s
            FROM (SELECT doc_id, text,
                         string_split(lower(text), ' ') AS ws
                  FROM documents)
        ), pairs AS MATERIALIZED (
            SELECT doc_id AS id_a, doc_id + 250 AS id_b FROM documents
        )
        SELECT p.id_a, p.id_b,
               round(len(list_intersect(sa.s, sb.s))
                     / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.id_a
        JOIN sh sb ON sb.doc_id = p.id_b
    """,
    "stream_enrich": """
        SELECT coalesce(c.c_mktsegment, 'NO_DIM') AS segment,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(e.value), 2) AS total_value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY coalesce(c.c_mktsegment, 'NO_DIM')
    """,
    "stream_attribution": """
        SELECT p.event_id AS purchase_id, p.user_id,
               CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
               c.event_id AS click_id,
               CAST(epoch_us(c.ts) AS BIGINT) AS click_us
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    "corpus_filter": """
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), w -> w <> '') AS w,
                 text, sha256(text) AS content_hash,
                 ' ' || lower(text) || ' ' AS t
          FROM documents),
        scored AS (
          SELECT doc_id, content_hash,
                 CAST(len(w) AS BIGINT) AS len_words,
                 round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                       / nullif(length(text), 0), 6) AS punct_ratio,
                 round(len(list_filter(w, x -> list_contains(
                       ['the','a','and','of','to','in','is'], x)))
                       / nullif(len(w), 0), 6) AS stopword_ratio,
                 CASE WHEN contains(t,' the ') OR contains(t,' and ') OR contains(t,' of ') THEN 'en'
                      WHEN contains(t,' le ') OR contains(t,' la ') OR contains(t,' et ') THEN 'fr'
                      WHEN contains(t,' el ') OR contains(t,' los ') OR contains(t,' y ') THEN 'es'
                      WHEN contains(t,' der ') OR contains(t,' und ') OR contains(t,' die ') THEN 'de'
                      WHEN contains(t,'的') OR contains(t,'是') OR contains(t,'了') THEN 'zh'
                      ELSE 'und' END AS lang_pred
          FROM base),
        survivors AS (
          SELECT *, row_number() OVER (PARTITION BY content_hash
                                       ORDER BY doc_id) AS rk
          FROM scored
          WHERE len_words >= 20 AND punct_ratio <= 0.1
            AND stopword_ratio >= 0.0
            AND lang_pred IN ('en','fr','es'))
        SELECT doc_id, len_words, punct_ratio, stopword_ratio, lang_pred
        FROM survivors WHERE rk = 1
    """,
    "join_salted": """
        SELECT o.o_custkey AS c_custkey, o.o_orderkey, c.c_mktsegment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    "ann_ivf": f"""
        WITH {_SQL_IVF_CENT_ASSIGN}
        SELECT vec_id, label, centroid_id FROM assigned
    """,
    "ann_ivf_search": f"""
        WITH {_SQL_IVF_CENT_ASSIGN}, q AS (
            SELECT vec_id AS query_id, embedding AS qe FROM embeddings
            WHERE vec_id < 3
        ), probes AS (
            SELECT query_id, qe, centroid_id FROM (
                SELECT q.query_id, q.qe, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_SQL_COS.format(a="q.qe", b="c.centroid")}
                                    DESC, c.centroid_id) AS prk
                FROM q CROSS JOIN cent c) WHERE prk <= 2
        ), cand AS (
            SELECT p.query_id, a.vec_id, a.label, a.centroid_id,
                   {_SQL_COS.format(a="a.embedding", b="p.qe")} AS sim
            FROM assigned a JOIN probes p USING (centroid_id)
        )
        SELECT query_id, vec_id, label, centroid_id, sim,
               CAST(rk AS INTEGER) AS rk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
              FROM cand) WHERE rk <= 5
    """,
    "sql_regional_revenue": _SQL_Q5,
    "sql_shipping_priority": _SQL_Q3,
    "sql_order_priority": _SQL_Q4,
    "sql_returned_items": _SQL_Q10,
    "sql_promo_revenue": _SQL_Q14,
    "sql_top_supplier": _SQL_Q15,
    "sql_large_orders": _SQL_Q18,
    "sql_disjunctive_revenue": _SQL_Q19,
    "sql_small_qty_revenue": _SQL_Q17,
    "sql_waiting_suppliers": _SQL_Q21,
    "sql_dormant_customers": _SQL_Q22,
    "sql_forecast_revenue": _SQL_Q6,
    "sql_volume_shipping": _SQL_Q7,
    "sql_market_share": _SQL_Q8,
    "sql_nation_profit": _SQL_Q9,
    "sql_late_priority": _SQL_Q12,
    "sql_order_count_dist": _SQL_Q13,
    "sql_min_cost_supplier": _SQL_Q2,
    "sql_important_stock": _SQL_Q11,
    "sql_supplier_part_count": _SQL_Q16,
    "sql_part_promotion": _SQL_Q20,
    "unpivot_long": """
        SELECT l_orderkey, l_linenumber, measure, value
        FROM (
            UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
                            l_extendedprice, l_discount, l_tax
                     FROM lineitem WHERE l_orderkey < 100)
            ON l_quantity, l_extendedprice, l_discount, l_tax
            INTO NAME measure VALUE value
        )
    """,
    "corpus_filter_relative": """
        WITH scored AS (
          SELECT doc_id,
                 CASE WHEN contains(t,' the ') OR contains(t,' and ') OR contains(t,' of ') THEN 'en'
                      WHEN contains(t,' le ') OR contains(t,' la ') OR contains(t,' et ') THEN 'fr'
                      WHEN contains(t,' el ') OR contains(t,' los ') OR contains(t,' y ') THEN 'es'
                      WHEN contains(t,' der ') OR contains(t,' und ') OR contains(t,' die ') THEN 'de'
                      WHEN contains(t,'的') OR contains(t,'是') OR contains(t,'了') THEN 'zh'
                      ELSE 'und' END AS lang_pred,
                 coalesce(round(len(list_filter(w, x -> list_contains(
                       ['the','a','and','of','to','in','is'], x)))
                       / nullif(len(w), 0), 6), 0.0) AS score
          FROM (SELECT doc_id, text,
                       list_filter(string_split(lower(text), ' '), x -> x <> '') AS w,
                       ' ' || lower(text) || ' ' AS t
                FROM documents)
        )
        SELECT doc_id, lang_pred, score, pr FROM (
          SELECT doc_id, lang_pred, score,
                 round(percent_rank() OVER (
                     PARTITION BY lang_pred ORDER BY score, doc_id), 6) AS pr
          FROM scored
        ) WHERE pr >= 0.5
    """,
    "split_train_test": """
        SELECT doc_id,
               CASE WHEN b < 8 THEN 'train'
                    WHEN b = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     ((doc_id * 2654435761) % 4294967296) % 10 AS b
              FROM documents)
    """,
    "dedup_similarity_join": f"""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS s
            FROM (SELECT doc_id, text,
                         string_split(lower(text), ' ') AS ws
                  FROM documents)
        )
        SELECT id_a, id_b, jaccard FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s))
                         / len(list_distinct(list_concat(a.s, b.s))), 6)
                       AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.5
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE sh AS MATERIALIZED (
            SELECT doc_id,
                   list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS s
            FROM (SELECT doc_id, text,
                         string_split(lower(text), ' ') AS ws
                  FROM documents)
        ), edges AS MATERIALIZED (
            SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(len(list_intersect(a.s, b.s))
                             / len(list_distinct(list_concat(a.s, b.s))), 6)
                           AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.5
        ), sym AS (
            SELECT id_a AS src, id_b AS dst FROM edges
            UNION ALL
            SELECT id_b, id_a FROM edges
        ), reach AS (
            SELECT DISTINCT src AS a, src AS b FROM sym
            UNION
            SELECT r.a, s.dst AS b FROM reach r JOIN sym s ON s.src = r.b
        )
        SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a
    """,
    "text_tfidf": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      w -> w <> '')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, term, tf, tfidf, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT t.doc_id, t.term, t.tf,
                   round(t.tf * ln(n.n_docs / d.df), 6) AS tfidf,
                   row_number() OVER (
                       PARTITION BY t.doc_id
                       ORDER BY round(t.tf * ln(n.n_docs / d.df), 6) DESC,
                                t.term) AS rk
            FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
        ) WHERE rk <= 3
    """,
    "sample_mixture": """
        WITH ranked AS (
          SELECT doc_id, source,
                 row_number() OVER (
                     PARTITION BY source
                     ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
                 ) AS rk,
                 CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 60
                             WHEN 'src2' THEN 40 WHEN 'src3' THEN 20
                             ELSE 0 END AS quota
          FROM documents)
        SELECT doc_id, source, CAST(rk AS INT) AS sample_rank,
               CAST(quota AS INT) AS source_quota
        FROM ranked WHERE rk <= quota
    """,
    "pack_sequences": """
        WITH t AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '),
                                      w -> w <> '')) AS BIGINT) + 1 AS n_tok
          FROM documents
        ), placed AS (
          SELECT doc_id, n_tok,
                 CAST(sum(n_tok) OVER (ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS tok_end
          FROM t
        ), spans AS (
          SELECT doc_id, n_tok, tok_end, tok_end - n_tok AS tok_start
          FROM placed
        ), exploded AS (
          SELECT doc_id, tok_start, tok_end,
                 unnest(range(tok_start // 128,
                              (tok_end - 1) // 128 + 1)) AS seq_id
          FROM spans
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
               CAST(greatest(tok_start - seq_id * 128, 0) AS BIGINT)
                   AS pos_in_seq,
               CAST(greatest(seq_id * 128 - tok_start, 0) AS BIGINT)
                   AS doc_tok_offset,
               CAST(least(tok_end, seq_id * 128 + 128)
                    - greatest(tok_start, seq_id * 128) AS BIGINT)
                   AS n_tok_in_seq
        FROM exploded
    """,
    "lm_unigram_score": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      w -> w <> '')) AS term
            FROM documents
        ), lm AS (
            SELECT term, count(*) AS ct FROM toks GROUP BY term
        ), tot AS (SELECT count(*) AS total_tokens FROM toks)
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(l.ct) AS BIGINT) AS sum_ct,
               CAST(sum(l.ct) AS BIGINT)
                 / (CAST(count(*) AS BIGINT) * any_value(tot.total_tokens))
                 AS mean_token_p
        FROM toks t JOIN lm l USING (term) CROSS JOIN tot
        GROUP BY t.doc_id
    """,
    "top_terms_per_lang": """
        WITH toks AS (
            SELECT lang,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      w -> w <> '')) AS term
            FROM documents
        ), counts AS (
            SELECT lang, term, CAST(count(*) AS BIGINT) AS n
            FROM toks GROUP BY lang, term
        )
        SELECT lang, term, n, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT lang, term, n,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n DESC, term) AS rk
            FROM counts
        ) WHERE rk <= 5
    """,
    "pyds_synthetic_docs": """
        WITH base AS (
            SELECT doc_id,
                   3 + (((doc_id + 1) * 2654435761) % 4294967296) % 8
                       AS n_words
            FROM range(0, 500) t(doc_id)
        )
        SELECT doc_id,
               array_to_string(
                 list_transform(range(0, n_words), i ->
                   list_value('data','spark','vector','index','query',
                              'batch','stream','token','model','shard')[
                     CAST(1 + (((doc_id + 2 + i) * 2654435761)
                               % 4294967296) % 10 AS INTEGER)]),
                 ' ') AS text,
               list_value('en','fr','es','de')[
                 CAST(1 + ((doc_id * 2654435761) % 4294967296) % 4
                      AS INTEGER)] AS lang,
               ((((doc_id + 3) * 2654435761) % 4294967296) % 1000) / 1000.0
                   AS quality,
               n_words
        FROM base
    """,
    "ann_planner_exact": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qe FROM embeddings
            WHERE vec_id < 3
        ), scored AS (
            SELECT q.query_id, e.vec_id, e.label,
                   {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
            FROM embeddings e CROSS JOIN q
        )
        SELECT query_id, vec_id, label, sim, CAST(rk AS INTEGER) AS rk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
              FROM scored) WHERE rk <= 5
    """,
    "rrf_fusion": f"""
        WITH t0 AS (
            SELECT e.vec_id, {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
            FROM embeddings e, (SELECT embedding AS qe FROM embeddings
                                WHERE vec_id = 0) q
            WHERE e.vec_id >= 2 ORDER BY sim DESC, e.vec_id LIMIT 10
        ), t1 AS (
            SELECT e.vec_id, {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
            FROM embeddings e, (SELECT embedding AS qe FROM embeddings
                                WHERE vec_id = 1) q
            WHERE e.vec_id >= 2 ORDER BY sim DESC, e.vec_id LIMIT 10
        ), u AS (
            SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
            FROM t0
            UNION ALL
            SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
            FROM t1
        )
        SELECT vec_id, round(sum(1.0 / (60 + rnk)), 6) AS rrf,
               CAST(count(*) AS BIGINT) AS n_lists
        FROM u GROUP BY vec_id
    """,
    "chunk_fixed": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        u AS (SELECT doc_id, w,
                     unnest(generate_series(1, greatest(len(w), 1), 32)) AS s
              FROM t)
        SELECT doc_id,
               CAST((s - 1) // 32 AS INTEGER) AS chunk_id,
               array_to_string(w[s : s + 31], ' ') AS chunk_text
        FROM u
    """,
    "dedup_embedding": f"""
        SELECT * FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_AB} AS sim
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id)
        WHERE sim >= 0.35
    """,
    "text_quality": """
        WITH base AS (
          SELECT doc_id, text,
                 list_filter(string_split(lower(text), ' '), w -> w <> '') AS w
          FROM documents)
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS len_chars,
               CAST(len(w) AS BIGINT) AS len_words,
               round(length(replace(text, ' ', '')) / nullif(len(w), 0), 6) AS avg_word_len,
               round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                     / nullif(length(text), 0), 6) AS punct_ratio,
               round(len(list_filter(w, x -> list_contains(
                     ['the','a','and','of','to','in','is'], x)))
                     / nullif(len(w), 0), 6) AS stopword_ratio
        FROM base
    """,
    "repetition_signals": """
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS words
          FROM documents),
        base AS (
          SELECT doc_id, len(words) AS n_words,
                 len(list_distinct(words)) AS n_dist, words
          FROM w),
        uni AS (
          SELECT doc_id, max(c) AS top_cnt FROM (
            SELECT doc_id, word, count(*) AS c FROM (
              SELECT doc_id, unnest(words) AS word FROM w)
            GROUP BY doc_id, word)
          GROUP BY doc_id),
        big AS (
          SELECT doc_id, max(c) AS top_bi FROM (
            SELECT doc_id, bg, count(*) AS c FROM (
              SELECT doc_id,
                     unnest(list_transform(range(2, len(words) + 1),
                            i -> words[i-1] || ' ' || words[i])) AS bg
              FROM w)
            GROUP BY doc_id, bg)
          GROUP BY doc_id)
        SELECT b.doc_id,
               CAST(b.n_words AS BIGINT) AS n_words,
               CASE WHEN b.n_words > 0
                    THEN round(1 - b.n_dist / CAST(b.n_words AS DOUBLE), 6)
                    ELSE 0.0 END AS dup_word_frac,
               CASE WHEN b.n_words > 0
                    THEN round(uni.top_cnt / CAST(b.n_words AS DOUBLE), 6)
                    ELSE 0.0 END AS top_word_frac,
               coalesce(round(big.top_bi / CAST(b.n_words - 1 AS DOUBLE), 6),
                        0.0) AS top_bigram_frac
        FROM base b
        LEFT JOIN uni USING (doc_id)
        LEFT JOIN big USING (doc_id)
    """,
    "lang_id": """
        WITH base AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t FROM documents)
        SELECT doc_id, lang,
               CASE WHEN contains(t, ' the ') OR contains(t, ' and ') OR contains(t, ' of ') THEN 'en'
                    WHEN contains(t, ' le ') OR contains(t, ' la ') OR contains(t, ' et ') THEN 'fr'
                    WHEN contains(t, ' el ') OR contains(t, ' los ') OR contains(t, ' y ') THEN 'es'
                    WHEN contains(t, ' der ') OR contains(t, ' und ') OR contains(t, ' die ') THEN 'de'
                    WHEN contains(t, '的') OR contains(t, '是') OR contains(t, '了') THEN 'zh'
                    ELSE 'und' END AS lang_pred
        FROM base
    """,
    "token_count": """
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
                 AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                 AS BIGINT) AS n_bpe_tokens
        FROM documents
    """,
    "doc_fingerprint": f"""
        WITH base AS (
          SELECT doc_id, text, string_split(lower(text), ' ') AS ws FROM documents)
        SELECT doc_id,
               list_min(list_transform({_SQL_SHINGLES3.format(ws="ws", t="text")},
                                       s -> md5(s))) AS fingerprint
        FROM base
    """,
    "multimodal_meta": """
        -- byte semantics throughout: the Spark side measures the BINARY
        -- payload, so the oracle must use octet_length/hex-slice, not
        -- character length/substr (diverges on any multibyte text)
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS payload_sha256,
               substr(hex(encode(text)), 1, 8) AS magic_hex
        FROM documents
    """,
    "frame_sample": """
        SELECT doc_id, CAST(f AS INT) AS frame_idx FROM (
          SELECT doc_id,
                 unnest(range(0, octet_length(encode(text)) % 100 + 1, 10)) AS f
          FROM documents)
    """,
    "window_tumbling": """
        SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "window_sliding": """
        WITH exploded AS (
          SELECT event_type,
                 unnest([time_bucket(INTERVAL '30 minutes', ts),
                         time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
                   AS ws
          FROM events)
        SELECT CAST(ws AS VARCHAR) AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM exploded GROUP BY 1, 2
    """,
    "sample_stratified": """
        SELECT doc_id, lang, CAST(rk AS INT) AS sample_rank FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
                   ) AS rk
            FROM documents) WHERE rk <= 20
    """,
    "pii_scrub": """
        WITH staged AS (
            SELECT doc_id,
                   text ||
                   CASE WHEN doc_id % 7 = 0
                        THEN ' contact user' || doc_id || '@example.com'
                        ELSE '' END ||
                   CASE WHEN doc_id % 11 = 0
                        THEN ' see https://example.com/doc/' || doc_id
                        ELSE '' END AS text
            FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, 'https?://[^ ]+'))
                   AS BIGINT) AS n_urls,
               regexp_replace(
                   regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS redacted
        FROM staged
    """,
    "boilerplate_ngrams": """
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       CASE WHEN len(ws) >= 2 THEN
                           list_transform(range(1, len(ws)),
                                          i -> ws[i] || ' ' || ws[i+1])
                       ELSE [lower(text)] END)) AS ngram
            FROM (SELECT doc_id, text,
                         string_split(lower(text), ' ') AS ws
                  FROM documents))
        SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs
        FROM sh GROUP BY ngram HAVING count(*) >= 25
    """,
    "decontaminate": f"""
        WITH d AS (
            SELECT doc_id, text, string_split(lower(text), ' ') AS ws
            FROM documents
        ), g AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       {_SQL_SHINGLES3.format(ws="ws", t="text")})) AS ngram
            FROM d
        ), bench AS (
            SELECT DISTINCT ngram FROM g WHERE doc_id % 97 = 0
        ), hits AS (
            SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
            FROM g JOIN bench USING (ngram)
            WHERE g.doc_id % 97 <> 0
            GROUP BY g.doc_id
        )
        SELECT c.doc_id,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               CAST(coalesce(h.n_hits, 0) >= 2 AS INT) AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) c
        LEFT JOIN hits h USING (doc_id)
    """,
    "corpus_pipeline": f"""
        WITH d AS (
            SELECT doc_id, text, string_split(lower(text), ' ') AS ws
            FROM documents
        ), g AS (
            SELECT doc_id,
                   unnest(list_distinct(
                       {_SQL_SHINGLES3.format(ws="ws", t="text")})) AS ngram
            FROM d
        ), bench AS (
            SELECT DISTINCT ngram FROM g WHERE doc_id % 97 = 0
        ), hits AS (
            SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
            FROM g JOIN bench USING (ngram)
            WHERE g.doc_id % 97 <> 0
            GROUP BY g.doc_id
        ), scored AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                                        w -> w <> '')) AS BIGINT) AS len_words,
                   round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                         / nullif(length(text), 0), 6) AS punct_ratio,
                   CASE WHEN contains(t,' the ') OR contains(t,' and ') OR contains(t,' of ') THEN 'en'
                        WHEN contains(t,' le ') OR contains(t,' la ') OR contains(t,' et ') THEN 'fr'
                        WHEN contains(t,' el ') OR contains(t,' los ') OR contains(t,' y ') THEN 'es'
                        WHEN contains(t,' der ') OR contains(t,' und ') OR contains(t,' die ') THEN 'de'
                        WHEN contains(t,'的') OR contains(t,'是') OR contains(t,'了') THEN 'zh'
                        ELSE 'und' END AS lang_pred,
                   row_number() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS dup_rk
            FROM (SELECT doc_id, text,
                         ' ' || lower(text) || ' ' AS t FROM documents)
        ), final AS (
            SELECT s.doc_id,
                   CASE WHEN s.doc_id % 97 = 0 THEN 'benchmark'
                        WHEN s.dup_rk > 1 THEN 'dup'
                        WHEN coalesce(h.n_hits, 0) >= 2 THEN 'contaminated'
                        WHEN s.len_words < 20 OR s.punct_ratio > 0.1
                             OR s.lang_pred NOT IN ('en','fr','es')
                             THEN 'low_quality'
                        ELSE 'kept' END AS disposition,
                   ((s.doc_id * 2654435761) % 4294967296) % 10 AS b,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   s.len_words
            FROM scored s LEFT JOIN hits h USING (doc_id)
        )
        SELECT doc_id, disposition,
               CASE WHEN disposition = 'kept'
                    THEN CASE WHEN b < 8 THEN 'train'
                              WHEN b = 8 THEN 'val'
                              ELSE 'test' END
                    ELSE 'none' END AS split,
               n_hits, len_words
        FROM final
    """,
    "ann_matryoshka": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qe FROM embeddings
            WHERE vec_id < 3
        ), coarse AS (
            SELECT q.query_id, e.vec_id, e.label, e.embedding, q.qe,
                   {_SQL_COS.format(a="list_slice(e.embedding, 1, 16)",
                                    b="list_slice(q.qe, 1, 16)")} AS coarse_sim
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id >= 3
        ), short AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY coarse_sim DESC, vec_id) AS crk
            FROM coarse
        ), fine AS (
            SELECT query_id, vec_id, label, coarse_sim,
                   {_SQL_COS.format(a="embedding", b="qe")} AS sim
            FROM short WHERE crk <= 25
        )
        SELECT query_id, vec_id, label, coarse_sim, sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rk
        FROM fine
        QUALIFY rk <= 5
    """,
    "profile_table": """
        SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
               min(doc_id::VARCHAR) AS min_str, max(doc_id::VARCHAR) AS max_str,
               round(avg(length(doc_id::VARCHAR)), 4) AS avg_len
        FROM documents
        UNION ALL
        SELECT 'text' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
               min(text::VARCHAR) AS min_str, max(text::VARCHAR) AS max_str,
               round(avg(length(text::VARCHAR)), 4) AS avg_len
        FROM documents
        UNION ALL
        SELECT 'lang' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct,
               min(lang::VARCHAR) AS min_str, max(lang::VARCHAR) AS max_str,
               round(avg(length(lang::VARCHAR)), 4) AS avg_len
        FROM documents
        UNION ALL
        SELECT 'source' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT source) AS BIGINT) AS n_distinct,
               min(source::VARCHAR) AS min_str, max(source::VARCHAR) AS max_str,
               round(avg(length(source::VARCHAR)), 4) AS avg_len
        FROM documents
        UNION ALL
        SELECT 'n_chars' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct,
               min(n_chars::VARCHAR) AS min_str, max(n_chars::VARCHAR) AS max_str,
               round(avg(length(n_chars::VARCHAR)), 4) AS avg_len
        FROM documents
    """,
    "knn_range_search": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qe FROM embeddings
            WHERE vec_id < 3
        ), scored AS (
            SELECT q.query_id, e.vec_id, e.label,
                   {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id >= 3
        )
        SELECT query_id, vec_id, label, sim FROM scored WHERE sim >= 0.3
    """,
    "embed_quantize": """
        WITH s AS (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x))) / 127.0 AS sc
            FROM embeddings)
        SELECT vec_id,
               round(sc, 6) AS scale,
               round(coalesce(list_max(list_transform(e,
                   x -> abs(x - trunc(x / nullif(sc, 0)) * sc))), 0.0), 6)
                   AS max_abs_err
        FROM s
    """,
    "embed_centroid": """
        SELECT label, CAST(pos AS INT) AS pos,
               round(CAST(sum_dec AS DOUBLE) / n, 6) AS centroid_val,
               CAST(n AS BIGINT) AS n
        FROM (
          SELECT label, pos,
                 sum(CAST(val AS DECIMAL(38,20))) AS sum_dec,
                 count(*) AS n
          FROM (
            SELECT e.label,
                   unnest(e.embedding::DOUBLE[]) AS val,
                   unnest(range(len(e.embedding))) AS pos
            FROM embeddings e
          )
          GROUP BY label, pos
        )
    """,
    "window_session": """
        WITH flagged AS (
          SELECT user_id, ts,
                 -- strict <: Spark's session_window starts a NEW session
                 -- for an event landing exactly at the previous session's
                 -- end (start + gap is exclusive)
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      < INTERVAL '5 minutes' THEN 0 ELSE 1 END AS new_s
          FROM events),
        sess AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged)
        SELECT epoch_us(min(ts)) AS session_us, user_id,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
    """,
}

# The planner's IVF branch must be bit-identical to the direct IVF query —
# same centroids, same n_probe — so it shares that oracle verbatim.
ORACLE["ann_planner_indexed"] = ORACLE["ann_ivf_search"]

ORACLE["ann_planner_fallback"] = ORACLE["ann_matryoshka"]


def _binary_oracle_sql() -> str:
    """Value-level replay of search.binary_search: the same MSB-first
    sign-word packing (element off+1 → bit 31 — DuckDB's shift form and
    Spark's acc*2+bit fold are the same integer), Hamming shortlist-50,
    exact rounded-cosine top-5."""

    def word(e: str, off: int) -> str:
        return (
            "CAST(list_sum(list_transform(range(1, 33), i -> "
            f"CASE WHEN {e}[{off} + i] > 0 THEN (1::BIGINT << (32 - i)) "
            "ELSE 0::BIGINT END)) AS BIGINT)"
        )

    return f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qe FROM embeddings
            WHERE vec_id < 3
        ), qb AS (
            SELECT query_id, qe, {word("qe", 0)} AS q0, {word("qe", 32)} AS q1
            FROM q
        ), cb AS (
            SELECT vec_id, label, embedding,
                   {word("embedding", 0)} AS b0, {word("embedding", 32)} AS b1
            FROM embeddings WHERE vec_id >= 3
        ), ham AS (
            SELECT qb.query_id, cb.vec_id, cb.label, cb.embedding, qb.qe,
                   CAST(bit_count(xor(cb.b0, qb.q0))
                        + bit_count(xor(cb.b1, qb.q1)) AS INT) AS hamming
            FROM cb CROSS JOIN qb
        ), short AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY hamming, vec_id) AS crk
            FROM ham
        ), fine AS (
            SELECT query_id, vec_id, label, hamming,
                   {_SQL_COS.format(a="embedding", b="qe")} AS sim
            FROM short WHERE crk <= 50
        )
        SELECT query_id, vec_id, label, hamming, sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rk
        FROM fine
        QUALIFY rk <= 5
    """


ORACLE["ann_binary_search"] = _binary_oracle_sql()


def _srp_bucket_sql(v: str, n_bits: int = 8, dim: int = 64) -> str:
    """DuckDB twin of search._srp_bucket: the SAME md5-derived ±1
    hyperplane literals, regenerated into SQL array constants, so the
    bucket ids match Spark's bit-for-bit (sign parity holds wherever the
    cosine oracles' dot-product parity already holds — same sequential
    fold over identical doubles)."""
    import hashlib

    terms = []
    for bit in range(n_bits):
        signs = ", ".join(
            "1.0" if hashlib.md5(f"srp|{bit}|{j}".encode()).digest()[0] & 1
            else "-1.0"
            for j in range(dim)
        )
        terms.append(
            f"CASE WHEN list_dot_product({v}::DOUBLE[], [{signs}]) >= 0 "
            f"THEN {1 << bit} ELSE 0 END"
        )
    return "(" + "\n         + ".join(terms) + ")"


def _srp_oracle_sql(k: int = 5, n_bits: int = 8) -> str:
    """Exact replay of q_ann_srp: bucket both sides with the literal
    hyperplanes, probe the Hamming-1 ring, cosine re-rank, top-k."""
    masks = [0] + [1 << b for b in range(n_bits)]
    probe_list = ", ".join(f"xor(qbucket, {m})" for m in masks)
    cos = _SQL_COS.format(a="c.embedding", b="p.qe")
    return f"""
        WITH corpus AS (
          SELECT vec_id, label, embedding,
                 {_srp_bucket_sql("embedding")} AS bucket
          FROM embeddings
        ), q AS (
          SELECT vec_id AS query_id, embedding AS qe,
                 {_srp_bucket_sql("embedding")} AS qbucket
          FROM embeddings WHERE vec_id < 3
        ), probes AS (
          SELECT query_id, qe, unnest([{probe_list}]) AS bucket FROM q
        ), cand AS (
          SELECT p.query_id, c.vec_id, c.label, {cos} AS sim
          FROM corpus c JOIN probes p USING (bucket)
        )
        SELECT query_id, vec_id, label, sim, CAST(rk AS INT) AS rk
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, vec_id) AS rk
          FROM cand
        ) WHERE rk <= {k}
    """


ORACLE["ann_srp"] = _srp_oracle_sql()


def _minhash_md5_oracle_sql(
    n_hashes: int = 8, bands: int = 4, threshold: float = 0.3
) -> str:
    """DuckDB replay of dedup.minhash_near_dups_md5 — generated so
    n_hashes/bands stay in one place with the Spark side. min over
    md5(shingle || '|i') hex strings is a lexicographic min of identical
    ASCII in both engines; band keys are plain concatenations of the
    band's minima; candidates come from a band-key self-join (set-equal
    to Spark's within-bucket pair expansion) with the same 2..1000
    bucket-size guard."""
    rpb = n_hashes // bands
    sh3 = _SQL_SHINGLES3.format(ws="ws", t="text")
    mins = ",\n                 ".join(
        f"min(md5(s || '|{i}')) AS m{i}" for i in range(n_hashes)
    )
    band_rows = "\n          UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sigs".format(
            b=b,
            key=" || ".join(f"m{i}" for i in range(b * rpb, (b + 1) * rpb)),
        )
        for b in range(bands)
    )
    return f"""
        WITH d AS (
          SELECT doc_id, text, string_split(lower(text), ' ') AS ws
          FROM documents
        ), shingle_sets AS (
          SELECT doc_id, list_distinct({sh3}) AS ss FROM d
        ), sh AS (
          SELECT doc_id, unnest(ss) AS s FROM shingle_sets
        ), sigs AS (
          SELECT doc_id,
                 {mins}
          FROM sh GROUP BY doc_id
        ), banded AS (
          {band_rows}
        ), buckets AS (
          SELECT band, key FROM banded
          GROUP BY band, key HAVING count(*) BETWEEN 2 AND 1000
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a
          JOIN buckets k ON k.band = a.band AND k.key = a.key
          JOIN banded b ON b.band = a.band AND b.key = a.key
                       AND a.doc_id < b.doc_id
        )
        SELECT * FROM (
          SELECT p.id_a, p.id_b,
                 round(len(list_intersect(sa.ss, sb.ss))
                       / len(list_distinct(list_concat(sa.ss, sb.ss))), 6)
                     AS jaccard
          FROM pairs p
          JOIN shingle_sets sa ON sa.doc_id = p.id_a
          JOIN shingle_sets sb ON sb.doc_id = p.id_b
        ) WHERE jaccard >= {threshold}
    """


ORACLE["dedup_minhash_md5"] = _minhash_md5_oracle_sql()


def _simhash_md5_oracle_sql(bits: int = 60) -> str:
    """DuckDB replay of dedup.simhash_md5_signatures — generated so the
    bit count stays in one place. The left join back to documents mirrors
    explode_outer's empty-doc row (signature 0, n_tokens 0)."""
    sums = ",\n                 ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sig = "\n                + ".join(
        f"CASE WHEN b.s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_distinct(list_filter(
                     string_split(lower(text), ' '), w -> w <> ''))) AS tok
          FROM documents
        ), hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(tok), 18, 15))::BIGINT AS h
          FROM toks
        ), bitsums AS (
          SELECT doc_id,
                 {sums},
                 count(*) AS n_tokens
          FROM hashed GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce({sig}, 0) AS BIGINT) AS simhash_md5,
               CAST(coalesce(b.n_tokens, 0) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN bitsums b USING (doc_id)
    """


ORACLE["doc_simhash_md5"] = _simhash_md5_oracle_sql()

ORACLE["dedup_embedding_srp"] = f"""
    WITH c AS (
      SELECT vec_id, embedding,
             {_srp_bucket_sql("embedding")} AS bucket
      FROM embeddings
    )
    SELECT * FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_AB} AS sim
      FROM c a JOIN c b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    WHERE sim >= 0.3
"""


def _mmr_oracle_sql(k: int = 5, shortlist: int = 10) -> str:
    """Unrolled-CTE DuckDB replay of search.mmr_rerank's greedy rounds.

    Generated, not handwritten, so k/shortlist stay in one place with the
    Spark side; the result is a plain static string in ORACLE. The MMR
    score uses EXACT DECIMAL arithmetic cast to DOUBLE (matching
    mmr_rerank): 0.7·(6-decimal sim) lands on a 7th-decimal half-way tie
    on most rows, where Spark's decimal-string HALF_UP round and
    DuckDB's binary-value round disagree — decimal multiply-subtract has
    no rounding step at all."""
    cos_q = _SQL_COS.format(a="e.embedding", b="q.qe")
    cos_ab = _SQL_COS.format(a="a.embedding", b="b.embedding")
    # `short`/`pair` are AS MATERIALIZED: the unrolled greedy rounds
    # reference them through a k-deep CTE chain, and DuckDB's default
    # inlining re-expands the 64-term cosine expressions per reference —
    # measured 5.4 s → 0.55 s and an unbounded→bounded memory profile at
    # sf0.01 (a plain run OOM'd once under host memory pressure).
    ctes = [
        f"""q AS (SELECT vec_id AS query_id, embedding AS qe
          FROM embeddings WHERE vec_id < 3),
    short AS MATERIALIZED (
      SELECT query_id, vec_id, qsim, embedding FROM (
        SELECT q.query_id, e.vec_id, {cos_q} AS qsim, e.embedding,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos_q} DESC, e.vec_id) AS rk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id >= 3
      ) WHERE rk <= {shortlist}
    ),
    pair AS MATERIALIZED (
      SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id, {cos_ab} AS psim
      FROM short a JOIN short b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ),
    sel1 AS (
      SELECT query_id, vec_id, qsim, 1 AS step,
             CAST(CAST(0.7 AS DECIMAL(10,6))
                  * CAST(qsim AS DECIMAL(18,6)) AS DOUBLE) AS mmr
      FROM short
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY qsim DESC, vec_id) = 1
    ),
    selall1 AS (SELECT * FROM sel1),
    rem1 AS (
      SELECT s.query_id, s.vec_id, s.qsim FROM short s
      ANTI JOIN sel1 p ON p.query_id = s.query_id AND p.vec_id = s.vec_id
    )"""
    ]
    for r in range(2, k + 1):
        score = (
            "CAST(CAST(0.7 AS DECIMAL(10,6)) * CAST(r.qsim AS DECIMAL(18,6)) "
            "- CAST(0.3 AS DECIMAL(10,6)) * CAST(pn.pen AS DECIMAL(18,6)) "
            "AS DOUBLE)"
        )
        ctes.append(
            f"""pen{r} AS (
      SELECT p.query_id, p.a_id, max(p.psim) AS pen
      FROM pair p JOIN selall{r - 1} s
        ON s.query_id = p.query_id AND s.vec_id = p.b_id
      GROUP BY p.query_id, p.a_id
    ),
    sel{r} AS (
      SELECT r.query_id, r.vec_id, r.qsim, {r} AS step, {score} AS mmr
      FROM rem{r - 1} r JOIN pen{r} pn
        ON pn.query_id = r.query_id AND pn.a_id = r.vec_id
      QUALIFY row_number() OVER (PARTITION BY r.query_id
                                 ORDER BY {score} DESC, r.vec_id) = 1
    ),
    selall{r} AS (SELECT * FROM selall{r - 1} UNION ALL SELECT * FROM sel{r}),
    rem{r} AS (
      SELECT s.query_id, s.vec_id, s.qsim FROM rem{r - 1} s
      ANTI JOIN sel{r} p ON p.query_id = s.query_id AND p.vec_id = s.vec_id
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT query_id, vec_id, qsim, step, mmr FROM selall{k}"
    )


ORACLE["rag_mmr"] = _mmr_oracle_sql()


ORACLE["token_histogram"] = """
    WITH t AS (
      SELECT CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                  AS BIGINT) AS n
      FROM documents)
    SELECT CAST((n // 20) * 20 AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(min(n) AS BIGINT) AS min_tokens,
           CAST(max(n) AS BIGINT) AS max_tokens
    FROM t GROUP BY 1
"""

# BM25: literals written as (1.2 + 1.0), 0.25, 0.75 so both engines build
# IDENTICAL double constants (python computes k1+1 before lit(); 2.2 as a
# literal is a DIFFERENT double than 1.2+1.0)
ORACLE["hybrid_search"] = f"""
    -- replay of rag.hybrid_search: the bm25_rank scoring CTEs (no limit)
    -- + rounded cosine vs embeddings vec_id=0, full-join fusion with
    -- per-modality min-max normalization at equal weights
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                  AS BIGINT) AS dl,
             unnest(list_filter(string_split(lower(text), ' '),
                    w -> list_contains(['spark','join','merge','window','vector'], w)))
               AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, dl, term
    ), dfq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), st AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
                  AS BIGINT) AS sum_dl
      FROM documents
    ), sc AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * ((tf * (1.2 + 1.0))
                  / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / sum_dl))), 8)
             AS DECIMAL(18,8)) AS part
      FROM tf JOIN dfq USING (term) CROSS JOIN st
    ), lex AS (
      SELECT doc_id, CAST(round(sum(part), 4) AS DOUBLE) AS bm25
      FROM sc GROUP BY doc_id
    ), qv AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), dense AS (
      SELECT e.vec_id AS doc_id,
             {_SQL_COS.format(a="e.embedding", b="qv.qe")} AS cos_sim
      FROM embeddings e CROSS JOIN qv
    ), joined AS (
      SELECT COALESCE(d.doc_id, l.doc_id) AS doc_id,
             COALESCE(l.bm25, 0.0e0) AS bm25,
             COALESCE(d.cos_sim, 0.0e0) AS cos_sim
      FROM dense d FULL JOIN lex l ON d.doc_id = l.doc_id
    ), stats AS (
      SELECT min(bm25) AS mnb, max(bm25) AS mxb,
             min(cos_sim) AS mnc, max(cos_sim) AS mxc
      FROM joined
    ), fused AS (
      -- exact-decimal convex combination (mirrors rag.hybrid_search):
      -- the average of two 6-dp values hits round-half boundaries that
      -- binary doubles flip inconsistently; DECIMAL half-up matches Spark
      SELECT j.doc_id, j.bm25, j.cos_sim,
             CAST(round(
               CAST(0.5 AS DECIMAL(8,6))
                 * CAST(CASE WHEN s.mxb > s.mnb
                             THEN round((j.bm25 - s.mnb) / (s.mxb - s.mnb), 6)
                             ELSE 0.0e0 END AS DECIMAL(18,6))
               + CAST(0.5 AS DECIMAL(8,6))
                 * CAST(CASE WHEN s.mxc > s.mnc
                             THEN round((j.cos_sim - s.mnc) / (s.mxc - s.mnc), 6)
                             ELSE 0.0e0 END AS DECIMAL(18,6)), 6)
             AS DOUBLE) AS fused
      FROM joined j CROSS JOIN stats s
    )
    SELECT doc_id, bm25, cos_sim, fused,
           CAST(row_number() OVER (ORDER BY fused DESC, doc_id) AS INT) AS rk
    FROM fused
    QUALIFY rk <= 10
"""

ORACLE["bm25_rank"] = """
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                  AS BIGINT) AS dl,
             unnest(list_filter(string_split(lower(text), ' '),
                    w -> list_contains(['spark','join','merge','window','vector'], w)))
               AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, dl, term
    ), dfq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), st AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
                  AS BIGINT) AS sum_dl
      FROM documents
    ), sc AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * ((tf * (1.2 + 1.0))
                  / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / sum_dl))), 8)
             AS DECIMAL(18,8)) AS part
      FROM tf JOIN dfq USING (term) CROSS JOIN st
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(round(sum(part), 4) AS DOUBLE) AS bm25
    FROM sc GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 10
"""

ORACLE["lm_bigram_score"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ), toks AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                    i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM w WHERE len(ws) >= 2
    ), lm AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS ct FROM toks GROUP BY bigram
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS total_bigrams FROM toks)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(l.ct) AS BIGINT) AS sum_ct,
           CAST(sum(l.ct) AS BIGINT)
             / (CAST(count(*) AS BIGINT) * any_value(tot.total_bigrams))
             AS mean_bigram_p
    FROM toks t JOIN lm l USING (bigram) CROSS JOIN tot
    GROUP BY t.doc_id
"""

ORACLE["quality_classifier"] = """
    WITH f AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                  AS BIGINT) AS nw,
             coalesce(round(len(list_filter(
                 list_filter(string_split(lower(text), ' '), x -> x <> ''),
                 x -> list_contains(['the','a','and','of','to','in','is'], x)))
               / nullif(len(list_filter(string_split(lower(text), ' '),
                                        x -> x <> '')), 0), 6), 0.0) AS stop_r,
             coalesce(round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
               / nullif(length(text), 0), 6), 0.0) AS punct_r,
             round(len(list_distinct(list_filter(string_split(lower(text), ' '),
                                                 x -> x <> '')))
               / greatest(len(list_filter(string_split(text, ' '), w -> w <> '')), 1),
               6) AS dist_r
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(-1200000 AS BIGINT)
               + 7500 * least(nw, 200)
               + 2 * CAST(round(stop_r * 1000000) AS BIGINT)
               - 3 * CAST(round(punct_r * 1000000) AS BIGINT)
               + CAST(round(dist_r * 1000000) AS BIGINT) AS logit_micro
      FROM f
    )
    SELECT doc_id,
           logit_micro / 1000000 AS quality_logit,
           logit_micro > 500000 AS keep
    FROM m
"""

ORACLE["chunk_sliding"] = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    u AS (SELECT doc_id, w,
                 unnest(generate_series(1, greatest(len(w) - 16, 1), 16)) AS s
          FROM t)
    SELECT doc_id,
           CAST((s - 1) // 16 AS INTEGER) AS chunk_id,
           array_to_string(w[s : s + 31], ' ') AS chunk_text
    FROM u
"""

ORACLE["events_retention"] = """
    WITH c AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_wk
      FROM events GROUP BY user_id
    ), a AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT CAST(epoch_us(cohort_wk) AS BIGINT) AS cohort_us,
           CAST(floor(date_diff('day', cohort_wk, wk) / 7) AS BIGINT) AS wk_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM a JOIN c USING (user_id)
    GROUP BY 1, 2
"""

ORACLE["anomaly_outliers"] = """
    WITH ev AS (
      SELECT event_id, event_type, round(value, 4) AS v4 FROM events
    ), ranked AS (
      SELECT event_type,
             CAST(round(v4 * 10000) AS BIGINT) AS vu,
             row_number() OVER (PARTITION BY event_type ORDER BY v4, event_id)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM ev
    ), q1 AS (
      SELECT event_type, vu AS q1u FROM ranked WHERE rn = (n + 3) // 4
    ), q3 AS (
      SELECT event_type, vu AS q3u FROM ranked WHERE rn = (3 * n + 3) // 4
    ), fences AS (
      SELECT event_type, 10 * q3u + 15 * (q3u - q1u) AS fence_e5
      FROM q1 JOIN q3 USING (event_type)
    )
    SELECT ev.event_id, ev.event_type, ev.v4,
           fence_e5 / 100000 AS fence_hi
    FROM ev JOIN fences USING (event_type)
    WHERE 10 * CAST(round(v4 * 10000) AS BIGINT) > fence_e5
"""

ORACLE["stream_stream_join"] = """
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS view_ts
      FROM events WHERE event_type = 'view'
    ), c AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    )
    SELECT v.user_id, view_id, click_id,
           CAST(epoch_us(click_ts) - epoch_us(view_ts) AS BIGINT) AS gap_us
    FROM v JOIN c ON v.user_id = c.user_id
    WHERE click_ts >= view_ts
      AND click_ts <= view_ts + INTERVAL 30 MINUTE
"""


ORACLE["join_right"] = """
    SELECT c.c_custkey, o.o_orderkey
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
"""

ORACLE["window_ntile"] = """
    SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS INTEGER)
             AS price_quartile
    FROM orders
"""

ORACLE["perplexity_buckets"] = """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS term
        FROM documents
    ), lm AS (
        SELECT term, count(*) AS ct FROM toks GROUP BY term
    ), tot AS (SELECT count(*) AS total_tokens FROM toks),
    scored AS (
        SELECT t.doc_id,
               CAST(sum(l.ct) AS BIGINT)
                 / (CAST(count(*) AS BIGINT) * any_value(tot.total_tokens))
                 AS mean_token_p
        FROM toks t JOIN lm l USING (term) CROSS JOIN tot
        GROUP BY t.doc_id
    ), ranked AS (
        SELECT s.doc_id, d.lang, s.mean_token_p,
               percent_rank() OVER (PARTITION BY d.lang
                                    ORDER BY s.mean_token_p, s.doc_id) AS pr
        FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, round(pr, 6) AS score_pr,
           CASE WHEN pr < 1.0 / 3.0 THEN 'tail'
                WHEN pr < 2.0 / 3.0 THEN 'middle'
                ELSE 'head' END AS bucket
    FROM ranked
"""


ORACLE["agg_grouping_sets"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
             AS gid,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""

ORACLE["profile_embeddings"] = """
    WITH t AS (
      SELECT round(sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])), 6) AS norm6,
             len(embedding) AS dim,
             CAST(embedding IS NULL AS BIGINT) AS is_null
      FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
           CAST(sum(is_null) AS BIGINT) AS n_null,
           min(norm6) AS min_norm,
           max(norm6) AS max_norm,
           CAST(round(sum(CAST(norm6 AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS sum_norm
    FROM t
"""


ORACLE["events_sessionize"] = """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(is_start) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
           CAST(epoch_us(max(ts)) AS BIGINT) AS end_us
    FROM sess GROUP BY user_id, session_idx
"""

ORACLE["timeseries_gapfill"] = """
    WITH span AS (
      SELECT date_trunc('hour', min(ts)) AS t0,
             date_trunc('hour', max(ts)) AS t1
      FROM events
    ), spine AS (
      SELECT t.event_type, s.hour
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                    AS hour FROM span) s
    ), hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n_obs,
             CAST(round(sum(CAST(round(value, 4) AS DECIMAL(18,4))), 2)
                  AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT spine.event_type,
           CAST(epoch_us(spine.hour) AS BIGINT) AS hour_us,
           coalesce(h.n_obs, 0) AS n,
           last_value(h.sum_value IGNORE NULLS) OVER (
             PARTITION BY spine.event_type ORDER BY spine.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM spine LEFT JOIN hourly h
      ON h.event_type = spine.event_type AND h.hour = spine.hour
"""


ORACLE["merge_upsert"] = """
    WITH cust AS (
      SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer
    ), mods AS (
      SELECT c_custkey, round(bal + 100, 2) AS new_bal
      FROM cust WHERE c_custkey % 7 = 0
    ), ins AS (
      SELECT c_custkey + 1000000 AS c_custkey, 0.0 AS new_bal
      FROM cust WHERE c_custkey % 13 = 0
    ), source AS (
      SELECT * FROM mods UNION ALL SELECT * FROM ins
    )
    SELECT coalesce(c.c_custkey, s.c_custkey) AS c_custkey,
           coalesce(s.new_bal, c.bal) AS bal,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN s.new_bal IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM cust c FULL OUTER JOIN source s USING (c_custkey)
"""

ORACLE["dq_expectations"] = """
    WITH row_rules AS (
      SELECT CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS r_notnull,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS r_unique,
             CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS r_range,
             CAST(sum(CASE WHEN o_orderpriority NOT IN
                   ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                   THEN 1 ELSE 0 END) AS BIGINT) AS r_domain
      FROM orders
    ), fk AS (
      SELECT CAST(count(*) AS BIGINT) AS r_fk
      FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    )
    SELECT rule, n_violations, n_violations = 0 AS passed
    FROM (
      SELECT 'o_custkey_not_null' AS rule, r_notnull AS n_violations
        FROM row_rules
      UNION ALL SELECT 'o_orderkey_unique', r_unique FROM row_rules
      UNION ALL SELECT 'o_totalprice_non_negative', r_range FROM row_rules
      UNION ALL SELECT 'o_orderpriority_in_domain', r_domain FROM row_rules
      UNION ALL SELECT 'o_custkey_fk_customer', r_fk FROM fk
    )
"""


# ---------------------------------------------------------------------------
# round-2 batch: warehouse history, privacy audit, skewed agg, SemDeDup,
# ANN recall measurement, graph PageRank
# ---------------------------------------------------------------------------


ORACLE["scd_type2"] = """
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev,
             row_number() OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS rn
      FROM orders
    ), runs AS (
      SELECT *,
             sum(CASE WHEN rn = 1 OR prev IS DISTINCT FROM o_orderpriority
                      THEN 1 ELSE 0 END) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS run
      FROM seq
    ), grouped AS (
      SELECT o_custkey, run, o_orderpriority,
             min(o_orderdate) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM runs GROUP BY 1, 2, 3
    )
    SELECT o_custkey, o_orderpriority,
           CAST(run AS BIGINT) AS version,
           CAST(epoch_us(valid_from) AS BIGINT) AS valid_from_us,
           CAST(epoch_us(lead(valid_from) OVER (
               PARTITION BY o_custkey ORDER BY run)) AS BIGINT) AS valid_to_us,
           n_rows,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run)
               IS NULL AS is_current
    FROM grouped
"""

ORACLE["k_anonymity"] = """
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
           count(*) >= 5 AS k_anon
    FROM documents GROUP BY lang, source
"""

ORACLE["agg_skew_twophase"] = """
    SELECT lang, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
"""

ORACLE["dedup_semantic"] = f"""
    WITH {_SQL_IVF_CENT_ASSIGN}, owners AS (
        SELECT b.vec_id AS b_id, CAST(min(a.vec_id) AS BIGINT) AS dup_of
        FROM assigned a JOIN assigned b USING (centroid_id)
        WHERE a.vec_id < b.vec_id
          AND {_SQL_COS.format(a="a.embedding", b="b.embedding")} >= 0.3
        GROUP BY b.vec_id
    )
    SELECT s.vec_id, s.centroid_id, o.dup_of, o.dup_of IS NULL AS keep
    FROM assigned s LEFT JOIN owners o ON s.vec_id = o.b_id
"""

ORACLE["ann_recall"] = f"""
    WITH {_SQL_IVF_CENT_ASSIGN}, q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id < 3
    ), probes AS (
        SELECT query_id, qe, centroid_id FROM (
            SELECT q.query_id, q.qe, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_SQL_COS.format(a="q.qe", b="c.centroid")}
                                DESC, c.centroid_id) AS prk
            FROM q CROSS JOIN cent c) WHERE prk <= 2
    ), approx AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, a.vec_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_SQL_COS.format(a="a.embedding", b="p.qe")}
                                DESC, a.vec_id) AS rk
            FROM assigned a JOIN probes p USING (centroid_id)
        ) WHERE rk <= 5
    ), truth AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_SQL_COS.format(a="e.embedding", b="q.qe")}
                                DESC, e.vec_id) AS rk
            FROM embeddings e CROSS JOIN q
        ) WHERE rk <= 5
    ), hits AS (
        SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM truth t JOIN approx x
          ON t.query_id = x.query_id AND t.vec_id = x.vec_id
        GROUP BY t.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 5.0, 6) AS recall
    FROM q LEFT JOIN hits h USING (query_id)
"""

ORACLE["graph_pagerank"] = """
    WITH fwd AS (
        SELECT DISTINCT 's' || l.l_suppkey AS src, 'c' || o.o_custkey AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), edges AS (
        SELECT src, dst FROM fwd
        UNION ALL
        SELECT dst AS src, src AS dst FROM fwd
    ), nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges)
    ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS _n FROM nodes
    ), outdeg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY src
    ), r0 AS (
        SELECT node, CAST(1000000000000 // _n AS BIGINT) AS rank_scaled
        FROM nodes CROSS JOIN nn
    ), m1 AS (
        SELECT e.dst AS node,
               CAST(sum(r.rank_scaled // d.outdeg) AS BIGINT) AS msum
        FROM r0 r JOIN outdeg d ON r.node = d.node
        JOIN edges e ON e.src = r.node
        GROUP BY e.dst
    ), r1 AS (
        SELECT n.node,
               CAST(150000000000 // _n
                    + (85 * coalesce(m.msum, 0)) // 100 AS BIGINT)
                   AS rank_scaled
        FROM nodes n LEFT JOIN m1 m ON n.node = m.node CROSS JOIN nn
    ), m2 AS (
        SELECT e.dst AS node,
               CAST(sum(r.rank_scaled // d.outdeg) AS BIGINT) AS msum
        FROM r1 r JOIN outdeg d ON r.node = d.node
        JOIN edges e ON e.src = r.node
        GROUP BY e.dst
    ), r2 AS (
        SELECT n.node,
               CAST(150000000000 // _n
                    + (85 * coalesce(m.msum, 0)) // 100 AS BIGINT)
                   AS rank_scaled
        FROM nodes n LEFT JOIN m2 m ON n.node = m.node CROSS JOIN nn
    ), m3 AS (
        SELECT e.dst AS node,
               CAST(sum(r.rank_scaled // d.outdeg) AS BIGINT) AS msum
        FROM r2 r JOIN outdeg d ON r.node = d.node
        JOIN edges e ON e.src = r.node
        GROUP BY e.dst
    ), r3 AS (
        SELECT n.node,
               CAST(150000000000 // _n
                    + (85 * coalesce(m.msum, 0)) // 100 AS BIGINT)
                   AS rank_scaled
        FROM nodes n LEFT JOIN m3 m ON n.node = m.node CROSS JOIN nn
    )
    SELECT node, rank_scaled,
           rank_scaled / 1000000000000.0 AS rank
    FROM r3
"""

ORACLE["late_interaction_search"] = f"""
    WITH q AS (
        SELECT vec_id AS q_tok, embedding AS q_vec FROM embeddings
        WHERE vec_id < 3
    ), per_tok AS (
        SELECT e.label, q.q_tok,
               max(CAST({_SQL_COS.format(a="e.embedding", b="q.q_vec")}
                   AS DECIMAL(10,6))) AS m
        FROM embeddings e CROSS JOIN q
        GROUP BY e.label, q.q_tok
    ), scored AS (
        SELECT label, CAST(sum(m) AS DECIMAL(12,6)) AS score_dec
        FROM per_tok GROUP BY label
    )
    SELECT label, CAST(score_dec AS DOUBLE) AS score,
           CAST(row_number() OVER (ORDER BY score_dec DESC, label)
                AS INTEGER) AS rk
    FROM scored
    QUALIFY rk <= 10
"""

ORACLE["ann_index_incremental"] = ORACLE["ann_ivf"]

ORACLE["events_rolling_active"] = """
    WITH day_user AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ), dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM day_user GROUP BY day
    ), wau AS (
      SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM (SELECT DISTINCT day FROM day_user) d
      JOIN day_user u
        ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
      GROUP BY d.day
    )
    SELECT CAST(epoch_us(dau.day) AS BIGINT) AS day_us, dau.dau, wau.wau
    FROM dau JOIN wau ON dau.day = wau.day
"""

ORACLE["table_diff"] = """
    WITH new AS (
      SELECT doc_id,
             md5(coalesce(text, chr(9216)) || chr(31) ||
                 coalesce(lang, chr(9216)) || chr(31) ||
                 coalesce(source, chr(9216)) || chr(31) ||
                 coalesce(CAST(n_chars AS VARCHAR), chr(9216))) AS h
      FROM documents
    ), old_full AS (
      SELECT doc_id, text, lang, source,
             CASE WHEN doc_id % 11 = 5 THEN n_chars + 7 ELSE n_chars END
                 AS n_chars
      FROM documents WHERE doc_id % 17 <> 3
      UNION ALL
      SELECT doc_id + 1000000, text, lang, source, n_chars
      FROM documents WHERE doc_id % 23 = 1
    ), old AS (
      SELECT doc_id,
             md5(coalesce(text, chr(9216)) || chr(31) ||
                 coalesce(lang, chr(9216)) || chr(31) ||
                 coalesce(source, chr(9216)) || chr(31) ||
                 coalesce(CAST(n_chars AS VARCHAR), chr(9216))) AS oh
      FROM old_full
    )
    SELECT coalesce(new.doc_id, old.doc_id) AS doc_id,
           CASE WHEN oh IS NULL THEN 'added'
                WHEN h IS NULL THEN 'removed'
                WHEN h <> oh THEN 'changed'
                ELSE 'same' END AS status
    FROM new FULL OUTER JOIN old ON new.doc_id = old.doc_id
"""


# Oracle SQL for two previously rows-only queries — both were always
# SQL-expressible; value-level checks are strictly stronger.
ORACLE["knn_filtered"] = f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label, {_COS_EB_Q} AS sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
      AND e.vec_id IN (SELECT doc_id FROM documents WHERE source = 'src3')
    ORDER BY sim DESC, e.vec_id LIMIT 5
"""

ORACLE["knn_range_search"] = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id < 3
    )
    SELECT q.query_id, e.vec_id, e.label, {_COS_EB_Q} AS sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id >= 3 AND {_COS_EB_Q} >= 0.3
"""

ORACLE["lang_id_confusion"] = """
    WITH base AS (
      SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t FROM documents
    ), pred AS (
      SELECT lang,
             CASE WHEN contains(t, ' the ') OR contains(t, ' and ') OR contains(t, ' of ') THEN 'en'
                  WHEN contains(t, ' le ') OR contains(t, ' la ') OR contains(t, ' et ') THEN 'fr'
                  WHEN contains(t, ' el ') OR contains(t, ' los ') OR contains(t, ' y ') THEN 'es'
                  WHEN contains(t, ' der ') OR contains(t, ' und ') OR contains(t, ' die ') THEN 'de'
                  WHEN contains(t, '的') OR contains(t, '是') OR contains(t, '了') THEN 'zh'
                  ELSE 'und' END AS lang_pred
      FROM base
    ), cm AS (
      SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, lang_pred
    )
    SELECT lang, lang_pred, n,
           CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_true,
           lang = lang_pred AS hit
    FROM cm
"""

ORACLE["curriculum_order"] = """
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                AS BIGINT) AS global_rank
    FROM (SELECT doc_id, (n_chars % 1000) / 1000.0 AS score
          FROM documents)
"""

ORACLE["dedup_threshold_sweep"] = f"""
    WITH pairs AS (
      SELECT {_COS_AB} AS sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    ), per_bucket AS (
      SELECT CAST(floor(sim * 10) AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1
    )
    SELECT decile, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY decile DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_at_or_above
    FROM per_bucket
"""

ORACLE["doc_winnow"] = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id, greatest(len(w) - 2, 0) AS s_cnt,
             CASE WHEN len(w) >= 3 THEN
               list_transform(range(1, len(w) - 2 + 1),
                 i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
             ELSE [] END AS h
      FROM base
    ), fp AS (
      SELECT doc_id, s_cnt,
             CASE WHEN s_cnt >= 4 THEN
               list_distinct(list_transform(range(1, s_cnt - 3 + 1),
                 i -> list_aggregate(h[i:i+3], 'min')))
             WHEN s_cnt >= 1 THEN
               list_distinct([list_aggregate(h, 'min')])
             ELSE [] END AS fps
      FROM sh
    )
    SELECT doc_id, CAST(s_cnt AS BIGINT) AS n_shingles,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           CASE WHEN len(fps) > 0 THEN list_aggregate(fps, 'min') END
               AS min_fp
    FROM fp
"""

ORACLE["dedup_winnow"] = """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id, greatest(len(w) - 2, 0) AS s_cnt,
             CASE WHEN len(w) >= 3 THEN
               list_transform(range(1, len(w) - 2 + 1),
                 i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
             ELSE [] END AS h
      FROM base
    ), fps AS (
      SELECT doc_id,
             CASE WHEN s_cnt >= 4 THEN
               list_distinct(list_transform(range(1, s_cnt - 3 + 1),
                 i -> list_aggregate(h[i:i+3], 'min')))
             WHEN s_cnt >= 1 THEN
               list_distinct([list_aggregate(h, 'min')])
             ELSE [] END AS fp_arr
      FROM sh
    ), doc_fp AS (
      SELECT doc_id, unnest(fp_arr) AS fp FROM fps
    ), rare AS (
      SELECT fp FROM doc_fp GROUP BY fp HAVING count(*) <= 50
    ), kept AS (
      SELECT doc_fp.doc_id, doc_fp.fp FROM doc_fp JOIN rare USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
"""

ORACLE["dsir_select"] = """
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS term
        FROM documents
    ), lm AS (
        SELECT term, count(*) AS ct_c,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct_t
        FROM toks GROUP BY term
    ), tot AS (
        SELECT count(*) AS t_c,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_t
        FROM toks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(l.ct_t) AS BIGINT) AS target_mass,
           CAST(sum(l.ct_c) AS BIGINT) AS corpus_mass,
           CASE WHEN any_value(tot.t_t) > 0 THEN
             round((CAST(sum(l.ct_t) AS BIGINT)
                      / CAST(sum(l.ct_c) AS BIGINT))
                   * (any_value(tot.t_c) / any_value(tot.t_t)), 6)
           END AS dsir_score,
           CASE WHEN any_value(tot.t_t) > 0 THEN
             (CAST(sum(l.ct_t) AS BIGINT) / CAST(sum(l.ct_c) AS BIGINT))
               * (any_value(tot.t_c) / any_value(tot.t_t)) >= 1.0
           ELSE FALSE END AS selected
    FROM toks t JOIN lm l USING (term) CROSS JOIN tot
    GROUP BY doc_id
"""

ORACLE["vocab_profile"] = """
    WITH toks AS (
        SELECT lang,
               unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS term
        FROM documents
    ), counts AS (
        SELECT lang, term, count(*) AS ct FROM toks GROUP BY lang, term
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(ct) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax_count,
           CAST(max(ct) AS BIGINT) AS top1_count,
           round(CAST(sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(count(*) AS BIGINT), 6) AS hapax_share,
           round(CAST(max(ct) AS BIGINT) / CAST(sum(ct) AS BIGINT), 6)
               AS top1_share,
           round(CAST(count(*) AS BIGINT) / CAST(sum(ct) AS BIGINT), 6)
               AS type_token_ratio
    FROM counts GROUP BY lang
"""

ORACLE["l_diversity"] = """
    SELECT event_type,
           CAST(floor(value / 100) AS BIGINT) AS value_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS l_distinct,
           count(DISTINCT user_id) >= 3 AS l_diverse
    FROM events
    GROUP BY event_type, CAST(floor(value / 100) AS BIGINT)
"""


def _unigram_replace_chain_sql(col: str) -> str:
    """DuckDB replay of `unigram.match_fold_expr` over PINNED_PIECES:
    sequential left-to-right non-overlapping `replace` per multi-char
    piece in (length DESC, piece ASC) priority — identical semantics to
    Spark's F.replace fold because both consume matches left-to-right
    and resume after the replacement, and the chr(1) marker can never
    be part of a later piece (pieces are corpus text; asserted marker-
    free in tests/test_unigram.py)."""
    expr = col
    for p in unigram.encode_order(unigram.PINNED_PIECES):
        pe = p.replace("'", "''")
        expr = f"replace({expr}, '{pe}', chr(1))"
    return expr


ORACLE["unigram_encode"] = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS w
        FROM documents
    ), enc AS (
        SELECT w, {_unigram_replace_chain_sql("w")} AS s
        FROM (SELECT DISTINCT w FROM toks)
    ), vt AS (
        SELECT w, CAST(len(w) AS BIGINT) AS w_chars,
               CAST(len(s) AS BIGINT) AS w_tokens
        FROM enc
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(v.w_chars) AS BIGINT) AS n_chars,
           CAST(sum(v.w_tokens) AS BIGINT) AS n_unigram_tokens,
           round(CAST(sum(v.w_chars) AS BIGINT)
                 / CAST(sum(v.w_tokens) AS BIGINT), 6) AS chars_per_token
    FROM toks t JOIN vt v USING (w)
    GROUP BY t.doc_id
"""

ORACLE["ngram_containment"] = f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS s
        FROM (SELECT doc_id, text,
                     string_split(lower(text), ' ') AS ws
              FROM documents)
    ), pairs AS (
        SELECT doc_id AS id_a, doc_id + 125 AS id_b FROM documents
    )
    SELECT p.id_a, p.id_b,
           CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter_size,
           CAST(len(sa.s) AS BIGINT) AS size_a,
           CAST(len(sb.s) AS BIGINT) AS size_b,
           round(len(list_intersect(sa.s, sb.s)) / len(sa.s), 6)
               AS containment_a,
           round(len(list_intersect(sa.s, sb.s)) / len(sb.s), 6)
               AS containment_b
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.id_a
    JOIN sh sb ON sb.doc_id = p.id_b
"""

# Value-level oracles for the REAL decode paths (converted from
# rows-only, r5): the payloads are pure functions of doc_id, so the
# 200-row result tables are pinned literals replayed in DuckDB and
# membership-joined against the corpus — see oracles/media_literals.py
# for the regeneration recipe.
ORACLE["image_features_png"] = IMAGE_FEATURES_PNG_SQL

ORACLE["audio_features_wav"] = AUDIO_FEATURES_WAV_SQL

ORACLE["events_pivot"] = """
    SELECT user_id % 10 AS user_decile,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error
    FROM events GROUP BY user_id % 10
"""

ORACLE["events_props_json"] = """
    WITH kx AS (
        SELECT event_type,
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n,
           CAST(min(k) AS BIGINT) AS k_min,
           CAST(max(k) AS BIGINT) AS k_max,
           CAST(sum(k) AS BIGINT) AS k_sum,
           round(CAST(sum(k) AS BIGINT) / CAST(count(k) AS BIGINT), 6)
               AS k_avg
    FROM kx GROUP BY event_type
"""

ORACLE["market_basket"] = """
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders FROM orders
    ), bn AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS n_brand
        FROM ob GROUP BY brand
    ), pairs AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        GROUP BY a.brand, b.brand
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           na.n_brand AS n_a, nb.n_brand AS n_b, tot.n_orders,
           round(p.n_ab / tot.n_orders, 6) AS support,
           round((p.n_ab * tot.n_orders) / (na.n_brand * nb.n_brand), 6)
               AS lift
    FROM pairs p
    JOIN bn na ON p.brand_a = na.brand
    JOIN bn nb ON p.brand_b = nb.brand
    CROSS JOIN tot
    WHERE p.n_ab >= 3
"""

ORACLE["customer_rfm"] = """
    SELECT o_custkey,
           strftime(max(o_orderdate), '%Y-%m-%d') AS last_order,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary,
           CAST(CASE WHEN count(*) >= 20 THEN 3
                     WHEN count(*) >= 10 THEN 2 ELSE 1 END AS INTEGER)
               AS f_score,
           CAST(CASE WHEN sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          >= 2000000 THEN 3
                     WHEN sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          >= 1000000 THEN 2 ELSE 1 END AS INTEGER)
               AS m_score
    FROM orders GROUP BY o_custkey
"""

_SQL_HALF_CENTROID = """
        SELECT label,
               list(round(CAST(sum_dec AS DOUBLE) / n, 6)
                    ORDER BY pos) AS centroid,
               CAST(max(n) AS BIGINT) AS n_vecs
        FROM (
          SELECT label, pos,
                 sum(CAST(val AS DECIMAL(38,20))) AS sum_dec,
                 count(*) AS n
          FROM (
            SELECT e.label,
                   unnest(e.embedding::DOUBLE[]) AS val,
                   unnest(range(len(e.embedding))) AS pos
            FROM embeddings e WHERE e.vec_id % 2 = {parity}
          )
          GROUP BY label, pos
        )
        GROUP BY label
"""

ORACLE["embedding_drift"] = f"""
    WITH ca AS ({_SQL_HALF_CENTROID.format(parity=0)}),
         cb AS ({_SQL_HALF_CENTROID.format(parity=1)})
    SELECT ca.label, ca.n_vecs AS n_a, cb.n_vecs AS n_b,
           {_SQL_COS.format(a="ca.centroid", b="cb.centroid")}
               AS centroid_cos,
           {_SQL_COS.format(a="ca.centroid", b="cb.centroid")} < 0.8
               AS drifted
    FROM ca JOIN cb USING (label)
"""

ORACLE["region_trade_balance"] = """
    SELECT sr.r_name AS supp_region, cr.r_name AS cust_region,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
               AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    GROUP BY sr.r_name, cr.r_name
"""

_KNN_JOIN_MASKS = ", ".join(
    f"xor(qbucket, {m})" for m in [0] + [1 << b for b in range(8)]
)

ORACLE["knn_join"] = f"""
    WITH indexed AS MATERIALIZED (
        SELECT vec_id, embedding,
               {_srp_bucket_sql("embedding")} AS bucket
        FROM embeddings
    ), src AS (
        SELECT vec_id AS src_id, embedding AS src_vec,
               unnest([{_KNN_JOIN_MASKS}]) AS bucket
        FROM (SELECT vec_id, embedding, bucket AS qbucket FROM indexed)
    ), cand AS (
        SELECT s.src_id, n.vec_id AS nbr_id,
               {_SQL_COS.format(a="s.src_vec", b="n.embedding")} AS sim
        FROM src s JOIN indexed n USING (bucket)
        WHERE s.src_id <> n.vec_id
    )
    SELECT src_id, nbr_id, sim, CAST(rk AS INT) AS rk
    FROM (
        SELECT src_id, nbr_id, sim,
               row_number() OVER (PARTITION BY src_id
                                  ORDER BY sim DESC, nbr_id) AS rk
        FROM cand
    ) WHERE rk <= 3
"""

ORACLE["supplier_lead_time"] = """
    SELECT l.l_suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)))
                AS BIGINT) AS sum_lead_days,
           CAST(sum(CASE WHEN date_diff('day',
                                        CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE)) > 30
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
           round(CAST(sum(date_diff('day', CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE)))
                      AS BIGINT) / CAST(count(*) AS BIGINT), 6)
               AS avg_lead_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_suppkey
"""

ORACLE["events_stickiness"] = """
    WITH daily AS (
        SELECT epoch_us(date_trunc('day', ts)) AS day_us,
               epoch_us(date_trunc('month', ts)) AS month_us,
               CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1, 2
    ), monthly AS (
        SELECT epoch_us(date_trunc('month', ts)) AS month_us,
               CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM events GROUP BY 1
    )
    SELECT d.day_us, d.month_us, d.dau, m.mau,
           round(d.dau / m.mau, 6) AS stickiness
    FROM daily d JOIN monthly m USING (month_us)
"""

ORACLE["events_wow_growth"] = """
    WITH weekly AS (
        SELECT event_type,
               epoch_us(date_trunc('week', ts)) AS week_us,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, week_us, n,
           CAST(lag(n) OVER (PARTITION BY event_type ORDER BY week_us)
                AS BIGINT) AS prev_n,
           round(n / lag(n) OVER (PARTITION BY event_type
                                  ORDER BY week_us), 6) AS wow_ratio
    FROM weekly
"""

ORACLE["decontaminate_semantic"] = f"""
    WITH cb AS (
        SELECT vec_id, embedding,
               {_srp_bucket_sql("embedding")} AS bucket
        FROM embeddings WHERE vec_id % 97 <> 0
    ), bb AS (
        SELECT vec_id AS b_id, embedding AS b_emb,
               {_srp_bucket_sql("embedding")} AS bucket
        FROM embeddings WHERE vec_id % 97 = 0
    ), hits AS (
        SELECT c.vec_id,
               CAST(count(*) AS BIGINT) AS n_bench_matches,
               CAST(min(b.b_id) AS BIGINT) AS first_match
        FROM cb c JOIN bb b USING (bucket)
        WHERE {_SQL_COS.format(a="c.embedding", b="b.b_emb")} >= 0.3
        GROUP BY c.vec_id
    )
    SELECT e.vec_id,
           coalesce(h.n_bench_matches, 0) AS n_bench_matches,
           h.first_match,
           h.n_bench_matches IS NOT NULL AS contaminated
    FROM (SELECT vec_id FROM embeddings WHERE vec_id % 97 <> 0) e
    LEFT JOIN hits h USING (vec_id)
"""

ORACLE["graph_triangles"] = """
    -- AS MATERIALIZED throughout: e is referenced 3x (e1/e2/closing
    -- join) and default inlining re-expands the 4-way pairs join per
    -- reference (>7 min at sf0.1; <2 s materialized) - same pathology
    -- and fix as rag_mmr/dedup_clusters (PERF.md).
    WITH pairs AS MATERIALIZED (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    ), und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM pairs WHERE src <> dst
    ), deg AS MATERIALIZED (
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM und
            UNION ALL
            SELECT v AS node FROM und
        ) GROUP BY node
    ), e AS MATERIALIZED (
        -- orientation by LEXICOGRAPHIC (deg, node) — matches the Spark
        -- struct key; a scalar deg*C+node fold collides for node >= C
        -- and silently drops triangles (review finding, test-pinned)
        SELECT CASE WHEN (ku.deg < kv.deg)
                      OR (ku.deg = kv.deg AND und.u < und.v)
                    THEN und.u ELSE und.v END AS a,
               CASE WHEN (ku.deg < kv.deg)
                      OR (ku.deg = kv.deg AND und.u < und.v)
                    THEN und.v ELSE und.u END AS b,
               CASE WHEN (ku.deg < kv.deg)
                      OR (ku.deg = kv.deg AND und.u < und.v)
                    THEN kv.deg ELSE ku.deg END AS kb_deg
        FROM und
        JOIN deg ku ON und.u = ku.node
        JOIN deg kv ON und.v = kv.node
    ), wedges AS MATERIALIZED (
        SELECT e1.a, e1.b AS x, e2.b AS y
        FROM e e1 JOIN e e2 ON e1.a = e2.a
        WHERE (e1.kb_deg < e2.kb_deg)
           OR (e1.kb_deg = e2.kb_deg AND e1.b < e2.b)
    ), tris AS MATERIALIZED (
        SELECT w.a, w.x, w.y
        FROM wedges w JOIN e ON e.a = w.x AND e.b = w.y
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT x AS node FROM tris
        UNION ALL SELECT y AS node FROM tris
    ) GROUP BY node
"""

ORACLE["events_markov"] = """
    WITH seq AS (
        SELECT user_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type,
               event_type AS to_type
        FROM events
    ), trans AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY from_type, to_type
    ), totals AS (
        SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
        FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n, tt.row_total,
           round(t.n / tt.row_total, 6) AS p
    FROM trans t JOIN totals tt USING (from_type)
"""

ORACLE["embedding_outliers"] = f"""
    WITH expl AS (
        SELECT e.label,
               unnest(e.embedding::DOUBLE[]) AS val,
               unnest(range(len(e.embedding))) AS pos
        FROM embeddings e
    ), sums AS (
        SELECT label, pos,
               sum(CAST(val AS DECIMAL(38,20))) AS sum_dec,
               count(*) AS n
        FROM expl GROUP BY label, pos
    ), cent AS (
        SELECT label,
               list(round(CAST(sum_dec AS DOUBLE) / n, 6)
                    ORDER BY pos) AS centroid
        FROM sums GROUP BY label
    )
    SELECT e.vec_id, e.label,
           {_SQL_COS.format(a="e.embedding", b="c.centroid")}
               AS centroid_sim,
           {_SQL_COS.format(a="e.embedding", b="c.centroid")} < 0.05
               AS outlier
    FROM embeddings e JOIN cent c USING (label)
"""


ORACLE["bpe_pair_counts"] = """
    WITH ws AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS w
        FROM documents
    ), wc AS (
        SELECT w, count(*) AS ct FROM ws GROUP BY w
    ), cs AS (
        SELECT string_split(w, '') AS c, ct FROM wc WHERE len(w) >= 2
    ), ex AS (
        SELECT c[CAST(i AS INTEGER) + 1] AS left_sym,
               c[CAST(i AS INTEGER) + 2] AS right_sym, ct
        FROM cs, unnest(range(0, len(c) - 1)) AS t(i)
    )
    SELECT left_sym, right_sym, CAST(sum(ct) AS BIGINT) AS pair_count
    FROM ex GROUP BY left_sym, right_sym
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT 20
"""


def _bpe_replace_chain_sql(col: str) -> str:
    """DuckDB replay of `tokenize.apply_merges_expr` over the PINNED
    merge table (the dedup_embedding_srp trick: deterministic learned
    data regenerated into SQL literals). Each word is first wrapped one
    symbol per \\x1f<sym>\\x1e cell; each merge (l, r) -> l+r is then one
    left-to-right non-overlapping `replace`, which is exactly the greedy
    leftmost-first merge scan for a single pair (both consume the fused
    token and resume AFTER it, and the merged cell \\x1f<lr>\\x1e can
    never re-match the same pattern mid-token because the separators
    bound whole symbols). Token count afterwards = number of \\x1f
    cells. Fixture text is printable ASCII (no \\x1e/\\x1f collisions,
    asserted in tests/test_bpe.py); (?s) keeps the per-char wrap total
    even if a newline ever enters a word."""
    expr = f"regexp_replace({col}, '(?s)(.)', '\x1f\\1\x1e', 'g')"
    for m in tokenize.PINNED_MERGES:
        pat = "\x1f" + m["left_sym"] + "\x1e\x1f" + m["right_sym"] + "\x1e"
        rep = "\x1f" + m["merged"] + "\x1e"
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return expr


#: Shared CTE prefix: per-doc fertility of the pinned tokenizer —
#: distinct words encoded once (vocab-sized), token stream joins back.
_BPE_FERTILITY_CTES = f"""
    toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS w
        FROM documents
    ), enc AS (
        SELECT w, {_bpe_replace_chain_sql("w")} AS s
        FROM (SELECT DISTINCT w FROM toks)
    ), vt AS (
        SELECT w, CAST(len(w) AS BIGINT) AS w_chars,
               CAST(len(s) - len(replace(s, '\x1f', '')) AS BIGINT)
                   AS w_tokens
        FROM enc
    )
"""

ORACLE["bpe_encode"] = f"""
    WITH {_BPE_FERTILITY_CTES}
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(v.w_chars) AS BIGINT) AS n_chars,
           CAST(sum(v.w_tokens) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(v.w_chars) AS BIGINT)
                 / CAST(sum(v.w_tokens) AS BIGINT), 6) AS chars_per_token
    FROM toks t JOIN vt v USING (w)
    GROUP BY t.doc_id
"""

ORACLE["pack_sequences_bpe"] = f"""
    WITH {_BPE_FERTILITY_CTES},
    t AS (
        SELECT t.doc_id,
               CAST(sum(v.w_tokens) AS BIGINT) + 1 AS n_tok
        FROM toks t JOIN vt v USING (w)
        GROUP BY t.doc_id
    ), placed AS (
        SELECT doc_id, n_tok,
               CAST(sum(n_tok) OVER (ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS tok_end
        FROM t
    ), spans AS (
        SELECT doc_id, n_tok, tok_end, tok_end - n_tok AS tok_start
        FROM placed
    ), exploded AS (
        SELECT doc_id, tok_start, tok_end,
               unnest(range(tok_start // 128,
                            (tok_end - 1) // 128 + 1)) AS seq_id
        FROM spans
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(greatest(tok_start - seq_id * 128, 0) AS BIGINT)
               AS pos_in_seq,
           CAST(greatest(seq_id * 128 - tok_start, 0) AS BIGINT)
               AS doc_tok_offset,
           CAST(least(tok_end, seq_id * 128 + 128)
                - greatest(tok_start, seq_id * 128) AS BIGINT)
               AS n_tok_in_seq
    FROM exploded
"""


ORACLE["rrf_fusion"] = f"""
    WITH q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    q1 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
    top_a AS (
        SELECT e.vec_id, {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
        FROM embeddings e, q0 q WHERE e.vec_id >= 2
        ORDER BY sim DESC, e.vec_id LIMIT 10
    ), top_b AS (
        SELECT e.vec_id, {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
        FROM embeddings e, q1 q WHERE e.vec_id >= 2
        ORDER BY sim DESC, e.vec_id LIMIT 10
    ), ranked AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
        FROM top_a
        UNION ALL
        SELECT vec_id,
               row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
        FROM top_b
    )
    SELECT vec_id, round(sum(1.0 / (60 + rnk)), 6) AS rrf,
           CAST(count(*) AS BIGINT) AS n_lists
    FROM ranked GROUP BY vec_id
"""

ORACLE["ann_probe_sweep"] = f"""
    WITH {_SQL_IVF_CENT_ASSIGN}, q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id < 3
    ), sweep AS (
        SELECT * FROM (VALUES (1), (2), (4), (8)) AS s(n_probe)
    ), ranked AS (
        SELECT q.query_id, q.qe, c.centroid_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_SQL_COS.format(a="q.qe", b="c.centroid")}
                            DESC, c.centroid_id) AS prk
        FROM q CROSS JOIN cent c
    ), probes AS (
        SELECT s.n_probe, r.query_id, r.qe, r.centroid_id
        FROM ranked r CROSS JOIN sweep s WHERE r.prk <= s.n_probe
    ), approx AS (
        SELECT n_probe, query_id, vec_id FROM (
            SELECT p.n_probe, p.query_id, a.vec_id,
                   row_number() OVER (
                       PARTITION BY p.n_probe, p.query_id
                       ORDER BY {_SQL_COS.format(a="a.embedding", b="p.qe")}
                                DESC, a.vec_id) AS rk
            FROM assigned a JOIN probes p USING (centroid_id)
        ) WHERE rk <= 5
    ), truth AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_SQL_COS.format(a="e.embedding", b="q.qe")}
                                DESC, e.vec_id) AS rk
            FROM embeddings e CROSS JOIN q
        ) WHERE rk <= 5
    ), hits AS (
        SELECT x.n_probe, CAST(count(*) AS BIGINT) AS n_hits
        FROM approx x JOIN truth t
          ON x.query_id = t.query_id AND x.vec_id = t.vec_id
        GROUP BY 1
    ), sizes AS (
        SELECT centroid_id, count(*) AS cell_rows FROM assigned GROUP BY 1
    ), probed AS (
        SELECT p.n_probe, CAST(sum(z.cell_rows) AS BIGINT) AS probed_rows
        FROM probes p JOIN sizes z USING (centroid_id) GROUP BY 1
    ), tot AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM assigned) AS n_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_queries
    )
    SELECT s.n_probe,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(COALESCE(h.n_hits, 0) / (t.n_queries * 5.0), 6) AS recall,
           CAST(COALESCE(p.probed_rows, 0) AS BIGINT) AS probed_rows,
           round(COALESCE(p.probed_rows, 0)
                 / (CAST(t.n_queries AS DOUBLE) * t.n_rows), 6) AS probed_frac
    FROM sweep s
    LEFT JOIN hits h USING (n_probe)
    LEFT JOIN probed p USING (n_probe)
    CROSS JOIN tot t
"""

ORACLE["dedup_similarity_join_sampled"] = f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS s
        FROM (SELECT doc_id, text,
                     string_split(lower(text), ' ') AS ws
              FROM documents WHERE doc_id % 5 = 0)
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.s, b.s))
                     / len(list_distinct(list_concat(a.s, b.s))), 6)
                   AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
"""

ORACLE["dedup_clusters_sampled"] = f"""
    WITH RECURSIVE sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS s
        FROM (SELECT doc_id, text,
                     string_split(lower(text), ' ') AS ws
              FROM documents WHERE doc_id % 5 = 0)
    ), edges AS MATERIALIZED (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s))
                         / len(list_distinct(list_concat(a.s, b.s))), 6)
                       AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.5
    ), sym AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL
        SELECT id_b, id_a FROM edges
    ), reach AS (
        SELECT DISTINCT src AS a, src AS b FROM sym
        UNION
        SELECT r.a, s.dst AS b FROM reach r JOIN sym s ON s.src = r.b
    )
    SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a
"""


def _lsh_sweep_oracle_sql(
    n_hashes: int = 8,
    band_configs: tuple = (1, 2, 4, 8),
    threshold: float = 0.9,
) -> str:
    """DuckDB replay of dedup.lsh_band_sweep. Same md5 signature family as
    _minhash_md5_oracle_sql; truth uses the COUNTING form of shingle-set
    Jaccard (|A∩B| from the inverted-index self-join, |A∪B| = nA+nB-|A∩B|)
    — set-equal to array_intersect/union on distinct shingles, and
    near-linear instead of quadratic, so this oracle stays tractable at
    sf0.1 (no sweep exclusions)."""
    sh3 = _SQL_SHINGLES3.format(ws="ws", t="text")
    mins = ",\n                 ".join(
        f"min(md5(s || '|{i}')) AS m{i}" for i in range(n_hashes)
    )
    band_rows = "\n          UNION ALL ".join(
        "SELECT doc_id, {cfg} AS cfg, {b} AS band, {key} AS key FROM sigs".format(
            cfg=bands,
            b=b,
            key=" || ".join(
                f"m{i}"
                for i in range(
                    b * (n_hashes // bands), (b + 1) * (n_hashes // bands)
                )
            ),
        )
        for bands in band_configs
        for b in range(bands)
    )
    cfg_values = ", ".join(f"({int(b)})" for b in sorted(band_configs))
    return f"""
        WITH d AS (
          SELECT doc_id, text, string_split(lower(text), ' ') AS ws
          FROM documents
        ), shingle_sets AS (
          SELECT doc_id, list_distinct({sh3}) AS ss FROM d
        ), sh AS (
          SELECT doc_id, unnest(ss) AS s FROM shingle_sets
        ), sizes AS (
          SELECT doc_id, len(ss) AS n FROM shingle_sets
        ), sigs AS (
          SELECT doc_id,
                 {mins}
          FROM sh GROUP BY doc_id
        ), banded AS (
          {band_rows}
        ), buckets AS (
          SELECT cfg, band, key FROM banded
          GROUP BY cfg, band, key HAVING count(*) BETWEEN 2 AND 1000
        ), cand AS (
          SELECT DISTINCT a.cfg AS bands, a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a
          JOIN buckets k ON k.cfg = a.cfg AND k.band = a.band AND k.key = a.key
          JOIN banded b ON b.cfg = a.cfg AND b.band = a.band AND b.key = a.key
                       AND a.doc_id < b.doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), truth AS (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.id_a
          JOIN sizes sb ON sb.doc_id = i.id_b
          WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= {threshold}
        ), ver AS (
          SELECT c.bands, c.id_a, c.id_b
          FROM cand c JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b
        ), ncand AS (
          SELECT bands, CAST(count(*) AS BIGINT) AS n_candidates
          FROM cand GROUP BY 1
        ), nver AS (
          SELECT bands, CAST(count(*) AS BIGINT) AS n_verified
          FROM ver GROUP BY 1
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth
        )
        SELECT c.bands,
               CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
               CAST(COALESCE(nv.n_verified, 0) AS BIGINT) AS n_verified,
               t.n_truth,
               round(CASE WHEN COALESCE(nc.n_candidates, 0) > 0
                          THEN COALESCE(nv.n_verified, 0)
                               / CAST(nc.n_candidates AS DOUBLE)
                          ELSE 1.0e0 END, 6) AS cand_precision,
               round(CASE WHEN t.n_truth > 0
                          THEN COALESCE(nv.n_verified, 0)
                               / CAST(t.n_truth AS DOUBLE)
                          ELSE 1.0e0 END, 6) AS recall
        FROM (SELECT * FROM (VALUES {cfg_values}) AS v(bands)) c
        LEFT JOIN ncand nc ON nc.bands = c.bands
        LEFT JOIN nver nv ON nv.bands = c.bands
        CROSS JOIN tot t
    """


ORACLE["dedup_lsh_sweep"] = _lsh_sweep_oracle_sql()

ORACLE["contamination_report"] = f"""
    WITH corpus AS (
      SELECT doc_id, text, string_split(lower(text), ' ') AS ws
      FROM documents WHERE doc_id % 97 <> 0
    ), bench_d AS (
      SELECT doc_id, text, string_split(lower(text), ' ') AS ws
      FROM documents WHERE doc_id % 97 = 0
    ), bench AS (
      SELECT DISTINCT unnest(
          list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")})
      ) AS ngram FROM bench_d
    ), docs_g AS (
      SELECT doc_id,
             list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS g
      FROM corpus
    ), tot AS (
      SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams FROM docs_g
    ), hits AS (
      SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM (SELECT doc_id, unnest(g) AS ngram FROM docs_g) e
      JOIN bench b USING (ngram)
      GROUP BY 1
    )
    SELECT doc_id, n_grams, n_hits, overlap_frac,
           CASE WHEN overlap_frac >= 0.5 THEN 'high'
                WHEN overlap_frac >= 0.1 THEN 'medium'
                WHEN overlap_frac > 0 THEN 'low'
                ELSE 'clean' END AS severity
    FROM (
      SELECT t.doc_id, t.n_grams,
             CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
             round(COALESCE(h.n_hits, 0)
                   / CAST(greatest(t.n_grams, 1) AS DOUBLE), 6)
                 AS overlap_frac
      FROM tot t LEFT JOIN hits h ON h.doc_id = t.doc_id
    )
"""

ORACLE["mixture_plan"] = """
    WITH wanted AS (
      SELECT * FROM (VALUES ('de'), ('en'), ('es'), ('fr'), ('ja'), ('zh'))
          AS w(lang)
    ), raw AS (
      SELECT lang,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                       w -> w <> ''))) AS BIGINT)
                 AS avail_tokens
      FROM documents GROUP BY lang
    ), avail AS (
      SELECT COALESCE(r.lang, w.lang) AS lang,
             CAST(COALESCE(r.avail_tokens, 0) AS BIGINT) AS avail_tokens
      FROM raw r FULL JOIN wanted w ON w.lang = r.lang
    ), tgt AS (
      SELECT lang, avail_tokens,
             CAST(CASE lang
                  WHEN 'en' THEN 45000 WHEN 'de' THEN 10000
                  WHEN 'es' THEN 15000 WHEN 'fr' THEN 10000
                  WHEN 'zh' THEN 15000 WHEN 'ja' THEN 5000
                  ELSE 0 END AS BIGINT)
                 AS target_tokens
      FROM avail
    )
    SELECT lang, avail_tokens, target_tokens,
           round(CASE WHEN avail_tokens > 0
                      THEN least(1.0e0, target_tokens
                                 / CAST(avail_tokens AS DOUBLE))
                      ELSE 0.0e0 END, 6) AS sample_rate,
           least(avail_tokens, target_tokens) AS planned_tokens,
           CAST(avail_tokens < target_tokens AS INT) AS deficit
    FROM tgt
"""


def _dedup_prune_oracle_sql(
    n_hashes: int = 8, bands: int = 4, threshold: float = 0.9
) -> str:
    """DuckDB replay of q_dedup_prune: the md5 LSH band pipeline (same
    family as _minhash_md5_oracle_sql), counting-form exact-Jaccard
    verify (near-linear — sweeps clean at sf0.1), recursive reachability
    for connected components, min-reachable-id prune."""
    rpb = n_hashes // bands
    sh3 = _SQL_SHINGLES3.format(ws="ws", t="text")
    mins = ",\n                 ".join(
        f"min(md5(s || '|{i}')) AS m{i}" for i in range(n_hashes)
    )
    band_rows = "\n          UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sigs".format(
            b=b,
            key=" || ".join(f"m{i}" for i in range(b * rpb, (b + 1) * rpb)),
        )
        for b in range(bands)
    )
    return f"""
        WITH RECURSIVE d AS (
          SELECT doc_id, text, string_split(lower(text), ' ') AS ws
          FROM documents
        ), shingle_sets AS (
          SELECT doc_id, list_distinct({sh3}) AS ss FROM d
        ), sh AS (
          SELECT doc_id, unnest(ss) AS s FROM shingle_sets
        ), sizes AS (
          SELECT doc_id, len(ss) AS n FROM shingle_sets
        ), sigs AS (
          SELECT doc_id,
                 {mins}
          FROM sh GROUP BY doc_id
        ), banded AS (
          {band_rows}
        ), buckets AS (
          SELECT band, key FROM banded
          GROUP BY band, key HAVING count(*) BETWEEN 2 AND 1000
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a
          JOIN buckets k ON k.band = a.band AND k.key = a.key
          JOIN banded b ON b.band = a.band AND b.key = a.key
                       AND a.doc_id < b.doc_id
        ), inter AS (
          SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS cnt
          FROM cand c
          JOIN sh x ON x.doc_id = c.id_a
          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
          GROUP BY 1, 2
        ), edges AS (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.id_a
          JOIN sizes sb ON sb.doc_id = i.id_b
          WHERE round(i.cnt / (sa.n + sb.n - i.cnt), 6) >= {threshold}
        ), sym AS (
          SELECT id_a AS src, id_b AS dst FROM edges
          UNION ALL
          SELECT id_b, id_a FROM edges
        ), reach AS (
          SELECT DISTINCT src AS a, src AS b FROM sym
          UNION
          SELECT r.a, s.dst AS b FROM reach r JOIN sym s ON s.src = r.b
        ), labels AS (
          SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a
        )
        SELECT doc.doc_id,
               COALESCE(l.cluster, doc.doc_id) AS cluster,
               CAST((l.cluster IS NULL OR l.cluster = doc.doc_id) AS INT)
                   AS kept
        FROM documents doc LEFT JOIN labels l ON l.id = doc.doc_id
    """


ORACLE["dedup_prune"] = _dedup_prune_oracle_sql()


def _dedup_incremental_oracle_sql(
    n_hashes: int = 8, bands: int = 4, threshold: float = 0.9
) -> str:
    """DuckDB replay of q_dedup_incremental: md5 band keys on both sides,
    store-bucket size cap, band-key join, counting-form exact verify,
    min-store-id dup_of per batch doc."""
    rpb = n_hashes // bands
    sh3 = _SQL_SHINGLES3.format(ws="ws", t="text")
    mins = ",\n                 ".join(
        f"min(md5(s || '|{i}')) AS m{i}" for i in range(n_hashes)
    )
    band_rows = "\n          UNION ALL ".join(
        "SELECT doc_id, side, {b} AS band, {key} AS key FROM sigs".format(
            b=b,
            key=" || ".join(f"m{i}" for i in range(b * rpb, (b + 1) * rpb)),
        )
        for b in range(bands)
    )
    return f"""
        WITH d AS (
          SELECT doc_id, text, string_split(lower(text), ' ') AS ws,
                 CASE WHEN doc_id % 10 = 5 THEN 'batch' ELSE 'store' END
                     AS side
          FROM documents
        ), shingle_sets AS (
          SELECT doc_id, side, list_distinct({sh3}) AS ss FROM d
        ), sh AS (
          SELECT doc_id, side, unnest(ss) AS s FROM shingle_sets
        ), sizes AS (
          SELECT doc_id, len(ss) AS n FROM shingle_sets
        ), sigs AS (
          SELECT doc_id, side,
                 {mins}
          FROM sh GROUP BY doc_id, side
        ), banded AS (
          {band_rows}
        ), ok_keys AS (
          SELECT band, key FROM banded WHERE side = 'store'
          GROUP BY band, key HAVING count(*) <= 1000
        ), cand AS (
          SELECT DISTINCT s.doc_id AS id_a, b.doc_id AS id_b
          FROM banded s
          JOIN ok_keys k ON k.band = s.band AND k.key = s.key
          JOIN banded b ON b.band = s.band AND b.key = s.key
          WHERE s.side = 'store' AND b.side = 'batch'
        ), inter AS (
          SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS cnt
          FROM cand c
          JOIN sh x ON x.doc_id = c.id_a
          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
          GROUP BY 1, 2
        ), dups AS (
          SELECT i.id_b, min(i.id_a) AS dup_of
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.id_a
          JOIN sizes sb ON sb.doc_id = i.id_b
          WHERE round(i.cnt / (sa.n + sb.n - i.cnt), 6) >= {threshold}
          GROUP BY i.id_b
        )
        SELECT d.doc_id, u.dup_of,
               CAST(u.dup_of IS NULL AS INT) AS admit
        FROM d LEFT JOIN dups u ON u.id_b = d.doc_id
        WHERE d.side = 'batch'
    """


ORACLE["dedup_incremental"] = _dedup_incremental_oracle_sql()


def _admission_gate_oracle_sql(
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.9,
    min_hits: int = 2,
    min_words: int = 20,
    max_punct: float = 0.1,
) -> str:
    """DuckDB replay of q_admission_gate, composed from the verified
    pieces: side staging, sha256 exact probe, the md5-LSH incremental
    probe (counting-form verify), benchmark gram contamination, and the
    corpus_pipeline quality/language signals."""
    rpb = n_hashes // bands
    sh3 = _SQL_SHINGLES3.format(ws="ws", t="text")
    mins = ",\n                 ".join(
        f"min(md5(s || '|{i}')) AS m{i}" for i in range(n_hashes)
    )
    band_rows = "\n          UNION ALL ".join(
        "SELECT doc_id, side, {b} AS band, {key} AS key FROM sigs".format(
            b=b,
            key=" || ".join(f"m{i}" for i in range(b * rpb, (b + 1) * rpb)),
        )
        for b in range(bands)
    )
    return f"""
        WITH d AS (
          SELECT doc_id, text, string_split(lower(text), ' ') AS ws,
                 CASE WHEN doc_id % 97 = 0 THEN 'bench'
                      WHEN doc_id % 10 = 5 THEN 'batch'
                      ELSE 'store' END AS side
          FROM documents
        ), shingle_sets AS (
          SELECT doc_id, side, list_distinct({sh3}) AS ss FROM d
          WHERE side <> 'bench'
        ), sh AS (
          SELECT doc_id, side, unnest(ss) AS s FROM shingle_sets
        ), sizes AS (
          SELECT doc_id, len(ss) AS n FROM shingle_sets
        ), sigs AS (
          SELECT doc_id, side,
                 {mins}
          FROM sh GROUP BY doc_id, side
        ), banded AS (
          {band_rows}
        ), ok_keys AS (
          SELECT band, key FROM banded WHERE side = 'store'
          GROUP BY band, key HAVING count(*) <= 1000
        ), cand AS (
          SELECT DISTINCT s.doc_id AS id_a, b.doc_id AS id_b
          FROM banded s
          JOIN ok_keys k ON k.band = s.band AND k.key = s.key
          JOIN banded b ON b.band = s.band AND b.key = s.key
          WHERE s.side = 'store' AND b.side = 'batch'
        ), inter AS (
          SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS cnt
          FROM cand c
          JOIN sh x ON x.doc_id = c.id_a
          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
          GROUP BY 1, 2
        ), dups AS (
          SELECT i.id_b, min(i.id_a) AS dup_of
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.id_a
          JOIN sizes sb ON sb.doc_id = i.id_b
          WHERE round(i.cnt / (sa.n + sb.n - i.cnt), 6) >= {threshold}
          GROUP BY i.id_b
        ), g AS (
          SELECT doc_id, side,
                 unnest(list_distinct({sh3})) AS ngram
          FROM d
        ), bench_grams AS (
          SELECT DISTINCT ngram FROM g WHERE side = 'bench'
        ), hits AS (
          SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM g JOIN bench_grams USING (ngram)
          WHERE g.side = 'batch'
          GROUP BY g.doc_id
        ), store_hashes AS (
          SELECT DISTINCT sha256(text) AS h FROM d WHERE side = 'store'
        ), scored AS (
          SELECT doc_id, sha256(text) AS h,
                 CAST(len(list_filter(string_split(lower(text), ' '),
                                      w -> w <> '')) AS BIGINT) AS len_words,
                 round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                       / nullif(length(text), 0), 6) AS punct_ratio,
                 CASE WHEN contains(t,' the ') OR contains(t,' and ')
                           OR contains(t,' of ') THEN 'en'
                      WHEN contains(t,' le ') OR contains(t,' la ')
                           OR contains(t,' et ') THEN 'fr'
                      WHEN contains(t,' el ') OR contains(t,' los ')
                           OR contains(t,' y ') THEN 'es'
                      WHEN contains(t,' der ') OR contains(t,' und ')
                           OR contains(t,' die ') THEN 'de'
                      WHEN contains(t,'的') OR contains(t,'是')
                           OR contains(t,'了') THEN 'zh'
                      ELSE 'und' END AS lang_pred
          FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS t
                FROM d WHERE side = 'batch')
        )
        SELECT s.doc_id,
               CASE WHEN sh.h IS NOT NULL THEN 'exact_dup'
                    WHEN u.dup_of IS NOT NULL THEN 'near_dup'
                    WHEN coalesce(h.n_hits, 0) >= {min_hits}
                        THEN 'contaminated'
                    WHEN s.len_words < {min_words}
                         OR s.punct_ratio > {max_punct}
                         OR s.lang_pred NOT IN ('en','fr','es')
                        THEN 'low_quality'
                    ELSE 'admitted' END AS disposition,
               u.dup_of,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               s.len_words
        FROM scored s
        LEFT JOIN store_hashes sh ON sh.h = s.h
        LEFT JOIN dups u ON u.id_b = s.doc_id
        LEFT JOIN hits h ON h.doc_id = s.doc_id
    """


ORACLE["admission_gate"] = _admission_gate_oracle_sql()

ORACLE["text_normalize"] = r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_raw,
           trim(regexp_replace(
               regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'),
               '[ \t\n\r]+', ' ', 'g')) AS text_norm,
           CAST(length(trim(regexp_replace(
               regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'),
               '[ \t\n\r]+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
    FROM documents
"""

ORACLE["corpus_release_manifest"] = f"""
    WITH base AS (
      SELECT * FROM ({ORACLE["corpus_pipeline"]}) t
    ), wl AS (
      SELECT b.*, d.lang FROM base b
      JOIN documents d USING (doc_id)
    )
    SELECT 'disposition' AS metric, disposition AS key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len_words) AS BIGINT) AS n_tokens
    FROM base GROUP BY 2
    UNION ALL
    SELECT 'split', split, CAST(count(*) AS BIGINT),
           CAST(sum(len_words) AS BIGINT)
    FROM base GROUP BY 2
    UNION ALL
    SELECT 'kept_lang', lang, CAST(count(*) AS BIGINT),
           CAST(sum(len_words) AS BIGINT)
    FROM wl WHERE disposition = 'kept' GROUP BY 2
"""

ORACLE["quality_calibration"] = f"""
    WITH cls AS (
      SELECT * FROM ({ORACLE["quality_classifier"]}) t
    ), toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                  AS BIGINT) AS nw
      FROM documents
    ), seq AS (
      SELECT c.doc_id, c.quality_logit, k.nw,
             CAST(sum(k.nw) OVER (
                 ORDER BY c.quality_logit DESC, c.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum,
             CAST(row_number() OVER (
                 ORDER BY c.quality_logit DESC, c.doc_id
             ) AS BIGINT) AS rk
      FROM cls c JOIN toks k USING (doc_id)
    ), tot AS (
      SELECT CAST(sum(nw) AS BIGINT) AS total FROM toks
    ), fracs AS (
      SELECT * FROM (VALUES (0.25), (0.5), (0.75), (0.9)) AS f(target_frac)
    ), pick AS (
      -- CAST the frac to DOUBLE: DuckDB parses the VALUES literals as
      -- DECIMAL and would compare the threshold in exact rational
      -- arithmetic, while Spark multiplies doubles — an exact-boundary
      -- cum row could then flip between engines
      SELECT f.target_frac, min(s.rk) AS docs_kept
      FROM seq s CROSS JOIN tot t
      JOIN fracs f
        ON s.cum >= CAST(f.target_frac AS DOUBLE) * t.total
      GROUP BY 1
    )
    SELECT p.target_frac, s.quality_logit AS cutoff_logit,
           p.docs_kept, s.cum AS tokens_kept,
           round(s.cum / CAST(t.total AS DOUBLE), 6) AS achieved_frac
    FROM pick p
    JOIN seq s ON s.rk = p.docs_kept
    CROSS JOIN tot t
"""


# ---------------------------------------------------------------------------
# Round-5 additions: novelty selection, source triage, smoothed event
# monitoring, cross-language contamination (queued for driver window 6).
# ---------------------------------------------------------------------------


ORACLE["gram_novelty"] = f"""
    WITH g AS (
        SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES3.format(
            ws="string_split(lower(text), ' ')", t="text")})) AS ngram
        FROM documents
    ), fd AS (
        SELECT ngram, min(doc_id) AS first_doc FROM g GROUP BY ngram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN fd.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN fd.first_doc = g.doc_id THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS novelty
    FROM g JOIN fd USING (ngram)
    GROUP BY g.doc_id
"""

ORACLE["lang_leakage"] = f"""
    WITH gl AS (
        SELECT DISTINCT lang, unnest(list_distinct({_SQL_SHINGLES3.format(
            ws="string_split(lower(text), ' ')", t="text")})) AS ngram
        FROM documents
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM gl a JOIN gl b ON a.ngram = b.ngram AND a.lang < b.lang
    GROUP BY a.lang, b.lang
"""

ORACLE["source_mix_report"] = """
    WITH sl AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY source, lang
    ), s AS (
        SELECT source,
               CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(chars) AS BIGINT) AS total_chars,
               max({'n': n, 'lang': lang}) AS top
        FROM sl GROUP BY source
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS corpus_docs FROM documents
    )
    SELECT source, n_docs, n_langs, total_chars,
           round(total_chars / CAST(n_docs AS DOUBLE), 6) AS avg_chars,
           top.lang AS top_lang,
           round(top.n / CAST(n_docs AS DOUBLE), 6) AS top_lang_share,
           round(n_docs / CAST(corpus_docs AS DOUBLE), 6) AS corpus_share
    FROM s CROSS JOIN tot
"""

ORACLE["events_ewma"] = """
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
                    AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type, a.bucket, a.n,
           round(sum(b.n * power(0.5, a.bucket - b.bucket)), 6) AS ewma
    FROM hourly a
    JOIN hourly b
      ON a.event_type = b.event_type
     AND a.bucket - b.bucket BETWEEN 0 AND 19
    GROUP BY a.event_type, a.bucket, a.n
"""

ORACLE["corpus_bootstrap_ci"] = """
    WITH x AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w <> '')) AS BIGINT) AS x
        FROM documents
    ), reps AS (
        SELECT CAST(i AS INT) AS r FROM unnest(range(0, 32)) t(i)
    ), wx AS (
        SELECT r.r,
               (('0x' || substr(md5(x.doc_id || ':' || r.r), 18, 15))
                ::BIGINT % 3) AS w,
               x.x
        FROM x CROSS JOIN reps r
    ), per AS (
        SELECT r, round(sum(w * x) / CAST(sum(w) AS DOUBLE), 6) AS m
        FROM wx GROUP BY r
    ), arr AS (
        SELECT list_sort(list(m)) AS ms,
               CAST(count(*) AS BIGINT) AS n_replicates
        FROM per
    ), pt AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               round(sum(x) / CAST(count(*) AS DOUBLE), 6)
                   AS point_mean
        FROM x
    )
    SELECT arr.n_replicates, pt.n_docs, pt.point_mean,
           ms[2] AS ci_lo, ms[31] AS ci_hi
    FROM arr CROSS JOIN pt
"""

ORACLE["cross_source_overlap"] = f"""
    WITH gs AS (
        SELECT DISTINCT source, unnest(list_distinct({_SQL_SHINGLES3.format(
            ws="string_split(lower(text), ' ')", t="text")})) AS ngram
        FROM documents
    ), dfreq AS (
        SELECT ngram, CAST(count(*) AS BIGINT) AS nf
        FROM gs GROUP BY ngram
    ), capped AS (
        SELECT g.source, g.ngram
        FROM gs g JOIN dfreq d ON g.ngram = d.ngram
        WHERE d.nf <= 16
    ), totals AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        FROM capped GROUP BY source
    ), pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM capped a
        JOIN capped b ON a.ngram = b.ngram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b, p.n_shared,
           ta.n_grams AS n_a, tb.n_grams AS n_b,
           round(p.n_shared / CAST(ta.n_grams AS DOUBLE), 6)
               AS contain_a,
           round(p.n_shared / CAST(tb.n_grams AS DOUBLE), 6)
               AS contain_b
    FROM pairs p
    JOIN totals ta ON p.src_a = ta.source
    JOIN totals tb ON p.src_b = tb.source
"""

ORACLE["session_paths"] = """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     > 30*60*1000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(sum(is_start) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_idx,
             array_to_string(
                 list_slice(list(event_type ORDER BY ts, event_id),
                            1, 8), '>') AS path,
             CAST(count(*) AS BIGINT) AS n_ev
      FROM sess GROUP BY user_id, session_idx
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events
    FROM per_session
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 50
"""

ORACLE["t_closeness"] = """
    WITH b AS (
        SELECT lang, source,
               CAST(least(CAST(floor(n_chars / 64) AS BIGINT), 9)
                    AS INT) AS bkt
        FROM documents
    ), grp AS (
        SELECT lang, source, bkt, CAST(count(*) AS BIGINT) AS n_gj
        FROM b GROUP BY 1, 2, 3
    ), gdist AS (
        SELECT bkt, CAST(count(*) AS BIGINT) AS m_j FROM b GROUP BY 1
    ), totals AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_g
        FROM b GROUP BY 1, 2
    ), n_total AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all FROM b
    ), spine AS (
        SELECT t.lang, t.source, t.n_g, CAST(i AS INT) AS bkt
        FROM totals t, unnest(range(0, 10)) AS s(i)
    ), dense AS (
        SELECT s.lang, s.source, s.bkt, s.n_g, n.n_all,
               coalesce(g.n_gj, 0) AS n_gj,
               coalesce(gl.m_j, 0) AS m_j
        FROM spine s
        LEFT JOIN grp g
          ON s.lang = g.lang AND s.source = g.source AND s.bkt = g.bkt
        LEFT JOIN gdist gl ON s.bkt = gl.bkt
        CROSS JOIN n_total n
    ), cum AS (
        SELECT lang, source, bkt, n_g, n_all,
               CAST(sum(n_gj) OVER w AS BIGINT) AS cum_n,
               CAST(sum(m_j) OVER w AS BIGINT) AS cum_m
        FROM dense
        WINDOW w AS (PARTITION BY lang, source ORDER BY bkt
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT lang, source, n_g AS n_docs,
           round(CAST(sum(abs(cum_n * n_all - cum_m * n_g)) AS BIGINT)
                 / (CAST(n_g AS DOUBLE) * n_all * 9.0), 6) AS t_value,
           CAST(sum(abs(cum_n * n_all - cum_m * n_g)) AS BIGINT) * 5
               <= n_g * n_all * 9 AS t_close
    FROM cum
    WHERE bkt < 9
    GROUP BY lang, source, n_g, n_all
"""

ORACLE["char_entropy"] = """
    WITH s AS (
        SELECT doc_id,
               list_filter(string_split(substr(text, 1, 2048), ''),
                           x -> x <> '') AS ws
        FROM documents
    ), d AS (
        SELECT doc_id, ws, list_sort(list_distinct(ws)) AS dc FROM s
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_chars_sampled,
           CAST(len(dc) AS BIGINT) AS n_distinct_chars,
           round(0.0 - coalesce(list_reduce(
               list_transform(
                   list_transform(dc,
                       c -> len(list_filter(ws, x -> x = c))),
                   c -> (c / len(ws)) * log2(c / len(ws))),
               (a, b) -> a + b), 0.0), 6) AS entropy
    FROM d
"""

ORACLE["source_hhi"] = """
    WITH per AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY lang, source
    )
    SELECT lang,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_sources,
           round(sum(n * n) / (CAST(sum(n) AS DOUBLE)
                               * CAST(sum(n) AS DOUBLE)), 6) AS hhi,
           round((CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE))
                 / sum(n * n), 4) AS effective_sources
    FROM per GROUP BY lang
"""

ORACLE["events_funnel_latency"] = """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, v.t_view, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id, v.t_view
    ), p AS (
        SELECT e.user_id, c.t_view, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_view + INTERVAL 7 DAY
        GROUP BY e.user_id, c.t_view
    ), lc AS (
        SELECT epoch_us(t_click) - epoch_us(t_view) AS lat_us FROM c
    ), lp AS (
        SELECT epoch_us(t_purchase) - epoch_us(t_view) AS lat_us FROM p
    )
    SELECT 'view_to_click' AS stage,
           CAST(count(*) AS BIGINT) AS n_users,
           round(quantile_cont(lat_us, 0.5), 4) AS p50_us,
           round(quantile_cont(lat_us, 0.9), 4) AS p90_us,
           round(sum(lat_us) / CAST(count(*) AS DOUBLE), 4) AS mean_us
    FROM lc
    UNION ALL
    SELECT 'view_to_purchase' AS stage,
           CAST(count(*) AS BIGINT) AS n_users,
           round(quantile_cont(lat_us, 0.5), 4) AS p50_us,
           round(quantile_cont(lat_us, 0.9), 4) AS p90_us,
           round(sum(lat_us) / CAST(count(*) AS DOUBLE), 4) AS mean_us
    FROM lp
"""

ORACLE["events_forecast_baseline"] = """
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
                    AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(abs(a.n - b.n)) AS BIGINT) AS sum_abs_err,
           CAST(max(abs(a.n - b.n)) AS BIGINT) AS max_abs_err,
           round(sum(abs(a.n - b.n)) / CAST(count(*) AS DOUBLE), 6)
               AS mae_naive,
           round(sum(a.n) / CAST(count(*) AS DOUBLE), 6)
               AS mean_hourly_n
    FROM hourly a
    JOIN hourly b
      ON a.event_type = b.event_type AND a.bucket = b.bucket + 24
    GROUP BY a.event_type
"""

ORACLE["domain_cap"] = """
    WITH r AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rk > 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(sum(CASE WHEN rk <= 10 THEN doc_id ELSE 0 END) AS BIGINT)
               AS kept_id_sum
    FROM r GROUP BY source
"""

ORACLE["pmi_collocations"] = """
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS ws
        FROM documents
    ), uni AS (
        SELECT unnest(ws) AS word FROM w
    ), ucnt AS (
        SELECT word, CAST(count(*) AS BIGINT) AS n_w
        FROM uni GROUP BY word
    ), bi AS (
        SELECT ws[i] AS w1, ws[i + 1] AS w2
        FROM w, unnest(range(1, greatest(len(ws), 1))) AS t(i)
    ), bcnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab
        FROM bi GROUP BY w1, w2
        HAVING count(*) >= 5
    ), tot AS (
        SELECT CAST(sum(len(ws)) AS BIGINT) AS n_uni,
               CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS n_bi
        FROM w
    )
    SELECT b.w1, b.w2, b.n_ab, a.n_w AS n_a, c.n_w AS n_b,
           round(
               ln((CAST(b.n_ab AS DOUBLE) * t.n_uni * t.n_uni)
                  / (CAST(t.n_bi AS DOUBLE) * a.n_w * c.n_w))
               / ln(CAST(2.0 AS DOUBLE)), 6) AS pmi
    FROM bcnt b
    JOIN ucnt a ON b.w1 = a.word
    JOIN ucnt c ON b.w2 = c.word
    CROSS JOIN tot t
"""

ORACLE["knn_classify"] = f"""
    WITH knn AS ({ORACLE["knn_join"]}),
    votes AS (
        SELECT k.src_id, CAST(e.label AS INT) AS nbr_label,
               CAST(count(*) AS BIGINT) AS n
        FROM knn k JOIN embeddings e ON k.nbr_id = e.vec_id
        WHERE e.label IS NOT NULL
        GROUP BY 1, 2
    ), pred AS (
        SELECT src_id, nbr_label AS pred_label
        FROM (
            SELECT src_id, nbr_label,
                   row_number() OVER (
                       PARTITION BY src_id
                       ORDER BY n DESC, nbr_label
                   ) AS rk
            FROM votes
        ) WHERE rk = 1
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total FROM pred
    )
    SELECT CAST(e.label AS INT) AS true_label, p.pred_label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(count(*) / CAST(t.n_total AS DOUBLE), 6) AS share
    FROM pred p
    JOIN embeddings e ON p.src_id = e.vec_id
    CROSS JOIN tot t
    GROUP BY 1, 2, t.n_total
"""

ORACLE["events_ab_test"] = """
    WITH per_arm AS (
        SELECT event_type,
               substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS is_a,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events,
               sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS val
        FROM events
        GROUP BY 1, 2
    ), g AS (
        SELECT event_type,
               CAST(coalesce(max(CASE WHEN is_a THEN n_users END), 0)
                    AS BIGINT) AS users_a,
               CAST(coalesce(max(CASE WHEN NOT is_a THEN n_users END), 0)
                    AS BIGINT) AS users_b,
               CAST(coalesce(max(CASE WHEN is_a THEN n_events END), 0)
                    AS BIGINT) AS events_a,
               CAST(coalesce(max(CASE WHEN NOT is_a THEN n_events END), 0)
                    AS BIGINT) AS events_b,
               CAST(max(CASE WHEN is_a THEN val END) AS DOUBLE)
                   AS value_a,
               CAST(max(CASE WHEN NOT is_a THEN val END) AS DOUBLE)
                   AS value_b
        FROM per_arm GROUP BY event_type
    )
    SELECT event_type, users_a, users_b, events_a, events_b,
           value_a, value_b,
           CASE WHEN events_a > 0 AND events_b > 0 THEN
               round(value_b / events_b - value_a / events_a, 6)
           END AS per_event_lift
    FROM g
"""


def _quality_pinned_oracle_sql() -> str:
    from ..pca_oracle_literals import PINNED_QUALITY_LR  # noqa: PLC0415

    w = [repr(float(x)) for x in PINNED_QUALITY_LR["weights"]]
    b = repr(float(PINNED_QUALITY_LR["intercept"]))
    return f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                  AS BIGINT) AS nw,
             coalesce(round(len(list_filter(
                 list_filter(string_split(lower(text), ' '), x -> x <> ''),
                 x -> list_contains(['the','a','and','of','to','in','is'], x)))
               / nullif(len(list_filter(string_split(lower(text), ' '),
                                        x -> x <> '')), 0), 6), 0.0) AS f_stop,
             coalesce(round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
               / nullif(length(text), 0), 6), 0.0) AS f_punct,
             round(len(list_distinct(list_filter(string_split(lower(text), ' '),
                                                 x -> x <> '')))
               / greatest(len(list_filter(string_split(text, ' '), w -> w <> '')), 1),
               6) AS f_distinct
      FROM documents
    ), feats AS (
      SELECT doc_id,
             round(least(nw, 200) / 200.0, 6) AS f_len,
             f_stop, f_punct, f_distinct
      FROM f
    )
    SELECT doc_id,
           round({b} + {w[0]} * f_len + {w[1]} * f_stop
                 + {w[2]} * f_punct + {w[3]} * f_distinct, 6)
               AS quality_logit,
           round({b} + {w[0]} * f_len + {w[1]} * f_stop
                 + {w[2]} * f_punct + {w[3]} * f_distinct, 6) > 0.0
               AS keep
    FROM feats
"""


ORACLE["quality_classifier_pinned"] = _quality_pinned_oracle_sql()


def _pq_pinned_oracle_sql() -> str:
    from ..pca_oracle_literals import PINNED_PQ_CODEBOOKS  # noqa: PLC0415

    sub = 8
    rows = []
    for s, entries in sorted(PINNED_PQ_CODEBOOKS.items()):
        for code, cent in entries:
            lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
            # the -|c|²/2 term must be the SAME double literal Spark's
            # _l2_argmin_code embeds: computed by the identical Python
            # expression here
            nh = repr(sum(v * v for v in cent) / 2.0)
            rows.append(f"({s}, {code}, {lit}, {nh})")
    values = ",\n        ".join(rows)
    return f"""
    WITH cb(subspace, code, centroid, nh) AS (VALUES
        {values}
    ), enc_scored AS (
        SELECT e.vec_id, b.subspace, b.code,
               round(list_dot_product(
                   (e.embedding::DOUBLE[])
                       [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                   b.centroid) - b.nh, 6) AS score
        FROM embeddings e, cb b
    ), codes AS (
        SELECT vec_id, subspace, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, subspace
                ORDER BY score DESC, code ASC
            ) AS rk
            FROM enc_scored
        ) WHERE rk = 1
    ), qp AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 3
    ), adc_table AS (
        SELECT q.query_id, b.subspace, b.code,
               CAST(round(list_dot_product(
                   (q.qe::DOUBLE[])
                       [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                   b.centroid), 6) AS DECIMAL(18,6)) AS partial
        FROM qp q, cb b
    ), adc AS (
        SELECT t.query_id, c.vec_id,
               round(CAST(sum(t.partial) AS DOUBLE), 6) AS adc_score
        FROM codes c
        JOIN adc_table t USING (subspace, code)
        GROUP BY t.query_id, c.vec_id
    ), short AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY adc_score DESC, vec_id ASC
            ) AS crk
            FROM adc
        ) WHERE crk <= 50
    ), rescored AS (
        SELECT s.query_id, s.vec_id, s.adc_score,
               {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN qp q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, sim, adc_score, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id ASC
        ) AS rk
        FROM rescored
    ) WHERE rk <= 5
"""


ORACLE["ann_pq_search_pinned"] = _pq_pinned_oracle_sql()


def _ivfpq_pinned_oracle_sql() -> str:
    from ..pca_oracle_literals import PINNED_PQ_CODEBOOKS  # noqa: PLC0415

    sub = 8
    rows = []
    for s, entries in sorted(PINNED_PQ_CODEBOOKS.items()):
        for code, cent in entries:
            lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
            nh = repr(sum(v * v for v in cent) / 2.0)
            rows.append(f"({s}, {code}, {lit}, {nh})")
    values = ",\n        ".join(rows)
    return f"""
    WITH cb(subspace, code, centroid, nh) AS (VALUES
        {values}
    ), cents AS (
        SELECT label AS centroid_id, embedding AS centroid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY label ORDER BY vec_id) AS rn
            FROM embeddings
        ) WHERE rn = 1
    ), assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_SQL_COS.format(a="e.embedding", b="c.centroid")} DESC,
                                c.centroid_id ASC
                   ) AS rk
            FROM embeddings e, cents c
        ) WHERE rk = 1
    ), enc_scored AS (
        SELECT e.vec_id, b.subspace, b.code,
               round(list_dot_product(
                   (e.embedding::DOUBLE[])
                       [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                   b.centroid) - b.nh, 6) AS score
        FROM embeddings e, cb b
    ), codes AS (
        SELECT vec_id, subspace, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, subspace
                ORDER BY score DESC, code ASC
            ) AS rk
            FROM enc_scored
        ) WHERE rk = 1
    ), qp AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 3
    ), probes AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_SQL_COS.format(a="q.qe", b="c.centroid")} DESC,
                                c.centroid_id ASC
                   ) AS prk
            FROM qp q, cents c
        ) WHERE prk <= 2
    ), cand AS (
        SELECT p.query_id, a.vec_id
        FROM assign a JOIN probes p USING (centroid_id)
    ), adc_table AS (
        SELECT q.query_id, b.subspace, b.code,
               CAST(round(list_dot_product(
                   (q.qe::DOUBLE[])
                       [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                   b.centroid), 6) AS DECIMAL(18,6)) AS partial
        FROM qp q, cb b
    ), adc AS (
        SELECT n.query_id, n.vec_id,
               round(CAST(sum(t.partial) AS DOUBLE), 6) AS adc_score
        FROM cand n
        JOIN codes c USING (vec_id)
        JOIN adc_table t
          ON t.query_id = n.query_id
         AND t.subspace = c.subspace AND t.code = c.code
        GROUP BY n.query_id, n.vec_id
    ), short AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY adc_score DESC, vec_id ASC
            ) AS crk
            FROM adc
        ) WHERE crk <= 50
    ), rescored AS (
        SELECT s.query_id, s.vec_id, s.adc_score,
               {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN qp q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, sim, adc_score, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id ASC
        ) AS rk
        FROM rescored
    ) WHERE rk <= 5
"""


ORACLE["ann_ivfpq_search_pinned"] = _ivfpq_pinned_oracle_sql()


def _ivfpq_trained_pinned_oracle_sql() -> str:
    from ..pca_oracle_literals import (  # noqa: PLC0415
        PINNED_IVF_CENTROIDS,
        PINNED_PQ_CODEBOOKS,
    )

    sub = 8
    rows = []
    for s, entries in sorted(PINNED_PQ_CODEBOOKS.items()):
        for code, cent in entries:
            lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
            nh = repr(sum(v * v for v in cent) / 2.0)
            rows.append(f"({s}, {code}, {lit}, {nh})")
    values = ",\n        ".join(rows)
    cent_rows = ",\n        ".join(
        f"({cid}, [" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[])"
        for cid, cent in PINNED_IVF_CENTROIDS
    )
    return f"""
    WITH cb(subspace, code, centroid, nh) AS (VALUES
        {values}
    ), cents(centroid_id, centroid) AS (VALUES
        {cent_rows}
    ), assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_SQL_COS.format(a="e.embedding", b="c.centroid")} DESC,
                                c.centroid_id ASC
                   ) AS rk
            FROM embeddings e, cents c
        ) WHERE rk = 1
    ), enc_scored AS (
        SELECT e.vec_id, b.subspace, b.code,
               round(list_dot_product(
                   (e.embedding::DOUBLE[])
                       [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                   b.centroid) - b.nh, 6) AS score
        FROM embeddings e, cb b
    ), codes AS (
        SELECT vec_id, subspace, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, subspace
                ORDER BY score DESC, code ASC
            ) AS rk
            FROM enc_scored
        ) WHERE rk = 1
    ), qp AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 3
    ), probes AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_SQL_COS.format(a="q.qe", b="c.centroid")} DESC,
                                c.centroid_id ASC
                   ) AS prk
            FROM qp q, cents c
        ) WHERE prk <= 2
    ), cand AS (
        SELECT p.query_id, a.vec_id
        FROM assign a JOIN probes p USING (centroid_id)
    ), adc_table AS (
        SELECT q.query_id, b.subspace, b.code,
               CAST(round(list_dot_product(
                   (q.qe::DOUBLE[])
                       [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                   b.centroid), 6) AS DECIMAL(18,6)) AS partial
        FROM qp q, cb b
    ), adc AS (
        SELECT n.query_id, n.vec_id,
               round(CAST(sum(t.partial) AS DOUBLE), 6) AS adc_score
        FROM cand n
        JOIN codes c USING (vec_id)
        JOIN adc_table t
          ON t.query_id = n.query_id
         AND t.subspace = c.subspace AND t.code = c.code
        GROUP BY n.query_id, n.vec_id
    ), short AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY adc_score DESC, vec_id ASC
            ) AS crk
            FROM adc
        ) WHERE crk <= 50
    ), rescored AS (
        SELECT s.query_id, s.vec_id, s.adc_score,
               {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN qp q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, sim, adc_score, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id ASC
        ) AS rk
        FROM rescored
    ) WHERE rk <= 5
"""


ORACLE["ann_ivfpq_trained_pinned"] = _ivfpq_trained_pinned_oracle_sql()


def _pca_pinned_oracle_sql() -> str:
    from ..pca_oracle_literals import PINNED_PCA_AXES  # noqa: PLC0415

    def axis_lit(c):
        return "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"

    def projs(src, prefix):
        return ",\n               ".join(
            f"list_dot_product({src}::DOUBLE[], {axis_lit(c)}) AS {prefix}{j}"
            for j, c in enumerate(PINNED_PCA_AXES)
        )

    coarse = " + ".join(f"c.pc{j} * q.qc{j}" for j in range(len(PINNED_PCA_AXES)))
    return f"""
    WITH cp AS (
        SELECT vec_id, label, embedding,
               {projs("embedding", "pc")}
        FROM embeddings WHERE vec_id >= 3
    ), qp AS (
        SELECT vec_id AS query_id, embedding AS qe,
               {projs("embedding", "qc")}
        FROM embeddings WHERE vec_id < 3
    ), scored AS (
        SELECT q.query_id, c.vec_id, c.label, c.embedding, q.qe,
               round(0.0 + {coarse}, 6) AS coarse_sim
        FROM cp c, qp q
    ), short AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY coarse_sim DESC, vec_id
        ) AS crk
        FROM scored
    ), fine AS (
        SELECT query_id, vec_id, label, coarse_sim,
               {_SQL_COS.format(a="embedding", b="qe")} AS sim
        FROM short WHERE crk <= 50
    )
    SELECT query_id, vec_id, label, coarse_sim, sim,
           CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id
        ) AS rk
        FROM fine
    ) WHERE rk <= 5
"""


ORACLE["knn_pca_search_pinned"] = _pca_pinned_oracle_sql()

ORACLE["graph_bfs_reach"] = """
    WITH fwd AS (
        SELECT DISTINCT 's' || l.l_suppkey AS src, 'c' || o.o_custkey AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), edges AS (
        SELECT src, dst FROM fwd
        UNION ALL
        SELECT dst AS src, src AS dst FROM fwd
    ), deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ), seeds AS (
        SELECT src AS node, 0 AS dist FROM deg
        ORDER BY deg DESC, src ASC LIMIT 5
    ), d1 AS (
        SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM (
            SELECT node, dist FROM seeds
            UNION ALL
            SELECT e.dst AS node, 1 AS dist
            FROM seeds s JOIN edges e ON e.src = s.node
        ) GROUP BY node
    ), d2 AS (
        SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM (
            SELECT node, dist FROM d1
            UNION ALL
            SELECT e.dst AS node, 2 AS dist
            FROM d1 JOIN edges e ON e.src = d1.node
        ) GROUP BY node
    ), d3 AS (
        SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM (
            SELECT node, dist FROM d2
            UNION ALL
            SELECT e.dst AS node, 3 AS dist
            FROM d2 JOIN edges e ON e.src = d2.node
        ) GROUP BY node
    )
    SELECT node, dist AS hops FROM d3
"""

ORACLE["attribution_multitouch"] = """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
               round(value, 4) AS purchase_value
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), pairs AS (
        SELECT p.purchase_id, p.user_id, p.purchase_value,
               c.click_id, epoch_us(c.click_ts) AS click_us
        FROM p JOIN c
          ON c.cu = p.user_id
         AND c.click_ts <= p.purchase_ts
         AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
    )
    SELECT purchase_id, user_id, click_id, click_us,
           CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT)
               AS n_touches,
           round(1.0 / count(*) OVER (PARTITION BY purchase_id), 6)
               AS weight,
           round(purchase_value
                 / count(*) OVER (PARTITION BY purchase_id), 6)
               AS credited_value
    FROM pairs
"""

ORACLE["enrich_scd2"] = """
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev,
             row_number() OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS rn
      FROM orders
    ), runs AS (
      SELECT *,
             sum(CASE WHEN rn = 1 OR prev IS DISTINCT FROM o_orderpriority
                      THEN 1 ELSE 0 END) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS run
      FROM seq
    ), grouped AS (
      SELECT o_custkey, run, o_orderpriority,
             min(o_orderdate) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM runs GROUP BY 1, 2, 3
    ), hist AS (
      SELECT o_custkey AS k, o_orderpriority AS attr_at_time,
             CAST(run AS BIGINT) AS version, valid_from,
             lead(valid_from) OVER (
                 PARTITION BY o_custkey ORDER BY run) AS valid_to
      FROM grouped
    )
    SELECT f.o_orderkey, f.o_custkey,
           CAST(epoch_us(f.o_orderdate) AS BIGINT) AS probe_us,
           h.attr_at_time,
           CAST(h.version AS BIGINT) AS version_at_time,
           h.valid_to IS NULL AS is_current
    FROM orders f
    LEFT JOIN hist h
      ON h.k = f.o_custkey
     AND h.valid_from <= f.o_orderdate
     AND (h.valid_to IS NULL OR f.o_orderdate < h.valid_to)
"""

ORACLE["join_skew_report"] = """
    WITH counts AS (
        SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_suppkey
    ), stats AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_keys,
               round(quantile_cont(n, 0.5), 4) AS p50_group,
               round(quantile_cont(n, 0.99), 4) AS p99_group
        FROM counts
    ), top AS (
        SELECT l_suppkey, n FROM counts
        ORDER BY n DESC, l_suppkey ASC LIMIT 10
    )
    SELECT t.l_suppkey AS key, t.n,
           round(t.n / s.n_total, 6) AS share,
           s.n_total, s.n_keys, s.p50_group, s.p99_group,
           round(s.p99_group / s.p50_group, 6) AS skew_ratio
    FROM top t CROSS JOIN stats s
"""

ORACLE["query_expansion"] = """
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                  AS BIGINT) AS dl,
             unnest(list_filter(string_split(lower(text), ' '),
                    w -> list_contains(['spark','join','merge','window','vector'], w)))
               AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, dl, term
    ), dfq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), st AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
                  AS BIGINT) AS sum_dl
      FROM documents
    ), sc AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * ((tf * (1.2 + 1.0))
                  / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / sum_dl))), 8)
             AS DECIMAL(18,8)) AS part
      FROM tf JOIN dfq USING (term) CROSS JOIN st
    ), top5 AS (
      SELECT doc_id FROM sc GROUP BY doc_id
      ORDER BY CAST(round(sum(part), 4) AS DOUBLE) DESC, doc_id ASC
      LIMIT 5
    ), fb AS (
      SELECT unnest(list_filter(string_split(lower(d.text), ' '),
                                w -> w <> '')) AS term
      FROM documents d JOIN top5 USING (doc_id)
    ), fb_tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS fb_tf FROM fb GROUP BY term
    ), corpus_df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
        SELECT DISTINCT doc_id, unnest(list_distinct(
            list_filter(string_split(lower(text), ' '), w -> w <> '')))
            AS term
        FROM documents)
      GROUP BY term
    ), nd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    )
    SELECT f.term, f.fb_tf, c.df,
           round(f.fb_tf * ln(CAST(n_docs AS DOUBLE) / c.df), 6)
               AS expansion_score
    FROM fb_tf f JOIN corpus_df c USING (term) CROSS JOIN nd
    WHERE NOT list_contains(['spark','join','merge','window','vector'],
                            f.term)
    ORDER BY expansion_score DESC, f.term ASC
    LIMIT 10
"""

ORACLE["dp_release_counts"] = """
    WITH per AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS true_count
        FROM documents GROUP BY 1, 2
    ), noised AS (
        SELECT lang, source, true_count,
               CAST(CASE WHEN m1 = 0 THEN 48
                    ELSE 48 - len(bin(m1)) END
                  - CASE WHEN m2 = 0 THEN 48
                    ELSE 48 - len(bin(m2)) END AS BIGINT) AS noise
        FROM (
            SELECT *,
                CAST(('0x' || substr(md5(lang || '|' || source || '|g1'),
                                     1, 12)) AS BIGINT) AS m1,
                CAST(('0x' || substr(md5(lang || '|' || source || '|g2'),
                                     1, 12)) AS BIGINT) AS m2
            FROM per)
    )
    SELECT lang, source, true_count, noise,
           CAST(true_count + noise AS BIGINT) AS noisy_count,
           CAST(greatest(true_count + noise, 0) AS BIGINT)
               AS released_count
    FROM noised
"""

ORACLE["knn_batch_scaled"] = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 3
    ), scored AS (
        SELECT q.query_id, e.vec_id, e.label,
               {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
        FROM embeddings e, q WHERE e.vec_id >= 3
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id
        ) AS rk
        FROM scored
    )
    SELECT query_id, vec_id, label, sim, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 5
"""

ORACLE["contrastive_triplets"] = f"""
    WITH anchors AS (
        SELECT vec_id AS anchor_id, label AS anchor_label,
               embedding AS ae
        FROM embeddings WHERE vec_id < 8
    ), scored AS (
        SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
               {_SQL_COS.format(a="e.embedding", b="a.ae")} AS sim,
               e.label = a.anchor_label AS same
        FROM embeddings e, anchors a
        WHERE e.vec_id >= 8
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY anchor_id, same
            ORDER BY sim DESC, vec_id
        ) AS rk
        FROM scored
    ), pos AS (
        SELECT anchor_id, vec_id AS pos_id, sim AS pos_sim
        FROM ranked WHERE same AND rk = 1
    ), neg AS (
        SELECT anchor_id, CAST(rk AS INTEGER) AS neg_rank,
               vec_id AS neg_id, sim AS neg_sim
        FROM ranked WHERE NOT same AND rk <= 3
    )
    SELECT p.anchor_id, p.pos_id, p.pos_sim,
           n.neg_rank, n.neg_id, n.neg_sim,
           round(p.pos_sim - n.neg_sim, 6) AS margin
    FROM pos p JOIN neg n USING (anchor_id)
"""

ORACLE["heavy_hitters_cms"] = f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS tok
        FROM documents
    ), rc AS (
        SELECT tok, u.r, u.c FROM (
            SELECT tok, unnest([
                {", ".join(
                    "struct_pack(r := %d, c := CAST(('0x' || substr(md5(tok || '|%d'), 1, 4)) AS INTEGER) %% 64)" % (r, r)
                    for r in range(4)
                )}
            ]) AS u
            FROM toks)
    ), sketch AS (
        SELECT r, c, CAST(count(*) AS BIGINT) AS cell
        FROM rc GROUP BY r, c
    ), exact_top AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS exact_count
        FROM toks GROUP BY tok
        ORDER BY exact_count DESC, tok LIMIT 20
    ), probe AS (
        SELECT e.tok, e.exact_count, u.r, u.c FROM (
            SELECT tok, exact_count, unnest([
                {", ".join(
                    "struct_pack(r := %d, c := CAST(('0x' || substr(md5(tok || '|%d'), 1, 4)) AS INTEGER) %% 64)" % (r, r)
                    for r in range(4)
                )}
            ]) AS u
            FROM exact_top) AS e(tok, exact_count, u)
    )
    SELECT p.tok, p.exact_count,
           CAST(min(s.cell) AS BIGINT) AS cms_estimate,
           CAST(min(s.cell) - p.exact_count AS BIGINT) AS overestimate
    FROM probe p JOIN sketch s ON s.r = p.r AND s.c = p.c
    GROUP BY p.tok, p.exact_count
"""

ORACLE["minhash_estimator_quality"] = f"""
    WITH d AS (
        SELECT doc_id, text, string_split(lower(text), ' ') AS ws
        FROM documents
    ), shs AS (
        SELECT doc_id,
               list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS ss
        FROM d
    ), sh AS (
        SELECT doc_id, unnest(ss) AS s FROM shs
    ), sigs AS (
        SELECT doc_id,
               {", ".join(f"min(md5(s || '|{i}')) AS m{i}" for i in range(8))}
        FROM sh GROUP BY doc_id
    ), pairs AS (
        SELECT doc_id AS id_a, doc_id + 125 AS id_b FROM documents
    ), est AS (
        SELECT p.id_a, p.id_b,
               CAST({" + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(8))}
                    AS BIGINT) AS n_matching
        FROM pairs p
        JOIN sigs a ON a.doc_id = p.id_a
        JOIN sigs b ON b.doc_id = p.id_b
    ), exact AS (
        SELECT p.id_a, p.id_b,
               round(len(list_intersect(sa.ss, sb.ss))
                     / len(list_distinct(sa.ss || sb.ss)), 6) AS exact_j
        FROM pairs p
        JOIN shs sa ON sa.doc_id = p.id_a
        JOIN shs sb ON sb.doc_id = p.id_b
    )
    SELECT e.id_a, e.id_b, e.n_matching,
           round(e.n_matching / 8.0, 6) AS est_jaccard,
           x.exact_j AS exact_jaccard,
           round(round(e.n_matching / 8.0, 6) - x.exact_j, 6) AS est_error
    FROM est e JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
"""

ORACLE["embed_feature_hash"] = f"""
    WITH base AS (
        SELECT doc_id, lower(substr(text, 1, 256)) AS t FROM documents
    ), ex AS (
        SELECT doc_id, unnest(list_filter(
            list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                           i -> substr(t, CAST(i AS INTEGER), 3)),
            g -> len(g) = 3)) AS g
        FROM base
    ), m AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(g), 1, 2)) AS INTEGER) % 16 AS b,
               CASE WHEN CAST(('0x' || substr(md5(g), 3, 1)) AS INTEGER)
                         % 2 = 0 THEN 1 ELSE -1 END AS s
        FROM ex
    ), raw AS (
        SELECT doc_id,
               {", ".join(f"CAST(coalesce(sum(CASE WHEN b = {i} THEN s END), 0) AS BIGINT) AS c{i}" for i in range(16))}
        FROM m GROUP BY doc_id
    ), n AS (
        SELECT *, sqrt(CAST({" + ".join(f"c{i} * c{i}" for i in range(16))}
                            AS DOUBLE)) AS nr
        FROM raw
    )
    SELECT doc_id, round(nr, 6) AS norm,
           {", ".join(f"CASE WHEN nr > 0 THEN round(c{i} / nr, 6) ELSE 0.0 END AS h{i}" for i in range(16))}
    FROM n
"""

ORACLE["events_resample"] = """
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
                    AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS val
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
        FROM hourly GROUP BY 1
    ), grid AS (
        SELECT event_type, unnest(range(b0, b1 + 1)) AS bucket FROM span
    ), filled AS (
        SELECT g.event_type, g.bucket,
               coalesce(h.n, 0) AS n_events,
               CASE WHEN h.n IS NOT NULL THEN
                   round(CAST(h.val AS DOUBLE) / h.n, 6)
               END AS avg_value
        FROM grid g LEFT JOIN hourly h USING (event_type, bucket)
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(n_events AS BIGINT) AS n_events, avg_value,
           last_value(avg_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS avg_value_locf
    FROM filled
"""

ORACLE["events_cumulative_users"] = """
    WITH first_seen AS (
        SELECT event_type, user_id,
               min(epoch_us(date_trunc('day', ts))) AS day_us
        FROM events GROUP BY 1, 2
    ), daily AS (
        SELECT event_type, day_us,
               CAST(count(*) AS BIGINT) AS new_users
        FROM first_seen GROUP BY 1, 2
    )
    SELECT event_type, day_us, new_users,
           CAST(sum(new_users) OVER (
               PARTITION BY event_type ORDER BY day_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM daily
"""

ORACLE["temperature_mixture"] = """
    WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(round(sqrt(count(*)), 6) AS DECIMAL(18,6)) AS s
        FROM documents GROUP BY source
    ), d AS (
        SELECT sum(s) AS denom FROM per
    ), w AS (
        SELECT source, n_docs,
               round(CAST(s AS DOUBLE) / CAST(denom AS DOUBLE), 6)
                   AS weight
        FROM per, d
    )
    SELECT source, n_docs, weight,
           CAST(floor(weight * 100000.0) AS BIGINT) AS target_docs,
           round(CAST(floor(weight * 100000.0) AS BIGINT) / n_docs, 6)
               AS effective_epochs
    FROM w
"""

ORACLE["events_anomaly"] = """
    WITH daily AS (
        SELECT event_type,
               epoch_us(date_trunc('day', ts)) AS day_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_events) AS BIGINT) AS s,
               CAST(sum(n_events * n_events) AS BIGINT) AS q
        FROM daily GROUP BY 1
    )
    SELECT d.event_type, d.day_us, d.n_events,
           CASE WHEN st.n * st.q - st.s * st.s > 0 THEN
               round((d.n_events * st.n - st.s)
                     / sqrt(st.n * st.q - st.s * st.s), 6)
           END AS z_score,
           CASE WHEN st.n * st.q - st.s * st.s > 0 THEN
               abs(round((d.n_events * st.n - st.s)
                         / sqrt(st.n * st.q - st.s * st.s), 6)) > 3.0
           ELSE FALSE END AS anomaly
    FROM daily d JOIN stats st USING (event_type)
"""

ORACLE["embedding_dim_variance"] = """
    WITH ex AS (
        SELECT u.dim, u.val FROM (
            SELECT unnest(list_transform(embedding,
                (v, i) -> struct_pack(dim := i - 1,
                                      val := CAST(v AS DOUBLE)))) AS u
            FROM embeddings)
    ), agg AS (
        SELECT dim,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(val AS DECIMAL(38,20))) AS sv,
               sum(CAST(val * val AS DECIMAL(38,20))) AS sq
        FROM ex GROUP BY dim
    )
    SELECT CAST(dim AS INTEGER) AS dim, n,
           round(CAST(sv AS DOUBLE) / n, 6) AS mean,
           round(CAST(sq AS DOUBLE) / n
                 - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n),
                 6) AS variance,
           (round(CAST(sq AS DOUBLE) / n
                  - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n),
                  6) < 0.0001) AS dead_dim
    FROM agg
"""

ORACLE["tokenizer_fertility_compare"] = f"""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS w
        FROM documents
    ), enc AS (
        SELECT w,
               {_bpe_replace_chain_sql("w")} AS sb,
               {_unigram_replace_chain_sql("w")} AS su
        FROM (SELECT DISTINCT w FROM toks)
    ), vt AS (
        SELECT w, CAST(len(w) AS BIGINT) AS w_chars,
               CAST(len(sb) - len(replace(sb, '\x1f', '')) AS BIGINT)
                   AS w_bpe,
               CAST(len(su) AS BIGINT) AS w_uni
        FROM enc
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(v.w_chars) AS BIGINT) AS n_chars,
           CAST(sum(v.w_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(v.w_uni) AS BIGINT) AS n_unigram_tokens,
           round(CAST(sum(v.w_chars) AS BIGINT)
                 / CAST(sum(v.w_bpe) AS BIGINT), 6)
               AS bpe_chars_per_token,
           round(CAST(sum(v.w_chars) AS BIGINT)
                 / CAST(sum(v.w_uni) AS BIGINT), 6)
               AS unigram_chars_per_token
    FROM toks t JOIN vt v USING (w)
    GROUP BY t.source
"""

ORACLE["shuffle_corpus"] = """
    WITH k AS (
        SELECT doc_id,
               md5('shuffle|' || CAST(doc_id AS VARCHAR)) AS key
        FROM documents
    ), s AS (
        SELECT doc_id, key,
               CAST(('0x' || substring(key, 1, 8))::BIGINT % 8 AS INT)
                   AS shard
        FROM k
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY key, doc_id
           ) AS BIGINT) AS pos
    FROM s
"""

ORACLE["length_buckets"] = """
    WITH lens AS (
        SELECT CAST(len(list_filter(string_split(text, ' '),
                                    w -> w <> '')) AS BIGINT) AS n
        FROM documents
    ), b AS (
        SELECT n,
               CASE WHEN n <= 32 THEN 32
                    WHEN n <= 64 THEN 64
                    WHEN n <= 128 THEN 128
                    WHEN n <= 256 THEN 256
                    WHEN n <= 512 THEN 512
                    ELSE -1 END AS bucket_cap
        FROM lens
    ), agg AS (
        SELECT bucket_cap,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS sum_words
        FROM b GROUP BY bucket_cap
    ), padded AS (
        SELECT bucket_cap, n_docs, sum_words,
               CAST(CASE WHEN bucket_cap > 0
                         THEN bucket_cap * n_docs ELSE 0 END AS BIGINT)
                   AS padded_words,
               CAST(CASE WHEN bucket_cap > 0
                         THEN bucket_cap * n_docs - sum_words
                         ELSE 0 END AS BIGINT) AS waste_words
        FROM agg
    )
    SELECT *,
           CAST(CASE WHEN padded_words > 0
                     THEN (1000 * waste_words) // padded_words
                     ELSE 0 END AS BIGINT) AS waste_permille
    FROM padded
"""

ORACLE["epoch_allocation"] = """
    WITH per AS (
        SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
               CAST(round(sqrt(sum(n_chars)), 6) AS DECIMAL(18,6)) AS s
        FROM documents GROUP BY source
    ), d AS (
        SELECT sum(s) AS denom FROM per
    ), w AS (
        SELECT source, n_chars_total,
               round(CAST(s AS DOUBLE) / CAST(denom AS DOUBLE), 6)
                   AS weight
        FROM per, d
    ), g AS (
        SELECT source, n_chars_total, weight,
               CAST(floor(weight * 2000000.0) AS BIGINT) AS alloc_chars,
               CAST(4 * n_chars_total AS BIGINT) AS cap
        FROM w
    )
    SELECT source, n_chars_total, weight, alloc_chars,
           CAST(least(alloc_chars, cap) AS BIGINT) AS granted_chars,
           alloc_chars > cap AS capped,
           CAST(alloc_chars - least(alloc_chars, cap) AS BIGINT)
               AS surplus_chars,
           CAST((1000 * least(alloc_chars, cap)) // n_chars_total
               AS BIGINT) AS epochs_permille
    FROM g
"""


def _vocab_coverage_oracle() -> str:
    from ..operators import unigram as _ug

    covered = "".join(
        sorted({p["piece"] for p in _ug.PINNED_PIECES if len(p["piece"]) == 1})
    ).replace("'", "''")
    return f"""
    WITH per AS (
        SELECT source,
               CAST(length(translate(text, ' ', '')) AS BIGINT) AS n,
               CAST(length(translate(text, ' {covered}', '')) AS BIGINT)
                   AS o
        FROM documents
    ), agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS n_chars,
               CAST(sum(o) AS BIGINT) AS n_oov_chars,
               CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_with_oov
        FROM per GROUP BY source
    )
    SELECT *,
           CAST(CASE WHEN n_chars > 0
                     THEN (1000 * n_oov_chars) // n_chars
                     ELSE 0 END AS BIGINT) AS oov_permille
    FROM agg
"""


ORACLE["vocab_coverage"] = _vocab_coverage_oracle()

ORACLE["duplicate_spans"] = """
    -- replay of textops.duplicate_spans: sliding 8-word windows,
    -- earliest-doc ownership (dedup_passage's), duplicated positions
    -- merged gaps-and-islands into inclusive 0-based word spans;
    -- empty tokens filtered so positions share the word space
    -- remove_duplicate_spans cuts in
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), p AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               array_to_string(ws[i:i+7], ' ') AS passage
        FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 6)) AS i) g
        WHERE len(ws) >= 8
    ), own AS (
        SELECT passage, min(doc_id) AS _owner FROM p GROUP BY passage
    ), dup AS (
        SELECT p.doc_id, p.pos FROM p JOIN own USING (passage)
        WHERE own._owner < p.doc_id
    ), isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS g
        FROM dup
    )
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 7 AS BIGINT) AS span_end,
           CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_words,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, g
"""

ORACLE["mlm_masking"] = """
    -- replay of textops.mlm_masking at rate_permille=150; DuckDB list
    -- lambdas index from 1 where Spark's index from 0, hence i - 1
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), m AS (
        SELECT doc_id, ws,
               list_transform(ws, (x, i) ->
                 CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                            || ':' || CAST(i - 1 AS VARCHAR)), 18, 15)
                           )::BIGINT % 1000 < 150
                      THEN '[MASK]' ELSE x END) AS cw,
               len(list_filter(ws, (x, i) ->
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                     CAST(i - 1 AS VARCHAR)), 18, 15))::BIGINT % 1000
                 < 150)) AS nm
        FROM w
    )
    SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(nm AS BIGINT) AS n_masked,
           CAST(CASE WHEN len(ws) > 0 THEN (1000 * nm) // len(ws)
                     ELSE 0 END AS BIGINT) AS masked_permille,
           array_to_string(cw, ' ') AS corrupted
    FROM m
"""

ORACLE["zipf_fit"] = """
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS term
        FROM documents
    ), counts AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS freq
        FROM toks GROUP BY source, term
    ), tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(freq) AS BIGINT) AS n_tokens
        FROM counts GROUP BY source
    ), ranked AS (
        SELECT source, freq,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY freq DESC, term ASC) AS BIGINT) AS rank
        FROM counts
    ), top AS (SELECT * FROM ranked WHERE rank <= 200),
    arr AS (
        SELECT source,
               list(round(ln(CAST(rank AS DOUBLE)), 6)
                    ORDER BY rank) AS xs,
               list(round(ln(CAST(freq AS DOUBLE)), 6)
                    ORDER BY rank) AS ys,
               list(round(ln(CAST(rank AS DOUBLE)), 6)
                    * round(ln(CAST(rank AS DOUBLE)), 6)
                    ORDER BY rank) AS xxs,
               list(round(ln(CAST(rank AS DOUBLE)), 6)
                    * round(ln(CAST(freq AS DOUBLE)), 6)
                    ORDER BY rank) AS xys,
               CAST(count(*) AS BIGINT) AS n_fit_terms
        FROM top GROUP BY source
    ), sums AS (
        SELECT source, n_fit_terms,
               coalesce(list_reduce(xs, (a, b) -> a + b), 0.0) AS sx,
               coalesce(list_reduce(ys, (a, b) -> a + b), 0.0) AS sy,
               coalesce(list_reduce(xxs, (a, b) -> a + b), 0.0) AS sxx,
               coalesce(list_reduce(xys, (a, b) -> a + b), 0.0) AS sxy
        FROM arr
    )
    SELECT s.source, t.n_terms, t.n_tokens, s.n_fit_terms,
           round((CAST(s.n_fit_terms AS DOUBLE) * sxy - sx * sy)
                 / (CAST(s.n_fit_terms AS DOUBLE) * sxx - sx * sx), 6)
               AS slope,
           round((sy * sxx - sx * sxy)
                 / (CAST(s.n_fit_terms AS DOUBLE) * sxx - sx * sx), 6)
               AS intercept
    FROM sums s JOIN tot t ON s.source = t.source
    WHERE s.n_fit_terms >= 2
"""

ORACLE["fuzzy_join_blocked"] = """
    WITH names AS (
        SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows
        FROM part GROUP BY p_name
    ), b AS (
        SELECT name, n_rows, string_split(name, ' ')[-1] AS block,
               length(name) AS l
        FROM names
    )
    SELECT a.block AS block, a.name AS name_a, b2.name AS name_b,
           CAST(levenshtein(a.name, b2.name) AS BIGINT) AS lev,
           a.n_rows AS n_rows_a, b2.n_rows AS n_rows_b
    FROM b a JOIN b b2
      ON a.block = b2.block AND a.name < b2.name
     AND abs(a.l - b2.l) <= 4
    WHERE levenshtein(a.name, b2.name) <= 4
"""

ORACLE["bloom_decontaminate"] = f"""
    -- replay of textops.bloom_decontaminate: the bitmap probe is
    -- semantically a semi-join against the DISTINCT reference hash
    -- positions (a gram hits iff all k=3 positions are set)
    WITH d AS (
        SELECT doc_id, text, string_split(lower(text), ' ') AS ws
        FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(list_distinct(
                   {_SQL_SHINGLES3.format(ws="ws", t="text")})) AS ngram
        FROM d
    ), bpos AS (
        SELECT DISTINCT ('0x' || substr(md5(ngram || '#' || j), 18, 15)
                        )::BIGINT % 65536 AS pos
        FROM (SELECT DISTINCT ngram FROM g WHERE doc_id % 97 = 0),
             (VALUES (0), (1), (2)) t(j)
    ), cpos AS (
        SELECT doc_id, ngram,
               ('0x' || substr(md5(ngram || '#' || j), 18, 15)
               )::BIGINT % 65536 AS pos
        FROM g, (VALUES (0), (1), (2)) t(j)
        WHERE doc_id % 97 <> 0
    ), gh AS (
        SELECT c.doc_id, c.ngram,
               sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS k_hit,
               count(*) AS k
        FROM cpos c LEFT JOIN bpos b ON c.pos = b.pos
        GROUP BY c.doc_id, c.ngram
    ), per AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN k_hit = k THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_hits
        FROM gh GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(p.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
           CAST(coalesce(p.n_bloom_hits, 0) >= 2 AS INT) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) c
    LEFT JOIN per p USING (doc_id)
"""

ORACLE["dedup_span_clean"] = """
    -- duplicate_spans replay + the cut: DuckDB list lambdas index from
    -- 1 (hence i - 1); array_to_string of an empty list is NULL in
    -- DuckDB where Spark's array_join is '' — coalesce to ''.
    -- Empty tokens filtered up front: ONE word space for both the
    -- span computation and the cut (r8 advice fix)
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), p AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               array_to_string(ws[i:i+7], ' ') AS passage
        FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 6)) AS i) g
        WHERE len(ws) >= 8
    ), own AS (
        SELECT passage, min(doc_id) AS _owner FROM p GROUP BY passage
    ), dup AS (
        SELECT p.doc_id, p.pos FROM p JOIN own USING (passage)
        WHERE own._owner < p.doc_id
    ), isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS g
        FROM dup
    ), spans AS (
        SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
        FROM isl GROUP BY doc_id, g
    ), sp AS (
        SELECT doc_id, list(struct_pack(s := s, e := e)) AS sps
        FROM spans GROUP BY doc_id
    ), j AS (
        SELECT w.doc_id, w.ws AS ws,
               coalesce(sp.sps, []) AS sps
        FROM w LEFT JOIN sp USING (doc_id)
    ), cut AS (
        SELECT doc_id, ws,
               list_filter(ws, (x, i) ->
                 len(list_filter(sps, s -> i - 1 >= s.s
                                       AND i - 1 <= s.e)) = 0) AS kept
        FROM j
    )
    SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(ws) - len(kept) AS BIGINT) AS n_removed,
           CAST(CASE WHEN len(ws) > 0
                     THEN (1000 * (len(ws) - len(kept))) // len(ws)
                     ELSE 0 END AS BIGINT) AS removed_permille,
           coalesce(array_to_string(kept, ' '), '') AS cleaned
    FROM cut
"""

ORACLE["image_dedup_ahash"] = IMAGE_DEDUP_AHASH_SQL

ORACLE["audio_dedup_fingerprint"] = AUDIO_DEDUP_FP_SQL

ORACLE["video_dedup_framehash"] = VIDEO_DEDUP_FRAMEHASH_SQL

# crossmodal_leakage (registry.q_crossmodal_leakage) composes
# the three media trajectories as subqueries — DuckDB accepts a WITH
# inside a derived table — plus the ngram_jaccard verify around them.
ORACLE["crossmodal_leakage"] = f"""
    WITH img AS (SELECT id_a, id_b FROM ({{img_sql}})),
         aud AS (SELECT id_a, id_b FROM ({{aud_sql}})),
         vid AS (SELECT id_a, id_b FROM ({{vid_sql}})),
         pairs AS (
             SELECT 'image' AS modality, id_a, id_b FROM img
             UNION ALL SELECT 'audio', id_a, id_b FROM aud
             UNION ALL SELECT 'video', id_a, id_b FROM vid
         ), sh AS (
             SELECT doc_id,
                    list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")})
                        AS s
             FROM (SELECT doc_id, text,
                          string_split(lower(text), ' ') AS ws
                   FROM documents WHERE doc_id < 200)
         ), j AS (
             SELECT p.modality,
                    round(len(list_intersect(sa.s, sb.s))
                          / len(list_distinct(list_concat(sa.s, sb.s))),
                          6) AS jaccard
             FROM pairs p
             JOIN sh sa ON sa.doc_id = p.id_a
             JOIN sh sb ON sb.doc_id = p.id_b
         )
    SELECT modality,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           CAST(sum(CASE WHEN jaccard < 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_escaped,
           CAST(1000 * sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS catch_permille,
           coalesce(round(max(CASE WHEN jaccard < 0.5 THEN jaccard END),
                          6), -1.0) AS escaped_max_jaccard
    FROM j GROUP BY modality
""".format(
    img_sql=IMAGE_DEDUP_AHASH_SQL,
    aud_sql=AUDIO_DEDUP_FP_SQL,
    vid_sql=VIDEO_DEDUP_FRAMEHASH_SQL,
)


def _lpa_oracle(rounds: int = 3) -> str:
    prev = "l0"
    cte = """
    WITH fwd AS (
        SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
               'c' || CAST(o_custkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderkey % 4 = 0
    ), edges AS (
        SELECT src, dst FROM fwd
        UNION ALL SELECT dst AS src, src AS dst FROM fwd
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
        UNION SELECT DISTINCT dst AS node FROM edges
    ), l0 AS (
        SELECT node, node AS label FROM nodes
    )"""
    for r in range(1, rounds + 1):
        cte += f""", p{r} AS (
        SELECT node, label FROM (
            SELECT e.dst AS node, l.label,
                   row_number() OVER (
                       PARTITION BY e.dst
                       ORDER BY count(*) DESC, l.label ASC) AS rk
            FROM edges e JOIN {prev} l ON e.src = l.node
            GROUP BY e.dst, l.label
        ) WHERE rk = 1
    ), l{r} AS (
        SELECT n.node, coalesce(p.label, n.node) AS label
        FROM nodes n LEFT JOIN p{r} p USING (node)
    )"""
        prev = f"l{r}"
    return cte + f"""
    SELECT node, label FROM {prev}
"""


ORACLE["graph_label_propagation"] = _lpa_oracle(3)


def _wordpiece_oracle(max_steps: int = 16) -> str:
    from ..operators import unigram as _ug

    pieces = [p["piece"] for p in _ug.PINNED_PIECES]
    pos_sql, cnt_sql, unk_sql = tokenize.wordpiece_step_sqls(pieces)
    cte = """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS w
        FROM documents
    ), s0 AS (
        SELECT DISTINCT w, CAST(length(w) AS INT) AS w_len,
               CAST(1 AS INT) AS pos, CAST(0 AS INT) AS cnt,
               CAST(0 AS INT) AS unk
        FROM toks
    )"""
    prev = "s0"
    for i in range(1, max_steps + 1):
        cte += f""", s{i} AS (
        SELECT w, w_len, {pos_sql}, {cnt_sql}, {unk_sql} FROM {prev}
    )"""
        prev = f"s{i}"
    return cte + f""", vocab AS (
        SELECT w, CAST(w_len AS BIGINT) AS w_chars,
               CAST(CASE WHEN unk = 1 OR pos <= w_len THEN 1 ELSE cnt
                    END AS BIGINT) AS w_tokens,
               CAST(CASE WHEN unk = 1 OR pos <= w_len THEN 1 ELSE 0
                    END AS BIGINT) AS w_unk
        FROM {prev}
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(w_chars) AS BIGINT) AS n_chars,
           CAST(sum(w_tokens) AS BIGINT) AS n_wp_tokens,
           CAST(sum(w_unk) AS BIGINT) AS n_unk_words
    FROM toks JOIN vocab USING (w) GROUP BY doc_id
"""


ORACLE["wordpiece_encode"] = _wordpiece_oracle(16)


def _er_oracle(hops: int = 4) -> str:
    cte = """
    WITH names AS (
        SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows
        FROM part GROUP BY p_name
    ), b AS (
        SELECT name, string_split(name, ' ')[-1] AS block,
               length(name) AS l
        FROM names
    ), pairs AS (
        SELECT a.name AS name_a, b2.name AS name_b
        FROM b a JOIN b b2
          ON a.block = b2.block AND a.name < b2.name
         AND abs(a.l - b2.l) <= 4
        WHERE levenshtein(a.name, b2.name) <= 4
    ), edges AS (
        SELECT name_a AS src, name_b AS dst FROM pairs
        UNION ALL SELECT name_b AS src, name_a AS dst FROM pairs
    ), l0 AS (
        SELECT name, name AS canonical FROM names
    )"""
    prev = "l0"
    for i in range(1, hops + 1):
        cte += f""", m{i} AS (
        SELECT e.dst AS name, min(l.canonical) AS nmin
        FROM edges e JOIN {prev} l ON e.src = l.name
        GROUP BY e.dst
    ), l{i} AS (
        SELECT l.name,
               least(l.canonical, coalesce(m.nmin, l.canonical))
                   AS canonical
        FROM {prev} l LEFT JOIN m{i} m USING (name)
    )"""
        prev = f"l{i}"
    return cte + f""", sizes AS (
        SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size
        FROM {prev} GROUP BY canonical
    )
    SELECT n.name, l.canonical, n.n_rows, s.cluster_size,
           CAST(n.name = l.canonical AS INT) AS is_canonical
    FROM names n JOIN {prev} l USING (name)
    JOIN sizes s USING (canonical)
"""


ORACLE["entity_resolution"] = _er_oracle(4)

ORACLE["events_survival"] = """
    WITH horizon AS (SELECT max(ts) AS max_ts FROM events),
    per_user AS (
        SELECT CAST(floor(date_diff('day', CAST(min(ts) AS DATE),
                                    CAST(max(ts) AS DATE)) / 7)
                    AS BIGINT) AS duration_wk,
               CASE WHEN max(ts) < (SELECT max_ts FROM horizon)
                                   - INTERVAL 14 DAY
                    THEN 1 ELSE 0 END AS churned
        FROM events GROUP BY user_id
    ), total AS (SELECT CAST(count(*) AS BIGINT) AS t FROM per_user),
    steps AS (
        SELECT duration_wk,
               CAST(sum(churned) AS BIGINT) AS n_churned,
               CAST(sum(1 - churned) AS BIGINT) AS n_censored,
               CAST(count(*) AS BIGINT) AS n_end
        FROM per_user GROUP BY duration_wk
    ), cum AS (
        SELECT duration_wk, n_churned, n_censored,
               (SELECT t FROM total)
                 - (sum(n_end) OVER w - n_end) AS n_at_risk,
               n_end
        FROM steps
        WINDOW w AS (ORDER BY duration_wk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), terms AS (
        SELECT duration_wk, n_at_risk, n_churned, n_censored,
               CASE WHEN n_churned < n_at_risk
                    THEN round(ln(CAST(n_at_risk - n_churned AS DOUBLE)
                                  / CAST(n_at_risk AS DOUBLE)), 6)
                    ELSE 0.0 END AS lnf,
               CASE WHEN n_churned >= n_at_risk THEN 1 ELSE 0 END AS dead
        FROM cum
    )
    SELECT duration_wk, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_churned, n_censored,
           CASE WHEN max(dead) OVER w = 1 THEN 0.0
                ELSE round(exp(sum(lnf) OVER w), 6) END AS survival
    FROM terms
    WINDOW w AS (ORDER BY duration_wk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

ORACLE["events_cohort_ltv"] = """
    WITH cohort AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_wk
        FROM events GROUP BY user_id
    ), per AS (
        SELECT CAST(epoch_us(c.cohort_wk) AS BIGINT) AS cohort_us,
               CAST(floor(date_diff('day', c.cohort_wk,
                                    date_trunc('week', e.ts)) / 7)
                    AS BIGINT) AS wk_offset,
               CAST(count(DISTINCT e.user_id) AS BIGINT)
                   AS n_active_users,
               round(sum(e.value), 2) AS period_value
        FROM events e JOIN cohort c USING (user_id)
        GROUP BY 1, 2
    )
    SELECT cohort_us, wk_offset, n_active_users, period_value,
           round(sum(period_value) OVER (
               PARTITION BY cohort_us ORDER BY wk_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS cum_value
    FROM per
"""

ORACLE["term_burstiness"] = """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY doc_id, term
    ), agg AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c) AS BIGINT) AS tf,
               CAST(sum(c * c) AS BIGINT) AS c2
        FROM tf GROUP BY term
    )
    SELECT term, df, tf,
           round(CAST(tf AS DOUBLE) / df, 6) AS mean_tf,
           round(CAST(df * c2 - tf * tf AS DOUBLE)
                 / CAST(df * tf AS DOUBLE), 6) AS vmr
    FROM agg WHERE df >= 5
"""

ORACLE["events_seasonality"] = """
    WITH e AS (
        SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hour, user_id
        FROM events
    ), t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events),
    g AS (
        SELECT dow, hour, CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM e GROUP BY dow, hour
    )
    SELECT dow, hour, n_events, n_users,
           CAST((1000 * n_events) // total AS BIGINT) AS share_permille,
           CAST((1000 * n_events * 168) // total AS BIGINT)
               AS vs_uniform_permille
    FROM g, t
"""

ORACLE["dedup_similarity_capped"] = f"""
    -- capped replay: df per shingle over the DISTINCT per-doc shingle
    -- stream, shingles with df > 4 excluded from candidate generation
    -- (anti join), exact jaccard verified on the FULL shingle sets
    WITH sh AS (
        SELECT doc_id,
               list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS s
        FROM (SELECT doc_id, text,
                     string_split(lower(text), ' ') AS ws
              FROM documents)
    ), ex AS (
        SELECT doc_id, unnest(s) AS shingle FROM sh
    ), hot AS (
        SELECT shingle FROM (
            SELECT shingle, count(*) AS df FROM ex GROUP BY shingle
        ) WHERE df > 4
    ), cold AS (
        SELECT e.doc_id, e.shingle FROM ex e
        ANTI JOIN hot h ON e.shingle = h.shingle
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM cold a JOIN cold b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
               round(len(list_intersect(sa.s, sb.s))
                     / len(list_distinct(list_concat(sa.s, sb.s))), 6)
                   AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
    ) WHERE jaccard >= 0.5
"""

ORACLE["syllable_profile"] = """
    WITH w AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS w
        FROM documents
    ), s AS (
        SELECT source,
               CAST(len(regexp_extract_all(w, '[aeiou]+')) AS BIGINT)
                   AS syl
        FROM w
    ), g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(syl) AS BIGINT) AS n_syllables,
               CAST(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_complex,
               CAST(sum(CASE WHEN syl <= 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_mono
        FROM s GROUP BY source
    )
    SELECT source, n_words, n_syllables, n_complex, n_mono,
           CAST((1000 * n_syllables) // n_words AS BIGINT)
               AS syl_per_word_permille,
           CAST((1000 * n_complex) // n_words AS BIGINT)
               AS complex_permille,
           CAST((1000 * n_mono) // n_words AS BIGINT) AS mono_permille
    FROM g
"""

ORACLE["sample_gumbel_topk"] = """
    -- Efraimidis-Spirakis replay: u from the md5-position hash
    -- (10 hex chars = 40 bits), key = (qln(h+1) - qln(2^40)) / w,
    -- each log quantized to 6 dp before the division (zipf_fit rules)
    WITH s AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
               round((round(ln(CAST(('0x' || substr(
                          md5(CAST(doc_id AS VARCHAR)), 23, 10))::BIGINT
                          + 1 AS DOUBLE)), 6)
                      - round(ln(1099511627776.0), 6))
                     / CAST(n_chars AS DOUBLE), 6) AS gumbel_key
        FROM documents WHERE n_chars > 0
    ), r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY source
                   ORDER BY gumbel_key DESC, doc_id ASC) AS rk
        FROM s
    )
    SELECT doc_id, source, weight, gumbel_key,
           CAST(rk AS BIGINT) AS sample_rank
    FROM r WHERE rk <= 100
"""

ORACLE["heaps_law"] = """
    WITH cps(cp) AS (VALUES (64),(128),(256),(512),(1024),(2048),
                            (4096),(8192),(16384),(32768),(65536)),
    toks AS (
        SELECT source, doc_id AS d,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS term
        FROM documents
    ), fo AS (
        SELECT source, term, min(d) AS first_d
        FROM toks GROUP BY source, term
    ), v AS (
        SELECT source, cp, CAST(count(*) AS BIGINT) AS vocab
        FROM fo, cps WHERE first_d <= cp GROUP BY source, cp
    ), dt AS (
        SELECT source, doc_id AS d,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS BIGINT) AS nt
        FROM documents
    ), n AS (
        SELECT source, cp, CAST(sum(nt) AS BIGINT) AS tokens
        FROM dt, cps WHERE d <= cp GROUP BY source, cp
    ), pts AS (
        SELECT source, tokens, vocab, min(cp) AS cp
        FROM v JOIN n USING (source, cp)
        WHERE vocab > 0 AND tokens > 0
        GROUP BY source, tokens, vocab
    ), arr AS (
        SELECT source,
               list(round(ln(CAST(tokens AS DOUBLE)), 6)
                    ORDER BY cp) AS xs,
               list(round(ln(CAST(vocab AS DOUBLE)), 6)
                    ORDER BY cp) AS ys,
               list(round(ln(CAST(tokens AS DOUBLE)), 6)
                    * round(ln(CAST(tokens AS DOUBLE)), 6)
                    ORDER BY cp) AS xxs,
               list(round(ln(CAST(tokens AS DOUBLE)), 6)
                    * round(ln(CAST(vocab AS DOUBLE)), 6)
                    ORDER BY cp) AS xys,
               CAST(count(*) AS BIGINT) AS n_fit_points,
               CAST(max(vocab) AS BIGINT) AS vocab_final,
               CAST(max(tokens) AS BIGINT) AS tokens_final
        FROM pts GROUP BY source HAVING count(*) >= 2
    ), sums AS (
        SELECT source, n_fit_points, vocab_final, tokens_final,
               list_reduce(xs, (a, b) -> a + b) AS sx,
               list_reduce(ys, (a, b) -> a + b) AS sy,
               list_reduce(xxs, (a, b) -> a + b) AS sxx,
               list_reduce(xys, (a, b) -> a + b) AS sxy
        FROM arr
    )
    SELECT source, n_fit_points, vocab_final, tokens_final,
           round((CAST(n_fit_points AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n_fit_points AS DOUBLE) * sxx - sx * sx), 6)
               AS beta,
           round((sy * sxx - sx * sxy)
                 / (CAST(n_fit_points AS DOUBLE) * sxx - sx * sx), 6)
               AS log_k
    FROM sums
"""

ORACLE["events_changepoint"] = """
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                    AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ), c AS (
        SELECT event_type, day, n_events,
               CAST(sum(n_events) OVER (PARTITION BY event_type
                    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
                    CURRENT ROW) AS BIGINT) AS cum_events,
               CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY day) AS BIGINT) AS day_ix
        FROM daily
    ), t AS (
        SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY event_type
    )
    SELECT c.event_type, c.day, c.n_events, c.cum_events, c.day_ix,
           CAST(t.n_days * c.cum_events - c.day_ix * t.total AS BIGINT)
               AS dev_scaled
    FROM c JOIN t ON c.event_type = t.event_type
"""

ORACLE["split_leakage"] = f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct({_SQL_SHINGLES3.format(ws="ws", t="text")}) AS s
        FROM (SELECT doc_id, text,
                     string_split(lower(text), ' ') AS ws
              FROM documents WHERE doc_id % 5 = 0)
    ), pairs AS (
        SELECT id_a, id_b, jaccard FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s))
                         / len(list_distinct(list_concat(a.s, b.s))), 6)
                       AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.5
    ), sp AS (
        SELECT doc_id,
               CASE WHEN ((doc_id % 2147483648) * 2654435761)
                         % 4294967296 % 10 < 8
                    THEN 'train'
                    WHEN ((doc_id % 2147483648) * 2654435761)
                         % 4294967296 % 10 < 9
                    THEN 'val' ELSE 'test' END AS split
        FROM documents
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           CAST(count(*) AS BIGINT) AS n_leaked_pairs,
           CAST(sum(CASE WHEN jaccard >= 1.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dups,
           max(jaccard) AS max_jaccard
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.id_a
    JOIN sp sb ON sb.doc_id = p.id_b
    WHERE sa.split <> sb.split
    GROUP BY sa.split, sb.split
"""


def _kcore_oracle(k: int = 3, rounds: int = 3) -> str:
    head = """
    WITH e AS (
        SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
               CAST(o_custkey AS BIGINT) + 100000 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderkey % 4 = 0
    ), e0 AS (
        SELECT src AS a, dst AS b FROM e
        UNION ALL
        SELECT dst, src FROM e WHERE src <> dst
    ), nodes AS (SELECT DISTINCT a AS node FROM e0)"""
    body = ""
    prev = "e0"
    for r in range(1, rounds + 1):
        body += f""",
    d{r} AS (SELECT a, count(*) AS deg FROM {prev} GROUP BY a),
    k{r} AS (SELECT a FROM d{r} WHERE deg >= {k}),
    e{r} AS (
        SELECT p.a, p.b FROM {prev} p
        WHERE p.a IN (SELECT a FROM k{r})
          AND p.b IN (SELECT a FROM k{r})
    )"""
        prev = f"e{r}"
    tail = f""",
    fd AS (SELECT a, CAST(count(*) AS BIGINT) AS core_degree
           FROM {prev} GROUP BY a)
    SELECT node,
           CAST(coalesce(core_degree, 0) AS BIGINT) AS core_degree,
           CAST(CASE WHEN fd.a IS NULL THEN 0 ELSE 1 END AS INT)
               AS in_core
    FROM nodes LEFT JOIN fd ON nodes.node = fd.a"""
    return head + body + tail


ORACLE["graph_kcore"] = _kcore_oracle()

ORACLE["events_robust_zscore"] = """
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_type, m.med,
               round(abs(e.value - m.med), 4) AS dev
        FROM events e JOIN med m USING (event_type)
    ), agg AS (
        SELECT event_type, med,
               CAST(count(*) AS BIGINT) AS n_events,
               round(quantile_cont(dev, 0.5), 4) AS mad
        FROM dev GROUP BY event_type, med
    )
    SELECT a.event_type, a.n_events, a.med, a.mad,
           CAST(sum(CASE WHEN CAST(floor(d.dev * 10000) AS BIGINT)
                              > 3 * CAST(floor(a.mad * 10000) AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST((1000 * sum(CASE WHEN CAST(floor(d.dev * 10000) AS BIGINT)
                              > 3 * CAST(floor(a.mad * 10000) AS BIGINT)
                         THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
               AS outlier_permille
    FROM agg a JOIN dev d ON a.event_type = d.event_type
    GROUP BY a.event_type, a.n_events, a.med, a.mad
"""


def _ivfpq_residual_pinned_oracle_sql() -> str:
    from ..pca_oracle_literals import PINNED_PQ_CODEBOOKS  # noqa: PLC0415

    sub = 8
    rows = []
    for s, entries in sorted(PINNED_PQ_CODEBOOKS.items()):
        for code, cent in entries:
            lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
            nh = repr(sum(v * v for v in cent) / 2.0)
            rows.append(f"({s}, {code}, {lit}, {nh})")
    values = ",\n        ".join(rows)
    return f"""
    WITH cb(subspace, code, centroid, nh) AS (VALUES
        {values}
    ), cents AS (
        SELECT label AS centroid_id, embedding AS centroid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY label ORDER BY vec_id) AS rn
            FROM embeddings
        ) WHERE rn = 1
    ), assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_SQL_COS.format(a="e.embedding", b="c.centroid")} DESC,
                                c.centroid_id ASC
                   ) AS rk
            FROM embeddings e, cents c
        ) WHERE rk = 1
    ), enc_scored AS (
        SELECT e.vec_id, a.centroid_id, b.subspace, b.code,
               round(list_dot_product(
                   list_transform(list_zip(
                       (e.embedding::DOUBLE[])
                           [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                       (ct.centroid::DOUBLE[])
                           [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}]
                   ), t -> t[1] - t[2]),
                   b.centroid) - b.nh, 6) AS score
        FROM embeddings e
        JOIN assign a USING (vec_id)
        JOIN cents ct ON ct.centroid_id = a.centroid_id, cb b
    ), codes AS (
        SELECT vec_id, centroid_id, subspace, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, subspace
                ORDER BY score DESC, code ASC
            ) AS rk
            FROM enc_scored
        ) WHERE rk = 1
    ), qp AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 3
    ), probes AS (
        SELECT query_id, centroid_id, qc_dot FROM (
            SELECT q.query_id, c.centroid_id,
                   round(list_dot_product(q.qe::DOUBLE[],
                                          c.centroid::DOUBLE[]), 6)
                       AS qc_dot,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_SQL_COS.format(a="q.qe", b="c.centroid")} DESC,
                                c.centroid_id ASC
                   ) AS prk
            FROM qp q, cents c
        ) WHERE prk <= 2
    ), cand AS (
        SELECT p.query_id, a.vec_id, p.qc_dot
        FROM assign a JOIN probes p USING (centroid_id)
    ), adc_table AS (
        SELECT q.query_id, b.subspace, b.code,
               CAST(round(list_dot_product(
                   (q.qe::DOUBLE[])
                       [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                   b.centroid), 6) AS DECIMAL(18,6)) AS partial
        FROM qp q, cb b
    ), adc AS (
        SELECT n.query_id, n.vec_id,
               round(CAST(sum(t.partial)
                          + CAST(n.qc_dot AS DECIMAL(18,6)) AS DOUBLE),
                     6) AS adc_score
        FROM cand n
        JOIN codes c USING (vec_id)
        JOIN adc_table t
          ON t.query_id = n.query_id
         AND t.subspace = c.subspace AND t.code = c.code
        GROUP BY n.query_id, n.vec_id, n.qc_dot
    ), short AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY adc_score DESC, vec_id ASC
            ) AS crk
            FROM adc
        ) WHERE crk <= 50
    ), rescored AS (
        SELECT s.query_id, s.vec_id, s.adc_score,
               {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN qp q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, sim, adc_score, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id ASC
        ) AS rk
        FROM rescored
    ) WHERE rk <= 5
"""


ORACLE["ann_ivfpq_residual_pinned"] = _ivfpq_residual_pinned_oracle_sql()

ORACLE["rollup_incremental"] = """
    -- the FULL recompute: equality with Spark's base+delta merge is
    -- the IVM associativity proof
    SELECT event_type,
           CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4)))
                      AS DOUBLE), 4) AS val_sum,
           CAST(CASE WHEN max(ts) >= TIMESTAMP '2024-01-21 00:00:00'
                     THEN 1 ELSE 0 END AS INT) AS refreshed
    FROM events GROUP BY 1, 2
"""

# The binned CTE and the estimator tail are SEPARATE texts so the DP
# release below composes the SAME estimator over noised counts — the
# lm_kneser_ney one-SQL-text discipline.
_QH_BINNED_SQL = """
        SELECT event_type,
               CAST(floor(CAST(CAST(round(value, 4) AS DECIMAL(18,4))
                               * 10000 AS BIGINT) / 2500)
                    AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
"""

_QH_EST_SQL = """ tot AS (
        SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM binned
        GROUP BY event_type
    ), cum AS (
        SELECT b.event_type, b.bin, b.c, t.n,
               CAST(sum(b.c) OVER (PARTITION BY b.event_type
                    ORDER BY b.bin ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS cum
        FROM binned b JOIN tot t USING (event_type)
    ), est AS (
        SELECT event_type, n,
               CAST(count(*) AS BIGINT) AS n_bins,
               min(CASE WHEN cum >= (500 * n + 999) // 1000
                         AND cum - c < (500 * n + 999) // 1000 THEN
                   round((CAST(bin AS DOUBLE) * 2500
                      + (CAST((500 * n + 999) // 1000 - (cum - c)
                             AS DOUBLE) / CAST(c AS DOUBLE)) * 2500)
                     / 10000.0, 6) END) AS p50_est,
               min(CASE WHEN cum >= (900 * n + 999) // 1000
                         AND cum - c < (900 * n + 999) // 1000 THEN
                   round((CAST(bin AS DOUBLE) * 2500
                      + (CAST((900 * n + 999) // 1000 - (cum - c)
                             AS DOUBLE) / CAST(c AS DOUBLE)) * 2500)
                     / 10000.0, 6) END) AS p90_est,
               min(CASE WHEN cum >= (990 * n + 999) // 1000
                         AND cum - c < (990 * n + 999) // 1000 THEN
                   round((CAST(bin AS DOUBLE) * 2500
                      + (CAST((990 * n + 999) // 1000 - (cum - c)
                             AS DOUBLE) / CAST(c AS DOUBLE)) * 2500)
                     / 10000.0, 6) END) AS p99_est
        FROM cum GROUP BY event_type, n
    )
    SELECT event_type, n AS n_events, n_bins, p50_est, p90_est, p99_est
    FROM est
"""

ORACLE["quantile_histogram"] = (
    f"WITH binned AS ({_QH_BINNED_SQL}),{_QH_EST_SQL}"
)

ORACLE["lm_kneser_ney"] = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), bg AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) g
        WHERE len(ws) >= 2
    ), cb AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
        FROM bg GROUP BY w1, w2
    ), cw AS (
        SELECT w1, CAST(count(*) AS BIGINT) AS cw FROM bg GROUP BY w1
    ), n1f AS (
        SELECT w1, CAST(count(*) AS BIGINT) AS n1f FROM cb GROUP BY w1
    ), n1r AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM cb GROUP BY w2
    ), nbb AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM cb),
    ptab AS (
        SELECT cb.w1, cb.w2,
               CAST(round(ln({textops.KN_P_SQL.format(
                   cb="cb.cb", cw="cw.cw", n1f="n1f.n1f",
                   n1r="n1r.n1r", nbb="nbb.nbb")}), 6)
                    AS DECIMAL(18,6)) AS logp
        FROM cb JOIN cw USING (w1) JOIN n1f USING (w1)
                JOIN n1r USING (w2), nbb
    )
    SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(CAST(-sum(p.logp) * 1000000 AS BIGINT) // count(*)
                AS BIGINT) AS kn_neg_logp_micro
    FROM bg JOIN ptab p ON bg.w1 = p.w1 AND bg.w2 = p.w2
    GROUP BY bg.doc_id
"""


def _span_sweep_sql_block(n: int) -> str:
    """One grain leg of the span_grain_sweep oracle: the
    duplicate_spans replay parameterized by window size n (DuckDB list
    slicing is 1-based INCLUSIVE: ws[i:i+n-1] is n words)."""
    return f"""
        SELECT CAST({n} AS BIGINT) AS grain_n,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_affected,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(coalesce(sum(span_words), 0) AS BIGINT) AS dup_words
        FROM (
            SELECT doc_id,
                   CAST(max(pos) + {n - 1} - min(pos) + 1 AS BIGINT)
                       AS span_words
            FROM (
                SELECT doc_id, pos,
                       pos - row_number() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS g
                FROM (
                    SELECT p.doc_id, p.pos
                    FROM (
                        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                               array_to_string(ws[i:i+{n - 1}], ' ')
                                   AS passage
                        FROM (SELECT doc_id,
                                     list_filter(string_split(text, ' '),
                                                 x -> x <> '') AS ws
                              FROM documents WHERE doc_id % 5 = 0),
                             LATERAL (SELECT unnest(
                                 range(1, len(ws) - {n - 2})) AS i) t
                        WHERE len(ws) >= {n}
                    ) p
                    JOIN (
                        SELECT passage, min(doc_id) AS _owner
                        FROM (
                            SELECT doc_id,
                                   array_to_string(ws[i:i+{n - 1}], ' ')
                                       AS passage
                            FROM (SELECT doc_id,
                                         list_filter(
                                             string_split(text, ' '),
                                             x -> x <> '') AS ws
                                  FROM documents WHERE doc_id % 5 = 0),
                                 LATERAL (SELECT unnest(
                                     range(1, len(ws) - {n - 2})) AS i) t
                            WHERE len(ws) >= {n}
                        ) GROUP BY passage
                    ) o ON p.passage = o.passage
                    WHERE o._owner < p.doc_id
                )
            ) GROUP BY doc_id, g
        )
    """


ORACLE["span_grain_sweep"] = f"""
    WITH legs AS (
        {_span_sweep_sql_block(4)}
        UNION ALL {_span_sweep_sql_block(8)}
        UNION ALL {_span_sweep_sql_block(12)}
        UNION ALL {_span_sweep_sql_block(16)}
    ), tot AS (
        SELECT CAST(sum(len(list_filter(string_split(text, ' '),
                                        x -> x <> ''))) AS BIGINT) AS tw
        FROM documents WHERE doc_id % 5 = 0
    )
    SELECT s.grain_n, s.n_docs_affected, s.n_spans, s.dup_words,
           CAST(1000 * s.dup_words // t.tw AS BIGINT) AS cut_permille
    FROM legs s, tot t
"""

_KMV_SQL_CORE = f"""
        SELECT DISTINCT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))
                   ::BIGINT AS h
        FROM events
"""

ORACLE["distinct_kmv"] = f"""
    WITH d AS ({_KMV_SQL_CORE}
    ), r AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn
        FROM d
    ), sk AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch,
               CAST(max(h) AS BIGINT) AS kth_min
        FROM r WHERE rn <= {_KMV_K} GROUP BY event_type
    ), ex AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT s.event_type, e.n_exact, s.n_sketch, s.kth_min,
           CAST(CASE WHEN s.n_sketch < {_KMV_K} THEN s.n_sketch
                     ELSE {_KMV_K - 1} * {_KMV_M} // s.kth_min END
                AS BIGINT) AS est_distinct
    FROM sk s JOIN ex e USING (event_type)
"""

ORACLE["distinct_kmv_merge"] = f"""
    -- the DIRECT whole-corpus KMV: equality with Spark's per-day
    -- build-then-merge is the mergeability proof
    WITH d AS ({_KMV_SQL_CORE}
    ), r AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn
        FROM d
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch,
           CAST(max(h) AS BIGINT) AS kth_min,
           CAST(CASE WHEN count(*) < {_KMV_K} THEN count(*)
                     ELSE {_KMV_K - 1} * {_KMV_M} // max(h) END
                AS BIGINT) AS est_distinct
    FROM r WHERE rn <= {_KMV_K} GROUP BY event_type
"""

ORACLE["graph_link_prediction"] = f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey % 4 = 0
    ), cdeg AS (
        SELECT cust, CAST(count(*) AS BIGINT) AS cdeg
        FROM edges GROUP BY cust
    ), kept AS (
        SELECT e.cust, e.supp, c.cdeg
        FROM edges e JOIN cdeg c USING (cust)
        WHERE c.cdeg >= 2 AND c.cdeg <= {_LP_MAX_CUST_DEG}
    ), sdeg AS (
        SELECT supp, CAST(count(*) AS BIGINT) AS sdeg
        FROM kept GROUP BY supp
    ), pairs AS (
        SELECT a.supp AS s_a, b.supp AS s_b,
               CAST(count(*) AS BIGINT) AS common_neighbors,
               CAST(sum(CAST(round(1.0 / ln(a.cdeg), 6)
                             AS DECIMAL(18,6))) AS DECIMAL(18,6))
                   AS adamic_adar
        FROM kept a JOIN kept b
          ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY a.supp, b.supp
    )
    SELECT p.s_a, p.s_b, p.common_neighbors,
           round(p.common_neighbors
                 / (da.sdeg + db.sdeg - p.common_neighbors), 6)
               AS jaccard,
           CAST(p.adamic_adar AS DOUBLE) AS adamic_adar
    FROM pairs p
    JOIN sdeg da ON da.supp = p.s_a
    JOIN sdeg db ON db.supp = p.s_b
    ORDER BY CAST(p.adamic_adar AS DOUBLE) DESC,
             p.common_neighbors DESC, p.s_a, p.s_b
    LIMIT {_LP_TOP}
"""

_RAKE_SW_SQL = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)

ORACLE["keywords_rake"] = f"""
    WITH toks AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
        FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 x -> x <> '') AS ws
              FROM documents),
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) t
        WHERE ws[i] NOT IN ({_RAKE_SW_SQL})
    ), isl AS (
        SELECT doc_id, pos, word,
               pos - row_number() OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS g
        FROM toks
    ), plen AS (
        SELECT doc_id, g, CAST(count(*) AS BIGINT) AS plen
        FROM isl GROUP BY doc_id, g
    ), occ AS (
        SELECT i.doc_id, i.g, i.pos, i.word, p.plen
        FROM isl i JOIN plen p USING (doc_id, g)
    ), wscore AS (
        SELECT word,
               CAST(1000000 * sum(plen) // count(*) AS BIGINT)
                   AS wscore
        FROM occ GROUP BY word
    ), phrases AS (
        SELECT o.doc_id, o.g,
               string_agg(o.word, ' ' ORDER BY o.pos) AS phrase,
               CAST(sum(w.wscore) AS BIGINT) AS score_micro,
               CAST(count(*) AS BIGINT) AS n_words
        FROM occ o JOIN wscore w USING (word)
        GROUP BY o.doc_id, o.g
    )
    SELECT phrase,
           CAST(max(n_words) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(score_micro) AS BIGINT) AS score_micro
    FROM phrases
    GROUP BY phrase
    ORDER BY max(score_micro) DESC, phrase
    LIMIT {_RAKE_TOP}
"""

# the full rebuild IS the oracle — value equality with the carrier
# merge (registry.q_scd_merge_incremental) is the IVM proof (the rollup_incremental discipline)
ORACLE["scd_merge_incremental"] = ORACLE["scd_type2"]

ORACLE["interval_merge"] = """
    WITH iv AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS s,
               CAST(epoch_us(ts)
                    + (60 + (event_id % 7) * 90) * 1000000
                    AS BIGINT) AS e,
               event_id
        FROM events
    ), m AS (
        SELECT user_id, s, e, event_id,
               max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
        FROM iv
    ), isl AS (
        SELECT user_id, s, e,
               sum(CASE WHEN prev_max IS NULL OR s > prev_max
                        THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM m
    )
    SELECT user_id, CAST(island AS BIGINT) AS span_ix,
           CAST(min(s) AS BIGINT) AS span_start_us,
           CAST(max(e) AS BIGINT) AS span_end_us,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(max(e) - min(s) AS BIGINT) AS covered_us
    FROM isl GROUP BY user_id, island
"""

_AFP_LIT_VALUES = AUDIO_DEDUP_FP_SQL.split(
    "WITH lit(doc_id, afp) AS (", 1
)[1].split("\n    )", 1)[0]

assert _AFP_LIT_VALUES.count("(") >= 200, "pinned afp literal table moved"

ORACLE["audio_energy_runs"] = f"""
    WITH lit(doc_id, afp) AS ({_AFP_LIT_VALUES}
    ), h AS (
        SELECT l.doc_id, l.afp FROM lit l
        JOIN (SELECT doc_id FROM documents WHERE doc_id < 200) d
          ON l.doc_id = d.doc_id
    ), bits AS (
        SELECT doc_id, i, CAST((afp >> i) & 1 AS INT) AS b
        FROM h, LATERAL (SELECT unnest(range(0, 64)) AS i) t
    ), seq AS (
        SELECT doc_id, i, b,
               lag(b) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM bits
    ), runs AS (
        SELECT doc_id, i, b,
               sum(CASE WHEN prev IS NULL OR prev <> b THEN 1 ELSE 0
                   END) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run
        FROM seq
    ), per_run AS (
        SELECT doc_id, run, min(b) AS b,
               CAST(count(*) AS BIGINT) AS len
        FROM runs GROUP BY doc_id, run
    )
    SELECT doc_id,
           CAST(sum(b * len) AS BIGINT) AS n_high_segments,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(coalesce(max(CASE WHEN b = 1 THEN len END), 0)
                AS BIGINT) AS longest_high_run,
           CAST(coalesce(max(CASE WHEN b = 0 THEN len END), 0)
                AS BIGINT) AS longest_low_run
    FROM per_run GROUP BY doc_id
"""

# slice the pinned (doc_id, frame_ix, fhash) VALUES table out of the
# near-dup oracle so BOTH video oracles share ONE literal inventory
_VID_LIT_VALUES = VIDEO_DEDUP_FRAMEHASH_SQL.split(
    "WITH lit(doc_id, frame_ix, fhash) AS (", 1
)[1].split("\n    ), h AS (", 1)[0]

assert _VID_LIT_VALUES.count("(") >= 1200, "pinned video literal table moved"

ORACLE["video_scene_cuts"] = f"""
    WITH lit(doc_id, frame_ix, fhash) AS ({_VID_LIT_VALUES}
    ), h AS (
        SELECT l.doc_id, l.frame_ix, l.fhash FROM lit l
        JOIN (SELECT doc_id FROM documents WHERE doc_id < 200) d
          ON l.doc_id = d.doc_id
    ), seq AS (
        SELECT doc_id, frame_ix, fhash,
               lag(fhash) OVER (PARTITION BY doc_id
                                ORDER BY frame_ix) AS prev
        FROM h
    ), flags AS (
        SELECT doc_id, frame_ix,
               CASE WHEN prev IS NULL THEN 0
                    WHEN bit_count(xor(fhash, prev)) > 7 THEN 1
                    ELSE 0 END AS is_cut
        FROM seq
    ), scenes AS (
        SELECT doc_id, frame_ix, is_cut,
               sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_ix
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS scene_id
        FROM flags
    ), per_scene AS (
        SELECT doc_id, scene_id, CAST(count(*) AS BIGINT) AS len
        FROM scenes GROUP BY doc_id, scene_id
    ), agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
               CAST(sum(is_cut) AS BIGINT) AS n_cuts
        FROM scenes GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_frames, a.n_cuts,
           CAST(a.n_cuts + 1 AS BIGINT) AS n_scenes,
           CAST(max(p.len) AS BIGINT) AS longest_scene
    FROM agg a JOIN per_scene p USING (doc_id)
    GROUP BY a.doc_id, a.n_frames, a.n_cuts
"""

ORACLE["dp_quantile_release"] = f"""
    WITH rawb AS ({_QH_BINNED_SQL}
    ), binned AS (
        SELECT event_type, bin, c FROM (
            SELECT event_type, bin,
                   CAST(greatest(
                       c + (CASE WHEN m1 = 0 THEN 48
                                 ELSE 48 - len(bin(m1)) END
                          - CASE WHEN m2 = 0 THEN 48
                                 ELSE 48 - len(bin(m2)) END),
                       0) AS BIGINT) AS c
            FROM (
                SELECT *,
                    CAST(('0x' || substr(md5(event_type || '|' ||
                        CAST(bin AS VARCHAR) || '|g1'), 1, 12))
                        AS BIGINT) AS m1,
                    CAST(('0x' || substr(md5(event_type || '|' ||
                        CAST(bin AS VARCHAR) || '|g2'), 1, 12))
                        AS BIGINT) AS m2
                FROM rawb)
        ) WHERE c > 0
    ),{_QH_EST_SQL}"""


def _ann_graph_oracle_sql(
    k: int = 5,
    n_bits: int = 6,
    degree: int = 16,
    bridge: int = 8,
    entry: int = 16,
    beam: int = 32,
    hops: int = 2,
    entry_probe: int = 2,
) -> str:
    """Stage-for-stage DuckDB replay of q_ann_graph_search_pinned: the
    same md5 hyperplane literals (_srp_bucket_sql), the same rounded
    cosine (_SQL_COS), the same rank tiebreaks, the same `hops`
    unrolled beam rounds (CTE chain generated to match nsw_search's
    unrolled loop exactly)."""
    from itertools import combinations

    srp = _srp_bucket_sql("embedding", n_bits=n_bits)
    ring_list = ", ".join(f"xor(bucket, {1 << b})" for b in range(n_bits))
    masks = [0] + [
        sum(1 << b for b in combo)
        for r in range(1, entry_probe + 1)
        for combo in combinations(range(n_bits), r)
    ]
    probe_list = ", ".join(f"xor(qbucket, {m})" for m in masks)
    # edge scoring replays nsw_build's one-fold normalized dot: the
    # per-node unit vector (zero-norm rows pass through, matching
    # l2_normalize), then round(dot, 6)
    norm = "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    nvec = (
        f"CASE WHEN {norm} > 0 THEN "
        f"list_transform(embedding::DOUBLE[], x -> x / {norm}) "
        f"ELSE embedding::DOUBLE[] END"
    )
    edot = "round(list_dot_product(s.nvec, d.nvec), 6)"
    qcos = _SQL_COS.format(a="c.embedding", b="p.qe")
    hcos = _SQL_COS.format(a="c.embedding", b="q.qe")
    sql = f"""
    WITH corpus AS (
      SELECT vec_id, embedding, {nvec} AS nvec, {srp} AS bucket
      FROM embeddings
    ), within_half AS (
      SELECT s.vec_id AS src, d.vec_id AS dst, {edot} AS esim
      FROM corpus s JOIN corpus d
        ON s.bucket = d.bucket AND s.vec_id < d.vec_id
    ), within AS (
      SELECT src, dst, esim FROM within_half
      UNION ALL SELECT dst, src, esim FROM within_half
    ), ring_half AS (
      SELECT s.vec_id AS src, d.vec_id AS dst, {edot} AS esim
      FROM (SELECT vec_id, nvec, bucket,
                   unnest([{ring_list}]) AS pbucket
            FROM corpus) s
      JOIN corpus d ON s.pbucket = d.bucket AND s.bucket < d.bucket
    ), ring_pairs AS (
      SELECT src, dst, esim FROM ring_half
      UNION ALL SELECT dst, src, esim FROM ring_half
    ), edges AS (
      SELECT src, dst FROM (
        SELECT *, row_number() OVER (PARTITION BY src
                                     ORDER BY esim DESC, dst) AS rk
        FROM within) WHERE rk <= {degree}
      UNION
      SELECT src, dst FROM (
        SELECT *, row_number() OVER (PARTITION BY src
                                     ORDER BY esim DESC, dst) AS rk
        FROM ring_pairs) WHERE rk <= {bridge}
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe, bucket AS qbucket
      FROM corpus WHERE vec_id < 3
    ), probes AS (
      SELECT query_id, qe, unnest([{probe_list}]) AS bucket FROM q
    ), entry_cand AS (
      SELECT p.query_id, c.vec_id, {qcos} AS sim
      FROM corpus c JOIN probes p USING (bucket)
    ), v0 AS (
      SELECT query_id, vec_id, sim FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rk
        FROM entry_cand) WHERE rk <= {entry}
    )"""
    prev = "v0"
    for h in range(1, hops + 1):
        sql += f""", b{h} AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rk
        FROM {prev}) WHERE rk <= {beam}
    ), h{h} AS (
      SELECT DISTINCT b.query_id, e.dst AS vec_id
      FROM b{h} b JOIN edges e ON e.src = b.vec_id
    ), hs{h} AS (
      SELECT h.query_id, h.vec_id, {hcos} AS sim
      FROM h{h} h
      JOIN corpus c ON c.vec_id = h.vec_id
      JOIN q ON q.query_id = h.query_id
    ), v{h} AS (
      SELECT DISTINCT query_id, vec_id, sim FROM (
        SELECT query_id, vec_id, sim FROM {prev}
        UNION ALL SELECT query_id, vec_id, sim FROM hs{h})
    )"""
        prev = f"v{h}"
    sql += f"""
    SELECT query_id, vec_id, sim, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, vec_id) AS rk
      FROM {prev}) WHERE rk <= {k}
"""
    return sql


ORACLE["ann_graph_search_pinned"] = _ann_graph_oracle_sql()


def _opq_pinned_oracle_sql() -> str:
    from ..pca_oracle_literals import (  # noqa: PLC0415
        PINNED_OPQ_CODEBOOKS,
        PINNED_OPQ_ROTATION,
    )

    sub = 8
    axes = ",\n               ".join(
        "list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(repr(float(x)) for x in axis)
        + "]::DOUBLE[])"
        for axis in PINNED_OPQ_ROTATION
    )
    rows = []
    for s, entries in sorted(PINNED_OPQ_CODEBOOKS.items()):
        for code, cent in entries:
            lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
            # the -|c|²/2 term must be the SAME double literal Spark's
            # argmin embeds: computed by the identical Python expression
            nh = repr(sum(v * v for v in cent) / 2.0)
            rows.append(f"({s}, {code}, {lit}, {nh})")
    values = ",\n        ".join(rows)
    return f"""
    WITH re AS (
        SELECT vec_id,
               [{axes}] AS embedding
        FROM embeddings
    ), cb(subspace, code, centroid, nh) AS (VALUES
        {values}
    ), enc_scored AS (
        SELECT e.vec_id, b.subspace, b.code,
               round(list_dot_product(
                   (e.embedding)
                       [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                   b.centroid) - b.nh, 6) AS score
        FROM re e, cb b
    ), codes AS (
        SELECT vec_id, subspace, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, subspace
                ORDER BY score DESC, code ASC
            ) AS rk
            FROM enc_scored
        ) WHERE rk = 1
    ), qp AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM re WHERE vec_id < 3
    ), adc_table AS (
        SELECT q.query_id, b.subspace, b.code,
               CAST(round(list_dot_product(
                   (q.qe)
                       [b.subspace * {sub} + 1 : b.subspace * {sub} + {sub}],
                   b.centroid), 6) AS DECIMAL(18,6)) AS partial
        FROM qp q, cb b
    ), adc AS (
        SELECT t.query_id, c.vec_id,
               round(CAST(sum(t.partial) AS DOUBLE), 6) AS adc_score
        FROM codes c
        JOIN adc_table t USING (subspace, code)
        GROUP BY t.query_id, c.vec_id
    ), short AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY adc_score DESC, vec_id ASC
            ) AS crk
            FROM adc
        ) WHERE crk <= 50
    ), rescored AS (
        SELECT s.query_id, s.vec_id, s.adc_score,
               {_SQL_COS.format(a="e.embedding", b="q.qe")} AS sim
        FROM short s
        JOIN re e ON e.vec_id = s.vec_id
        JOIN qp q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, sim, adc_score, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id ASC
        ) AS rk
        FROM rescored
    ) WHERE rk <= 5
"""


ORACLE["ann_opq_search_pinned"] = _opq_pinned_oracle_sql()

_SQ8_SCALE = "(list_max(list_transform({v}::DOUBLE[], x -> abs(x))) / 127.0)"

_SQ8_CODES = (
    "list_transform({v}::DOUBLE[], x -> CAST(trunc(x / nullif({s}, 0.0)) "
    "AS BIGINT))"
)

ORACLE["ann_sq8_search"] = f"""
    WITH c AS (
      SELECT vec_id, embedding,
             {_SQ8_SCALE.format(v="embedding")} AS cscale,
             {_SQ8_CODES.format(v="embedding",
                                s=_SQ8_SCALE.format(v="embedding"))} AS ccodes
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe,
             {_SQ8_SCALE.format(v="embedding")} AS qscale,
             {_SQ8_CODES.format(v="embedding",
                                s=_SQ8_SCALE.format(v="embedding"))} AS qcodes
      FROM embeddings WHERE vec_id < 3
    ), scored AS (
      SELECT q.query_id, c.vec_id, c.embedding, q.qe,
             CAST(list_dot_product(
                 list_transform(c.ccodes, x -> CAST(x AS DOUBLE)),
                 list_transform(q.qcodes, x -> CAST(x AS DOUBLE)))
               AS BIGINT) AS sq8_dot,
             round(c.cscale * q.qscale *
                   CAST(CAST(list_dot_product(
                       list_transform(c.ccodes, x -> CAST(x AS DOUBLE)),
                       list_transform(q.qcodes, x -> CAST(x AS DOUBLE)))
                     AS BIGINT) AS DOUBLE), 6) AS approx_dot
      FROM c, q
    ), short AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY approx_dot DESC, vec_id) AS crk
        FROM scored WHERE approx_dot IS NOT NULL
      ) WHERE crk <= 50
    ), rescored AS (
      SELECT query_id, vec_id, sq8_dot, approx_dot,
             {_SQL_COS.format(a="embedding", b="qe")} AS sim
      FROM short
    )
    SELECT query_id, vec_id, sq8_dot, approx_dot, sim,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
      FROM rescored
    ) WHERE rk <= 5
"""


def _kcenter_oracle_sql(k: int = 8) -> str:
    def dd(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {a}) - 2 * "
            f"list_dot_product({a}, {b}) + list_dot_product({b}, {b}), 6)"
        )

    sql = """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), c1 AS (
      SELECT vec_id, v FROM base ORDER BY vec_id LIMIT 1
    ), md1 AS (
      SELECT b.vec_id, b.v, {d} AS dist FROM base b, c1 c
    )""".format(d=dd("b.v", "c.v"))
    prev = "md1"
    for r in range(2, k + 1):
        sql += f""", n{r} AS (
      SELECT vec_id, v, dist FROM {prev}
      ORDER BY dist DESC, vec_id LIMIT 1
    ), md{r} AS (
      SELECT m.vec_id, m.v, least(m.dist, {dd('m.v', 'c.v')}) AS dist
      FROM {prev} m, n{r} c
    )"""
        prev = f"md{r}"
    centers = ["SELECT 1 AS sel_ix, vec_id, 0.0 AS radius, v FROM c1"] + [
        f"SELECT {r}, vec_id, dist, v FROM n{r}" for r in range(2, k + 1)
    ]
    sql += """, centers AS (
      """ + "\n      UNION ALL ".join(centers) + """
    ), assign AS (
      SELECT b.vec_id, c.sel_ix, {d} AS d FROM base b, centers c
    ), near AS (
      SELECT vec_id, sel_ix FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY d ASC, sel_ix ASC) AS rk
        FROM assign
      ) WHERE rk = 1
    ), counts AS (
      SELECT sel_ix, CAST(count(*) AS BIGINT) AS n_assigned
      FROM near GROUP BY sel_ix
    )
    SELECT CAST(c.sel_ix AS INT) AS sel_ix, c.vec_id, c.radius,
           CAST(coalesce(n.n_assigned, 0) AS BIGINT) AS n_assigned
    FROM centers c LEFT JOIN counts n USING (sel_ix)
""".format(d=dd("b.v", "c.v"))
    return sql


ORACLE["coreset_kcenter"] = _kcenter_oracle_sql()


def _ppr_oracle_sql(iters: int = 3, damping_pct: int = 85) -> str:
    from ..operators.graph import SCALE  # noqa: PLC0415

    seeds = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    seed_mass = SCALE // len(_PPR_SEEDS)
    base_seed = ((100 - damping_pct) * SCALE // 100) // len(_PPR_SEEDS)
    sql = f"""
    WITH fwd AS (
        SELECT DISTINCT 's' || l.l_suppkey AS src, 'c' || o.o_custkey AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), edges AS (
        SELECT src, dst FROM fwd
        UNION ALL
        SELECT dst AS src, src AS dst FROM fwd
    ), nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges)
    ), outdeg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY src
    ), r0 AS (
        SELECT node,
               CAST(CASE WHEN node IN ({seeds}) THEN {seed_mass}
                         ELSE 0 END AS BIGINT) AS rank_scaled
        FROM nodes
    )"""
    prev = "r0"
    for t in range(1, iters + 1):
        sql += f""", m{t} AS (
        SELECT e.dst AS node,
               CAST(sum(r.rank_scaled // d.outdeg) AS BIGINT) AS msum
        FROM {prev} r JOIN outdeg d ON r.node = d.node
        JOIN edges e ON e.src = r.node
        GROUP BY e.dst
    ), r{t} AS (
        SELECT n.node,
               CAST(CASE WHEN n.node IN ({seeds}) THEN {base_seed}
                         ELSE 0 END
                    + ({damping_pct} * coalesce(m.msum, 0)) // 100
                   AS BIGINT) AS rank_scaled
        FROM nodes n LEFT JOIN m{t} m ON n.node = m.node
    )"""
        prev = f"r{t}"
    sql += f"""
    SELECT node, rank_scaled,
           rank_scaled / {float(SCALE)!r} AS rank,
           CAST(CASE WHEN node IN ({seeds}) THEN 1 ELSE 0 END AS INT)
               AS is_seed
    FROM {prev}
    ORDER BY rank_scaled DESC, node
    LIMIT 100
"""
    return sql


ORACLE["graph_ppr"] = _ppr_oracle_sql()


def _retrieval_metrics_oracle_sql(k: int = 10) -> str:
    import math

    gains = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    ideal, acc = [], 0.0
    for g in gains:
        acc += g
        ideal.append(acc)
    gain_case = (
        "CASE r "
        + " ".join(f"WHEN {i} THEN {g!r}" for i, g in enumerate(gains, 1))
        + " END"
    )
    ideal_case = (
        f"CASE least(n.n_rel, {k}) "
        + " ".join(f"WHEN {i} THEN {c!r}" for i, c in enumerate(ideal, 1))
        + " END"
    )
    cos = _SQL_COS.format(a="c.embedding", b="q.qe")
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
      FROM embeddings WHERE vec_id < 3
    ), scored AS (
      SELECT q.query_id, c.vec_id, c.label, {cos} AS sim
      FROM embeddings c, q
    ), topk1 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
        FROM scored) WHERE rk <= {k + 1}
    ), top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rk) AS r
        FROM topk1 WHERE vec_id <> query_id) WHERE r <= {k}
    ), hits AS (
      SELECT t.query_id, t.r,
             CASE WHEN t.label = q.qlabel THEN 1 ELSE 0 END AS hit
      FROM top t JOIN q ON q.query_id = t.query_id
    ), perq AS (
      SELECT query_id,
             CAST(sum(hit) AS BIGINT) AS n_hits,
             round(sum(hit * {gain_case}), 6) AS dcg,
             min(CASE WHEN hit = 1 THEN r END) AS first
      FROM hits GROUP BY query_id
    ), nrel AS (
      SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_rel
      FROM embeddings c
      JOIN q ON c.label = q.qlabel AND c.vec_id <> q.query_id
      GROUP BY q.query_id
    )
    SELECT p.query_id,
           CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
           p.n_hits,
           round(CASE WHEN coalesce(n.n_rel, 0) > 0
                      THEN p.n_hits / CAST(n.n_rel AS DOUBLE)
                      ELSE 0.0 END, 6) AS recall_at_k,
           round(CASE WHEN p.first IS NOT NULL
                      THEN 1.0 / CAST(p.first AS DOUBLE)
                      ELSE 0.0 END, 6) AS mrr_at_k,
           round(CASE WHEN coalesce(n.n_rel, 0) > 0
                      THEN p.dcg / {ideal_case}
                      ELSE 0.0 END, 6) AS ndcg_at_k
    FROM perq p LEFT JOIN nrel n ON n.query_id = p.query_id
"""


ORACLE["retrieval_metrics"] = _retrieval_metrics_oracle_sql()


def _sprt_oracle_sql() -> str:
    c = _sprt_consts()
    llr = (
        f"round(s_cum * {c['l1']!r} + (n_cum - s_cum) * {c['l2']!r}, 6)"
    )
    return f"""
    WITH armb AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                  AS BIGINT) AS day,
             CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS succ
      FROM events
      WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) >= '8'
    ), daily AS (
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(succ) AS BIGINT) AS s
      FROM armb GROUP BY event_type, day
    ), cum AS (
      SELECT event_type, day,
             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS n_cum,
             CAST(sum(s) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS s_cum
      FROM daily
    )
    SELECT event_type, day, n_cum, s_cum,
           {llr} AS llr,
           CASE WHEN {llr} >= {round(c['ub'], 6)!r} THEN 'accept_h1'
                WHEN {llr} <= {round(c['lb'], 6)!r} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum
"""


ORACLE["events_sprt"] = _sprt_oracle_sql()
