"""Layout strategy tests: bucketed co-located joins plan with no shuffle;
partitioned writes prune directories."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from vector_database_app_spark.plans.explain import explain_str
from vector_database_app_spark.sources import layout
from vector_database_app_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, tmp_path, no_broadcast):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    bo = layout.write_bucketed(
        orders, "t_orders_b", str(tmp_path / "ob"),
        bucket_cols=["o_orderkey"], n_buckets=4, sort_cols=["o_orderkey"],
    )
    bl = layout.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b", str(tmp_path / "lb"),
        bucket_cols=["o_orderkey"], n_buckets=4, sort_cols=["o_orderkey"],
    )
    try:
        joined = bo.join(bl, "o_orderkey")
        plan = explain_str(joined)
        assert "Exchange" not in plan, plan       # co-located: no shuffle
        assert "SortMergeJoin" in plan, plan
        # and the result is the plain join's result
        plain = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        assert joined.count() == plain.count()
    finally:
        layout.drop_table(spark, "t_orders_b")
        layout.drop_table(spark, "t_lineitem_b")


def test_partitioned_write_prunes(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    pdf = layout.write_partitioned(
        docs, str(tmp_path / "docs_p"), partition_cols=["lang"]
    )
    pruned = pdf.filter(F.col("lang") == "en")
    plan = explain_str(pruned)
    # partition filter shows up as PartitionFilters on the scan, and the
    # row counts match the unpartitioned filter
    assert "PartitionFilters" in plan and "lang" in plan, plan
    assert pruned.count() == docs.filter(F.col("lang") == "en").count()


def test_ivf_probe_over_partitioned_store_is_dpp_pruned(spark, tmp_path):
    """The 100 TB ANN read path: cell-assigned corpus stored partitioned by
    centroid_id, probe list broadcast — Spark turns the probe equi-join into
    dynamic partition pruning, so the scan reads n_probe cells, not the
    corpus."""
    from pyspark.sql import Window

    from vector_database_app_spark.operators import search

    emb = load_table(spark, SF, "embeddings")
    w = Window.partitionBy("label").orderBy("vec_id")
    cents = (
        emb.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            F.col("label").alias("centroid_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    assigned = search.ivf_assign(emb, cents)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    stored = layout.write_partitioned(
        assigned, str(tmp_path / "ivf_store"), partition_cols=["centroid_id"]
    )
    res = search.ivf_search(stored, cents, queries, k=5, n_probe=2)
    plan = explain_str(res)
    assert "dynamicpruningexpression" in plan, plan
    # pruning must not change results: same rows as the in-memory path
    direct = search.ivf_search(assigned, cents, queries, k=5, n_probe=2)
    key = lambda df: sorted(  # noqa: E731
        (r.query_id, r.vec_id, r.rk) for r in df.collect()
    )
    assert key(res) == key(direct)


# ---------------------------------------------------------------------------
# Compaction + clustering (layout.compact): small-files rewrite with
# pruning-effective row organization, verified against parquet footers.
# ---------------------------------------------------------------------------


def _file_ranges(path: str, col: str) -> list[tuple]:
    """(min, max) of `col` per parquet data file, from footer statistics —
    what a scan's row-group pruning actually consults."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        out.append((lo, hi))
    return out


def test_compact_shrinks_file_count_and_clusters(spark, tmp_path):
    """200 scattered files → few size-targeted files; with cluster_cols the
    per-file min/max ranges become disjoint, so a point predicate on the
    cluster column intersects exactly one file's range."""
    from vector_database_app_spark.sources import layout

    df = spark.range(0, 20000).selectExpr(
        "id AS k", "id % 97 AS v", "repeat('x', 64) AS pad"
    )
    scattered = str(tmp_path / "scattered")
    df.repartition(200).write.parquet(scattered)
    import os

    n_small = sum(f.endswith(".parquet") for f in os.listdir(scattered))
    assert n_small == 200

    out = str(tmp_path / "compacted")
    back = layout.compact(
        spark.read.parquet(scattered),
        out,
        target_file_bytes=32 * 1024,
        cluster_cols=["k"],
    )
    n_files = sum(f.endswith(".parquet") for f in os.listdir(out))
    assert 5 < n_files < 40  # size-derived, far fewer than 200
    assert back.count() == 20000

    ranges = _file_ranges(out, "k")
    assert all(lo is not None for lo, _ in ranges)
    # global range clustering => files cover disjoint k-ranges
    srt = sorted(ranges)
    assert all(srt[i][1] < srt[i + 1][0] for i in range(len(srt) - 1))
    # a point lookup intersects exactly one file's stats
    probe = 12345
    assert sum(lo <= probe <= hi for lo, hi in ranges) == 1


def test_zorder_gives_both_columns_locality(spark, tmp_path):
    """Z-order vs linear sort on (a, b): linear clusters a perfectly but
    leaves b unclustered (every file spans b's whole domain); the morton
    layout narrows BOTH columns' per-file ranges, so selective predicates
    on either column skip most files."""
    from vector_database_app_spark.sources import layout

    # two independent uniform dims
    df = spark.range(0, 40000).selectExpr(
        "cast(id % 200 as long) AS a",
        "cast(pmod(hash(id), 200) as long) AS b",
        "repeat('y', 32) AS pad",
    )

    lin = str(tmp_path / "linear")
    layout.compact(df, lin, target_file_bytes=48 * 1024, cluster_cols=["a", "b"])
    zor = str(tmp_path / "zorder")
    zback = layout.compact(
        df, zor, target_file_bytes=48 * 1024, zorder_cols=("a", "b")
    )
    assert zback.count() == 40000
    assert set(zback.columns) == {"a", "b", "pad"}  # _z key dropped

    def avg_span(path, col):
        rs = _file_ranges(path, col)
        return sum(hi - lo for lo, hi in rs) / len(rs)

    domain = 199.0
    # linear: 'a' tightly clustered, 'b' spans ~the whole domain per file
    assert avg_span(lin, "a") < 0.25 * domain
    assert avg_span(lin, "b") > 0.8 * domain
    # z-order: BOTH dims substantially narrower than the domain
    assert avg_span(zor, "a") < 0.6 * domain
    assert avg_span(zor, "b") < 0.6 * domain


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """Dynamic partition overwrite: an update batch touching one day must
    leave every other day's files byte-identical (same paths, sizes,
    mtimes) and replace the touched day's content completely."""
    import os

    from pyspark.sql import functions as F

    store = str(tmp_path / "store")
    base = spark.range(30).select(
        "id",
        (F.col("id") % 3).cast("string").alias("day"),
        F.lit("v1").alias("val"),
    )
    base.write.partitionBy("day").parquet(store)

    def listing(day):
        d = os.path.join(store, f"day={day}")
        return {
            f: (os.path.getsize(os.path.join(d, f)), os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {d: listing(d) for d in ("0", "2")}
    updates = spark.range(5).select(
        (F.col("id") * 3 + 1).alias("id"),  # day-1 keys only
        F.lit("1").alias("day"),
        F.lit("v2").alias("val"),
    )
    from vector_database_app_spark.sources import layout

    layout.upsert_partitions(updates, store, partition_cols=["day"])

    after = {d: listing(d) for d in ("0", "2")}
    assert before == after, "untouched partitions were rewritten"
    got = spark.read.parquet(store).filter(F.col("day") == "1")
    rows = {(r.id, r.val) for r in got.collect()}
    assert rows == {(i * 3 + 1, "v2") for i in range(5)}, rows


def test_snapshot_versioning_roundtrip_and_diffability(spark, tmp_path):
    """write_snapshot/read_snapshot: monotone versions, immutable history,
    latest-by-default reads, and version-addressed time travel."""
    from pyspark.sql import functions as F

    from vector_database_app_spark.sources import layout

    base = str(tmp_path / "store")
    df1 = spark.range(0, 100).select("id", (F.col("id") * 2).alias("x"))
    df2 = spark.range(0, 120).select("id", (F.col("id") * 3).alias("x"))
    assert layout.latest_version(base) is None
    assert layout.write_snapshot(df1, base) == 1
    assert layout.write_snapshot(df2, base) == 2
    assert layout.latest_version(base) == 2
    assert layout.read_snapshot(spark, base).count() == 120
    v1 = layout.read_snapshot(spark, base, 1)
    assert v1.count() == 100
    # history is immutable: v1 content unchanged after the v2 write
    assert v1.agg(F.sum("x")).first()[0] == sum(2 * i for i in range(100))


def test_snapshot_write_skips_abandoned_uncommitted_dir(spark, tmp_path):
    """A crashed write (v=N dir without _SUCCESS) must not wedge the
    store: the next write allocates past it; reads keep ignoring it."""
    import os

    from pyspark.sql import functions as F  # noqa: F401

    from vector_database_app_spark.sources import layout

    base = str(tmp_path / "store")
    layout.write_snapshot(spark.range(0, 10), base)
    # simulate a torn v=2: directory exists, no _SUCCESS
    os.makedirs(os.path.join(base, "v=2"))
    n = layout.write_snapshot(spark.range(0, 20), base)
    assert n == 3
    assert layout.latest_version(base) == 3
    assert layout.read_snapshot(spark, base).count() == 20


def test_zorder_compact_plan_has_no_single_partition_exchange(spark, tmp_path):
    """The z-order normalization must never serialize the table being
    compacted through one task: the quantile edges come from a
    distributed approxQuantile sketch, not a percent_rank window, so the
    rewrite's physical plan contains NO `Exchange SinglePartition` even
    on a heavily skewed column. Also asserts the skewed heavy-hitter
    value still lands in a bounded number of files (footer pruning works
    on skewed data, not just uniform)."""
    import os

    from pyspark.sql import functions as F

    from vector_database_app_spark.sources import layout

    # column 'a': 95% of rows share one value (heavy hitter), rest uniform
    df = spark.range(0, 40000).select(
        F.when(F.col("id") % 20 == 0, F.col("id") % 200)
        .otherwise(F.lit(7))
        .cast("long")
        .alias("a"),
        F.pmod(F.hash("id"), F.lit(200)).cast("long").alias("b"),
        F.expr("repeat('y', 32)").alias("pad"),
    )

    out = layout.compact_plan(
        df, target_file_bytes=48 * 1024, zorder_cols=("a", "b")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    # and no window function sneaked back in either
    assert "Window" not in plan, plan

    zor = str(tmp_path / "zorder_skew")
    zback = layout.compact(
        df, zor, target_file_bytes=48 * 1024, zorder_cols=("a", "b")
    )
    assert zback.count() == 40000

    # a point predicate on the NON-hot value of the skewed column must
    # skip most files (locality survives the skew)
    ranges = _file_ranges(zor, "a")
    n_files = len(ranges)
    assert n_files > 3
    probe = 100  # a non-hot 'a' value present in the data
    hits = sum(lo <= probe <= hi for lo, hi in ranges)
    assert hits < n_files  # pruning is real: some files excluded


@pytest.fixture()
def max_partition_bytes(spark):
    """Set spark.sql.files.maxPartitionBytes for one test, then restore."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)

    def _set(value: str) -> None:
        spark.conf.set(key, value)

    yield _set
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


@pytest.mark.parametrize(
    "value, expected",
    [
        ("134217728", 128 * 1024**2),
        ("134217728b", 128 * 1024**2),
        ("128m", 128 * 1024**2),
        ("128mb", 128 * 1024**2),
        ("128MB", 128 * 1024**2),
        ("64kb", 64 * 1024),
        ("1g", 1024**3),
    ],
)
def test_conf_bytes_accepts_spark_units(spark, max_partition_bytes, value, expected):
    max_partition_bytes(value)
    got = layout.conf_bytes(spark, "spark.sql.files.maxPartitionBytes", "1b")
    assert got == expected


def test_conf_bytes_names_the_key_on_bad_values(spark):
    # Spark validates its own byte-size keys on set, so use a free key
    key = "spark.vector_database_app_spark.test.bytes"
    spark.conf.set(key, "1.5g")
    try:
        with pytest.raises(ValueError, match=key):
            layout.conf_bytes(spark, key, "1b")
    finally:
        spark.conf.unset(key)


def test_two_letter_unit_conf_builds_docs_parallel_queries(
    spark, max_partition_bytes
):
    """'128mb' is a valid Spark value; building a _docs_parallel query
    under it must not raise (it used to fail parsing '128m' as a float)."""
    from vector_database_app_spark.registry import QUERIES

    max_partition_bytes("128mb")
    df = QUERIES["dedup_similarity_join"](spark, SF)
    assert df.columns


def test_scan_splits_estimate_walks_partition_dirs(spark, tmp_path, max_partition_bytes):
    """A partitioned k=v/ layout must estimate the same split count as
    the same files laid out flat; _/. entries are not data files."""
    max_partition_bytes("64kb")
    payload = [bytes(40 * 1024), bytes(50 * 1024), bytes(30 * 1024)]
    flat, nested = tmp_path / "flat", tmp_path / "nested"
    flat.mkdir()
    for i, data in enumerate(payload):
        (flat / f"part-{i}.parquet").write_bytes(data)
        part = nested / f"k={i}"
        part.mkdir(parents=True)
        (part / f"part-{i}.parquet").write_bytes(data)
        (part / f".part-{i}.parquet.crc").write_bytes(bytes(4096))
    (nested / "_SUCCESS").write_bytes(b"")
    (nested / "_temporary").mkdir()
    (nested / "_temporary" / "part-x.parquet").write_bytes(bytes(512 * 1024))

    want = layout.scan_splits_estimate(spark, str(flat))
    assert want > 1
    assert layout.scan_splits_estimate(spark, str(nested)) == want
