"""Physical layout strategies: bucketing for co-located (shuffle-free)
joins, partitioned writes for pruning.

No reference equivalent (two pickles, whole-table in memory). At 100 TB
the dominant repeated cost is shuffling fact tables for every join on the
same key; bucketing pays that shuffle ONCE at write time:

- `write_bucketed` both sides of a hot join by the join key → Spark's
  native bucketing records the layout in the table catalog, and a
  subsequent equi-join on the bucket key plans with NO Exchange on either
  side (verified in tests/test_layout.py by asserting the plan).
- `write_partitioned` directories by a low-cardinality column → equality /
  IN predicates become partition pruning (the scan never opens excluded
  directories) — this is what makes the reference's `doc_name` filter
  (P1) free on a partitioned chunk store.

Bucket count rule of thumb at scale: total_size / bucket_count ≈ healthy
task input (128-512 MB); both join sides must use the SAME count for
co-location.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    *,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Write as a bucketed (optionally sorted) external table; returns the
    catalog-backed DataFrame whose scans carry the bucket layout. Sorting
    within buckets additionally removes the Sort from sort-merge joins."""
    w = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)
    return df.sparkSession.table(table_name)


def write_partitioned(
    df: DataFrame, path: str, *, partition_cols: list[str], mode: str = "overwrite"
) -> DataFrame:
    """Directory-partitioned parquet; predicates on the partition columns
    prune at the file-listing level."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    return df.sparkSession.read.parquet(path)


def drop_table(spark: SparkSession, table_name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame (same statistic the ANN
    planner thresholds on — plans/ann_planner.py)."""
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


#: Spark's byte-size suffixes (JavaUtils.byteStringAs): a bare number is
#: bytes; k/m/g/t/p may carry a trailing b ('128m' == '128mb').
_BYTE_SIZE = re.compile(r"(\d+)\s*(?:([kmgtp])b?|b)?")


def conf_bytes(spark: SparkSession, key: str, default: str) -> int:
    """A byte-size Spark conf (``spark.sql.files.maxPartitionBytes``,
    ``openCostInBytes``, ...) in bytes, parsed as Spark parses it:
    '134217728', '134217728b', '128m', '128MB', '64kb'. A value Spark
    would reject raises ValueError naming the conf key."""
    raw = spark.conf.get(key, default)
    m = _BYTE_SIZE.fullmatch(raw.strip().lower())
    if m is None:
        raise ValueError(
            f"{key}={raw!r} is not a byte size "
            "(expected e.g. '134217728', '128m' or '128mb')"
        )
    return int(m[1]) * 1024 ** " kmgtp".index(m[2] or " ")


def _data_file_sizes(path: str) -> list[int]:
    """Sizes of the data files under a parquet path, walking partition
    subdirectories (``k=v/``) and skipping ``_``/``.`` entries
    (``_SUCCESS``, ``.crc``, ``_temporary``) as Spark's file index does."""
    if not os.path.isdir(path):
        return [os.stat(path).st_size]
    sizes = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        sizes += [
            os.stat(os.path.join(root, f)).st_size
            for f in files
            if not f.startswith(("_", "."))
        ]
    return sizes


def scan_splits_estimate(spark: SparkSession, path: str) -> int:
    """Estimated scan-task count for a parquet path, from the file
    catalog only (os.stat — NO Spark job): Spark packs/splits files at
    spark.sql.files.maxPartitionBytes, charging openCostInBytes per
    file. The estimate is ceil(total_bytes + n_files*openCost over
    maxPartitionBytes), floored at 1 — exactly FilePartition's bin size
    arithmetic, ignoring only the minPartitionNum floor (which would
    raise, never lower, the true count)."""
    files = _data_file_sizes(path)
    max_pb = conf_bytes(spark, "spark.sql.files.maxPartitionBytes", "134217728b")
    open_cost = conf_bytes(spark, "spark.sql.files.openCostInBytes", "4194304b")
    total = sum(files) + open_cost * len(files)
    return max(1, math.ceil(total / max_pb))


def interleave_bits_expr(col_a, col_b, bits: int = 16):
    """Z-order key: bit-interleave two non-negative integer columns
    (morton code) as a pure JVM-side expression — `shiftleft`/`bitwise
    OR` chain built once at plan time, no UDF. Columns must already be
    rank/scale-normalized to [0, 2^bits) (see `zorder_bucket_expr`)."""
    from pyspark.sql import functions as F

    a = col_a.cast("long")
    b = col_b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return z


def zorder_bucket_edges(
    df: DataFrame,
    col_name: str,
    *,
    n_buckets: int = 256,
    relative_error: float = 0.001,
) -> list[float]:
    """Interior quantile edges for the z-order normalization, computed
    with `approxQuantile` (distributed Greenwald-Khanna sketch: one scan,
    map-side sketches merged on the driver — NO SinglePartition shuffle,
    unlike a `percent_rank` window over the full frame, which serializes
    the whole table through one task and is exactly the thing you must
    not do to the 100 TB table you are compacting). Duplicate edges from
    skewed distributions are collapsed, so heavy hitters share one bucket
    instead of wasting code space."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    edges = df.stat.approxQuantile(col_name, probs, relative_error)
    out: list[float] = []
    for e in edges:
        if not out or e > out[-1]:
            out.append(float(e))
    return out


def zorder_bucket_expr(col, edges: list[float], bits: int = 16):
    """Quantile-bucket rank of a column scaled to [0, 2^bits) — the
    normalization step before interleaving, making z-order robust to
    skewed value distributions (raw values would collapse the curve onto
    a few codes). The edge list (≤ n_buckets-1 floats, driver-computed by
    `zorder_bucket_edges`) is embedded as an array literal and ranked
    with a `filter`+`size` higher-order function — a bounded per-row
    comparison loop inside codegen, no window, no shuffle."""
    from pyspark.sql import functions as F

    if not edges:
        return F.lit(0).cast("long")
    arr = F.array(*[F.lit(e) for e in edges])
    v = col.cast("double")
    bucket = F.size(F.filter(arr, lambda e: e <= v)).cast("long")
    return (bucket * ((1 << bits) - 1) / F.lit(len(edges))).cast("long")


def compact(
    df: DataFrame,
    out_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_cols: list[str] | None = None,
    zorder_cols: tuple[str, str] | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """OPTIMIZE for a parquet store: rewrite many small files into
    ~`target_file_bytes` files, optionally clustering rows so min/max
    row-group statistics prune point/range scans.

    The small-files problem is THE operational failure mode of streaming/
    append ingest at scale (each micro-batch appends a file per task; a
    year of 1-minute triggers = millions of files; listing + open cost
    dwarfs the scan). The fix is this rewrite, run periodically out of
    band — same job Delta's OPTIMIZE / Iceberg's rewrite_data_files runs.

    - file count = ceil(plan-estimated bytes / target_file_bytes) —
      derived from Catalyst stats, no extra pass over the data.
    - `cluster_cols`: repartitionByRange + sortWithinPartitions —
      GLOBAL lexicographic clustering; equality/range predicates on the
      leading column touch ~1 file (asserted via parquet footer min/max
      in tests/test_layout.py).
    - `zorder_cols`: quantile-bucket-normalize both (numeric) columns
      from sampled sketches, interleave bits, range-partition and sort by
      the morton code — BOTH columns get locality, the right layout when
      two independent predicates matter (classic Delta OPTIMIZE ZORDER BY
      semantics, expressed with stock Spark). The normalization is two
      `approxQuantile` sketch scans + a broadcast-size edge literal — no
      SinglePartition window anywhere in the rewrite plan.
    """
    out = compact_plan(
        df,
        target_file_bytes=target_file_bytes,
        cluster_cols=cluster_cols,
        zorder_cols=zorder_cols,
    )
    out.write.mode(mode).parquet(out_path)
    return df.sparkSession.read.parquet(out_path)


def compact_plan(
    df: DataFrame,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_cols: list[str] | None = None,
    zorder_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """The rewrite frame `compact` writes, exposed so tests (and dry
    runs) can assert on its physical plan — e.g. that the z-order path
    contains no SinglePartition exchange."""
    from pyspark.sql import functions as F

    n_files = max(1, -(-plan_size_bytes(df) // target_file_bytes))
    if zorder_cols is not None:
        a, b = zorder_cols
        keyed = df.withColumn(
            "_z",
            interleave_bits_expr(
                zorder_bucket_expr(F.col(a), zorder_bucket_edges(df, a)),
                zorder_bucket_expr(F.col(b), zorder_bucket_edges(df, b)),
            ),
        )
        return (
            keyed.repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    if cluster_cols:
        return df.repartitionByRange(n_files, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
    return df.repartition(n_files)


def upsert_partitions(
    updates: DataFrame, path: str, *, partition_cols: list[str]
) -> None:
    """Upsert by dynamic partition overwrite: rewrite ONLY the partition
    directories present in `updates`, leaving every other partition's
    files untouched (no reference equivalent — its "save" rewrites both
    whole-table pickles, vector_db.py:231-238).

    This is the parquet-native CDC/backfill primitive at 100 TB: a daily
    correction batch touching 3 of 3 650 day-partitions rewrites 0.08% of
    the store instead of 100%. partitionOverwriteMode=dynamic is set on
    THIS write only (option, not session conf), so concurrent writers keep
    their own semantics; tests assert untouched partitions are
    byte-identical after an upsert. For multi-writer atomic commits use a
    table format (Delta/Iceberg) — this is the format-free form."""
    (
        updates.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_snapshot(df: DataFrame, base_path: str) -> int:
    """Versioned store write (plain-parquet time travel): each call lands
    a complete snapshot under ``base_path/v=<n>`` with n = 1 + the
    highest existing version, and returns n. Immutable snapshots make
    reproducible pipeline runs and `table_diff`-style run-over-run
    regression checks trivial without a table format dependency; pair
    with a retention sweep that drops old ``v=`` directories.

    Concurrency: version allocation is list-directory-then-write —
    single-writer (one pipeline owns a store), the same assumption Delta
    enforces with a commit log. The write is atomic per snapshot because
    readers only address explicit ``v=<n>`` paths and ``latest_version``
    ignores directories without _SUCCESS. Crash recovery: allocation
    skips over UNCOMMITTED directories too (a writer that died mid-v=N
    leaves an abandoned dir, and the next write lands in v=N+1 — it must
    not collide with the wreck and wedge the store); abandoned dirs are
    garbage for the retention sweep."""
    import os

    versions = [0]
    if os.path.isdir(base_path):
        for d in os.listdir(base_path):
            if d.startswith("v=") and d[2:].isdigit():
                versions.append(int(d[2:]))
    n = max(versions) + 1
    out = os.path.join(base_path, f"v={n}")
    df.write.mode("errorifexists").parquet(out)
    return n


def latest_version(base_path: str) -> int | None:
    """Highest committed (_SUCCESS-marked) snapshot version, or None."""
    import os

    if not os.path.isdir(base_path):
        return None
    versions = []
    for d in os.listdir(base_path):
        if d.startswith("v=") and d[2:].isdigit():
            if os.path.exists(os.path.join(base_path, d, "_SUCCESS")):
                versions.append(int(d[2:]))
    return max(versions) if versions else None


def read_snapshot(
    spark: SparkSession, base_path: str, version: int | None = None
) -> DataFrame:
    """Read snapshot `version` (default: latest committed)."""
    import os

    v = latest_version(base_path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed snapshots under {base_path}")
    return spark.read.parquet(os.path.join(base_path, f"v={v}"))
