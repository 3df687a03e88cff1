"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each expressed twice — a Spark DataFrame program and an
ANSI-SQL oracle DuckDB runs on the same parquet — so the driver can
value-hash-compare them at sf=0.01.

Mapping testdata → engine domain (FIXTURES.md §6): ``events`` stands in
for transcripts (user_id↔conv_id, event order↔turn order); ``lineitem``
groups model a file manifest for planning queries; ``documents`` /
``embeddings`` exercise the corpus-pipeline operators.

Determinism rules applied throughout:
  * timestamps leave queries as epoch seconds (TZ-proof),
  * aggregated doubles are rounded before output,
  * every computed column is aliased identically in both dialects,
  * ties are broken by explicit id ordering.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_PKG_ZIP: str | None = None


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship the engine package to executor Python workers. The driver
    process may import us from an arbitrary cwd; UDF closures pickle
    module *references*, so workers need the package importable —
    ``addPyFile`` of a zip is the deployment-agnostic way (the same
    mechanism as spark-submit --py-files)."""
    global _PKG_ZIP
    if getattr(spark, "_icemaint_pkg_added", False):
        return
    if _PKG_ZIP is None:
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(tempfile.mkdtemp(prefix="icemaint_pyfiles_"), "icemaint_pkg.zip")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            "iceberg_compaction_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        _PKG_ZIP = zpath
    try:
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception:
        pass  # already added in this context
    spark._icemaint_pkg_added = True


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ensure_pkg(spark)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ======================================================================
# merge-on-read deletes (J1, J2/P6)
def q_mor_position_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: anti-join removal of a deterministic position-delete key set
    (events standing in for (file,pos) rows; reference
    sql_builder.rs:96-117)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    dels = ev.filter(F.col("event_id") % 97 < 3).select("event_id")
    out = ev.join(dels, "event_id", "left_anti")
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value_r"),
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


MOR_POSITION_DELETE_SQL = """
SELECT e.event_id, e.user_id, e.event_type,
       round(e.value, 4) AS value_r,
       CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_epoch
FROM events e
ANTI JOIN (SELECT event_id FROM events WHERE event_id % 97 < 3) d
  ON e.event_id = d.event_id
"""


def q_mor_equality_delete_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+P6: equality-delete anti-join with the sequence predicate
    data.seq < delete.seq (sql_builder.rs:120-152): only rows older
    than the delete die."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    data = ev.withColumn("seq", (F.col("event_id") % 5).cast("long"))
    dels = (
        ev.filter(F.col("user_id") % 13 == 0)
        .select("user_id")
        .distinct()
        .withColumn("dseq", F.lit(3).cast("long"))
    )
    d, x = data.alias("d"), dels.alias("x")
    out = d.join(
        x,
        (F.col("d.user_id") == F.col("x.user_id")) & (F.col("d.seq") < F.col("x.dseq")),
        "left_anti",
    )
    return out.select("event_id", "user_id", "seq", "event_type")


MOR_EQUALITY_DELETE_SEQ_SQL = """
WITH data AS (SELECT *, CAST(event_id % 5 AS BIGINT) AS seq FROM events),
dels AS (SELECT DISTINCT user_id, CAST(3 AS BIGINT) AS dseq FROM events WHERE user_id % 13 = 0)
SELECT d.event_id, d.user_id, d.seq, d.event_type
FROM data d
ANTI JOIN dels x ON d.user_id = x.user_id AND d.seq < x.dseq
"""


# ======================================================================
# planning over a modeled file manifest (P2, A1/A2, A6, C1, C3)
_MANIFEST_CTE = """
SELECT l_orderkey AS file_id,
       CAST(sum(l_partkey % 997 * 37 + l_linenumber) AS BIGINT) AS size_bytes,
       count(*) AS record_count,
       CAST(l_orderkey % 7 AS BIGINT) AS partition_id
FROM lineitem GROUP BY l_orderkey
"""


def _manifest_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.sum(F.pmod("l_partkey", F.lit(997)) * 37 + F.col("l_linenumber")).alias("size_bytes"),
        F.count("*").alias("record_count"),
    ).select(
        F.col("l_orderkey").alias("file_id"),
        "size_bytes",
        "record_count",
        (F.col("l_orderkey") % 7).cast("long").alias("partition_id"),
    )


def q_small_files_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: SmallFiles strategy — size_bytes <= threshold over the
    manifest (file_selection.rs:205-211)."""
    _utc(spark)
    return _manifest_df(spark, sf_dir).filter(F.col("size_bytes") <= 100_000)


SMALL_FILES_SELECTION_SQL = f"""
WITH manifest AS ({_MANIFEST_CTE})
SELECT * FROM manifest WHERE size_bytes <= 100000
"""


def q_size_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: file-size histogram per partition, the planner's scoring
    input (TECHNICAL_DEEP_DIVE.md:90-125)."""
    _utc(spark)
    m = _manifest_df(spark, sf_dir)
    return (
        m.groupBy(
            "partition_id",
            (F.floor(F.col("size_bytes") / 50_000) * 50_000).alias("size_bucket"),
        )
        .agg(
            F.count("*").alias("file_count"),
            F.sum("size_bytes").alias("total_bytes"),
            F.round(F.avg("size_bytes"), 2).alias("avg_bytes"),
        )
    )


SIZE_HISTOGRAM_SQL = f"""
WITH manifest AS ({_MANIFEST_CTE})
SELECT partition_id,
       CAST(floor(size_bytes / 50000) * 50000 AS BIGINT) AS size_bucket,
       count(*) AS file_count,
       CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
       round(avg(size_bytes), 2) AS avg_bytes
FROM manifest GROUP BY 1, 2
"""


def q_ffd_binpack_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 (DataFrame form): FFD-with-lookback-1 approximated as a
    running-sum bin id within each partition, files ordered
    size-descending (packer.rs:36-76; SURVEY.md C1 note). Bins never
    span partitions."""
    _utc(spark)
    m = _manifest_df(spark, sf_dir)
    w = (
        Window.partitionBy("partition_id")
        .orderBy(F.desc("size_bytes"), F.asc("file_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    target = 500_000
    cum = F.sum("size_bytes").over(w)
    return m.select(
        "file_id",
        "partition_id",
        "size_bytes",
        F.floor((cum - F.col("size_bytes")) / target).cast("long").alias("bin_id"),
    )


FFD_BINPACK_WINDOW_SQL = f"""
WITH manifest AS ({_MANIFEST_CTE})
SELECT file_id, partition_id, size_bytes,
       CAST(floor((sum(size_bytes) OVER (
            PARTITION BY partition_id
            ORDER BY size_bytes DESC, file_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - size_bytes) / 500000) AS BIGINT) AS bin_id
FROM manifest
"""


def q_group_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: per-group total size / file count / record totals
    (file_group.rs:51-103)."""
    _utc(spark)
    m = _manifest_df(spark, sf_dir)
    return m.groupBy("partition_id").agg(
        F.sum("size_bytes").alias("total_size_bytes"),
        F.count("*").alias("data_file_count"),
        F.sum("record_count").alias("total_records"),
        F.max("size_bytes").alias("max_file_bytes"),
        F.min("size_bytes").alias("min_file_bytes"),
    )


GROUP_TOTALS_SQL = f"""
WITH manifest AS ({_MANIFEST_CTE})
SELECT partition_id,
       CAST(sum(size_bytes) AS BIGINT) AS total_size_bytes,
       count(*) AS data_file_count,
       CAST(sum(record_count) AS BIGINT) AS total_records,
       max(size_bytes) AS max_file_bytes,
       min(size_bytes) AS min_file_bytes
FROM manifest GROUP BY partition_id
"""


def q_parallelism_formula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: executor/output parallelism arithmetic per group
    (file_selection.rs:156-177), defaults scaled to test data."""
    _utc(spark)
    m = _manifest_df(spark, sf_dir)
    g = m.groupBy("partition_id").agg(
        F.sum("size_bytes").alias("bytes"), F.count("*").alias("files")
    )
    min_size, max_files, max_par, target = 1_000_000, 100, 16, 2_000_000
    executor = F.greatest(
        F.ceil(F.col("bytes") / min_size), F.ceil(F.col("files") / max_files)
    )
    executor = F.least(F.greatest(executor, F.lit(1)), F.lit(max_par))
    output = F.least(
        F.greatest(F.ceil(F.col("bytes") / target), F.lit(1)), F.lit(max_par)
    )
    return g.select(
        "partition_id",
        "bytes",
        "files",
        executor.cast("long").alias("executor_parallelism"),
        output.cast("long").alias("output_parallelism"),
    )


PARALLELISM_FORMULA_SQL = f"""
WITH manifest AS ({_MANIFEST_CTE}),
g AS (SELECT partition_id, CAST(sum(size_bytes) AS BIGINT) AS bytes, count(*) AS files
      FROM manifest GROUP BY partition_id)
SELECT partition_id, bytes, files,
  CAST(least(greatest(greatest(ceil(bytes / 1000000.0), ceil(files / 100.0)), 1), 16) AS BIGINT)
    AS executor_parallelism,
  CAST(least(greatest(ceil(bytes / 2000000.0), 1), 16) AS BIGINT) AS output_parallelism
FROM g
"""


def q_delete_file_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: distinct delete files across a group, first-wins by path
    (file_selection.rs:82-117) — dropDuplicates on the path key."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    refs = li.select(
        (F.col("l_orderkey") % 500).alias("delete_path_id"),
        (F.col("l_partkey") % 100).alias("referenced_by"),
    )
    return refs.dropDuplicates(["delete_path_id"]).groupBy().agg(
        F.count("*").alias("distinct_delete_files"),
        F.sum("delete_path_id").alias("path_id_sum"),
    )


DELETE_FILE_DEDUP_SQL = """
WITH refs AS (SELECT l_orderkey % 500 AS delete_path_id FROM lineitem)
SELECT count(*) AS distinct_delete_files,
       CAST(sum(delete_path_id) AS BIGINT) AS path_id_sum
FROM (SELECT DISTINCT delete_path_id FROM refs)
"""


def q_commit_summary_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: commit summary — files/bytes removed+added over successful
    tasks (commit.rs:150-159,281-291), orders as the task log."""
    _utc(spark)
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("success", F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("tasks"),
            F.sum(F.when(F.col("success"), 1).otherwise(0)).alias("succeeded"),
            F.round(F.sum(F.when(F.col("success"), F.col("o_totalprice")).otherwise(0.0)), 2).alias(
                "bytes_rewritten"
            ),
        )
    )


COMMIT_SUMMARY_ROLLUP_SQL = """
SELECT o_orderpriority,
       count(*) AS tasks,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS succeeded,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END), 2)
         AS bytes_rewritten
FROM orders GROUP BY o_orderpriority
"""


def q_snapshot_expiry_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 expireSnapshots retention arithmetic: keep snapshots newer
    than the cutoff plus the most recent one per table regardless of
    age (orders modeling the snapshot log per customer)."""
    _utc(spark)
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    ranked = o.withColumn("rn", F.row_number().over(w))
    cutoff = "1995-01-01"
    kept = ranked.filter((F.col("rn") == 1) | (F.col("o_orderdate") >= F.lit(cutoff)))
    return kept.select(
        F.col("o_custkey").alias("table_id"),
        F.col("o_orderkey").alias("snapshot_id"),
        F.unix_timestamp("o_orderdate").alias("snap_ts_epoch"),
        (F.col("rn") == 1).alias("is_current"),
    )


SNAPSHOT_EXPIRY_FILTER_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders)
SELECT o_custkey AS table_id, o_orderkey AS snapshot_id,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS snap_ts_epoch,
       (rn = 1) AS is_current
FROM ranked WHERE rn = 1 OR o_orderdate >= TIMESTAMP '1995-01-01'
"""


def q_orphan_files_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 cleanOrphanFiles: storage listing ANTI JOIN live-file set
    (part = listing, recent high-volume lineitem references = live).
    The reference predicate keeps the result NON-EMPTY at every test
    SF — a 0-vs-0 oracle match proves nothing about the join."""
    _utc(spark)
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    live = li.filter(F.col("l_quantity") > 45).select("l_partkey").distinct()
    return (
        p.join(live, p.p_partkey == live.l_partkey, "left_anti")
        .select(F.col("p_partkey").alias("orphan_id"), "p_name")
    )


ORPHAN_FILES_ANTIJOIN_SQL = """
SELECT p.p_partkey AS orphan_id, p.p_name
FROM part p
ANTI JOIN (
  SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity > 45
) l ON p.p_partkey = l.l_partkey
"""


def q_merge_upsert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3/§2.5: MERGE latest-version-wins window dedup keyed
    (user_id, event_type), newest ts wins, event_id breaks ties."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_timestamp("ts").alias("ts_epoch"),
            F.round("value", 4).alias("value_r"),
        )
    )


MERGE_UPSERT_DEDUP_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_type, event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       round(value, 4) AS value_r
FROM ranked WHERE rn = 1
"""


def q_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew handling (SURVEY.md §4.2): two-phase salted count per hot
    key — result identical to a direct groupBy, reducer fan-in bounded.
    The oracle is the direct aggregation (salt must cancel out)."""
    _utc(spark)
    from iceberg_compaction_spark.functions.salting import salted_count

    ev = _t(spark, sf_dir, "events")
    return salted_count(ev, "user_id", buckets=16).withColumnRenamed("turns", "n_events")


SALTED_AGGREGATION_SQL = """
SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General agg sanity (TPC-H Q1 shape) proving the engine's
    aggregate layer matches an independent SQL engine."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_delete_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 derivation: per-data-file applicable-delete count — an
    equality delete applies to every file with a lower sequence number
    (file_selection.rs:103-114 association, SURVEY.md P3)."""
    _utc(spark)
    m = _manifest_df(spark, sf_dir).withColumn(
        "seq", (F.col("file_id") % 4).cast("long")
    )
    o = _t(spark, sf_dir, "orders")
    dels = (
        o.filter(F.col("o_orderkey") % 750 == 0)
        .select((F.col("o_orderkey") % 6).cast("long").alias("dseq"))
    )
    f, d = m.alias("f"), dels.alias("d")
    joined = f.join(d, F.col("d.dseq") > F.col("f.seq"), "left")
    return (
        joined.groupBy("f.file_id", "f.seq")
        .agg(F.count("d.dseq").alias("delete_count"))
        .select(F.col("file_id"), F.col("seq"), "delete_count")
    )


DELETE_COUNTS_SQL = f"""
WITH manifest AS ({_MANIFEST_CTE}),
m AS (SELECT file_id, CAST(file_id % 4 AS BIGINT) AS seq FROM manifest),
dels AS (SELECT CAST(o_orderkey % 6 AS BIGINT) AS dseq FROM orders WHERE o_orderkey % 750 = 0)
SELECT m.file_id, m.seq, count(d.dseq) AS delete_count
FROM m LEFT JOIN dels d ON d.dseq > m.seq
GROUP BY m.file_id, m.seq
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation sessionization: a new session starts after a >30min
    gap per user — lag + running sum of gap indicators (the classic
    window pattern; turns-per-session is a core transcript rollup)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_timestamp("ts")).alias("start_epoch"),
        F.max(F.unix_timestamp("ts")).alias("end_epoch"),
    )


SESSIONIZATION_SQL = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
sess AS (
  SELECT *, CAST(sum(new_sess) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM marked)
SELECT user_id, session_id, count(*) AS n_events,
       min(CAST(floor(epoch(ts)) AS BIGINT)) AS start_epoch,
       max(CAST(floor(epoch(ts)) AS BIGINT)) AS end_epoch
FROM sess GROUP BY user_id, session_id
"""


def q_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew detection: keys above a row-share threshold (the input to
    the salting policy, functions/salting.py::hot_keys)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    total = ev.count()
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") * 1000 >= F.lit(total))  # share ≥ 0.1%
        .select("user_id", "n")
    )


HOT_KEYS_SQL = """
SELECT user_id, count(*) AS n
FROM events GROUP BY user_id
HAVING count(*) * 1000 >= (SELECT count(*) FROM events)
"""


def q_topk_per_conversation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 highest-value events per conversation (window top-k — the
    per-conversation rollup shape transcripts pipelines use for
    best-turn sampling)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", F.round("value", 4).alias("value_r"), "rnk")
    )


TOPK_PER_CONVERSATION_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
  FROM events)
SELECT user_id, event_id, round(value, 4) AS value_r, rnk
FROM ranked WHERE rnk <= 3
"""


# ======================================================================
# clustering keys (M4)
def _bit_interleave_sql(xcol: str, ycol: str, bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: Z-order key via the engine's vectorized pandas UDF, verified
    against an independent unrolled bit-interleave in SQL. Coordinates
    are uniform 8-bit buckets so both sides are closed-form."""
    _utc(spark)
    import numpy as np

    from iceberg_compaction_spark.functions.clustering import add_cluster_key

    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(256)).cast("long").alias("ux"),
        F.pmod(F.col("event_id") * 7, F.lit(256)).cast("long").alias("tx"),
    )
    # identity boundaries: searchsorted(arange(1,256), v) == v for 0..255
    bnd = {"ux": np.arange(1, 256), "tx": np.arange(1, 256)}
    out = add_cluster_key(df, ["ux", "tx"], curve="zorder", bits=8, boundaries=bnd)
    return out.select("event_id", "ux", "tx", F.col("_cluster").alias("zkey"))


ZORDER_KEY_SQL = f"""
WITH c AS (
  SELECT event_id,
         CAST(user_id % 256 AS BIGINT) AS ux,
         CAST((event_id * 7) % 256 AS BIGINT) AS tx
  FROM events)
SELECT event_id, ux, tx,
       CAST({_bit_interleave_sql('ux', 'tx', 8)} AS BIGINT) AS zkey
FROM c
"""


def q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: Hilbert key (Skilling transform pandas UDF), verified
    against the same transform unrolled into closed-form SQL
    (HILBERT_KEY_SQL: 7 fixed Q-levels × 2 dims of inverse-undo, gray
    encode, and the t-fold, as bounded CASE/xor chains — no iteration
    left). tests/test_clustering.py additionally proves bijectivity +
    unit-step continuity."""
    _utc(spark)
    import numpy as np

    from iceberg_compaction_spark.functions.clustering import add_cluster_key

    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(256)).cast("long").alias("ux"),
        F.pmod(F.col("event_id") * 7, F.lit(256)).cast("long").alias("tx"),
    )
    bnd = {"ux": np.arange(1, 256), "tx": np.arange(1, 256)}
    out = add_cluster_key(df, ["ux", "tx"], curve="hilbert", bits=8, boundaries=bnd)
    return out.select("event_id", F.col("_cluster").alias("hkey"))


def _hilbert_sql(bits: int = 8) -> str:
    """Skilling's AxesToTranspose for d=2 unrolled step-for-step from
    functions/clustering.py::hilbert_index: per Q level, dim 0's
    invert-low-bits rule then dim 1's invert/exchange rule, each as one
    CTE; then the gray encode, the t accumulation (an xor fold over Q
    levels), and the final MSB-first interleave."""
    qs = [1 << b for b in range(bits - 1, 0, -1)]
    ctes = [
        """c AS (
  SELECT event_id,
         CAST(user_id % 256 AS BIGINT) AS x0,
         CAST((event_id * 7) % 256 AS BIGINT) AS x1
  FROM events)"""
    ]
    cur, k = "c", 0
    for q in qs:
        p = q - 1
        k += 1
        ctes.append(
            f"s{k} AS (SELECT event_id, "
            f"CASE WHEN (x0 & {q}) != 0 THEN xor(x0, {p}) ELSE x0 END AS x0, "
            f"x1 FROM {cur})"
        )
        cur = f"s{k}"
        k += 1
        ctes.append(
            f"s{k} AS (SELECT event_id, "
            f"CASE WHEN (x1 & {q}) != 0 THEN xor(x0, {p}) "
            f"ELSE xor(x0, xor(x0, x1) & {p}) END AS x0, "
            f"CASE WHEN (x1 & {q}) != 0 THEN x1 "
            f"ELSE xor(x1, xor(x0, x1) & {p}) END AS x1 "
            f"FROM {cur})"
        )
        cur = f"s{k}"
    k += 1
    ctes.append(f"s{k} AS (SELECT event_id, x0, xor(x1, x0) AS x1 FROM {cur})")
    cur = f"s{k}"
    t_expr = "0"
    for q in qs:
        t_expr = f"xor({t_expr}, CASE WHEN (x1 & {q}) != 0 THEN {q - 1} ELSE 0 END)"
    k += 1
    ctes.append(
        f"s{k} AS (SELECT event_id, xor(x0, {t_expr}) AS x0, "
        f"xor(x1, {t_expr}) AS x1 FROM {cur})"
    )
    cur = f"s{k}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT event_id, CAST({_bit_interleave_sql('x0', 'x1', bits)} AS BIGINT) AS hkey
FROM {cur}
"""


HILBERT_KEY_SQL = _hilbert_sql()
