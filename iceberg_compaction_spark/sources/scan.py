"""Data-file scans with Iceberg-style hidden columns.

The reference widens the data-table schema with three hidden columns
only when the matching delete kind is present
(``crates/worker/src/datafusion/file_scan.rs:195-212``):
``sys_hidden_file_path``, ``sys_hidden_pos``, ``sys_hidden_seq_num``.

Spark-first realization:
  * ``_file`` ← ``_metadata.file_path`` (constant per file, free),
  * ``_pos``  ← ``_metadata.row_index`` (Parquet row position — exactly
    Iceberg position-delete semantics, and split-safe, unlike
    ``monotonically_increasing_id``),
  * ``_seq``  ← ``seq_of_file``: the manifest's per-file sequence
    numbers shipped as ONE JSON string literal, parsed into hashed
    ``map<string,bigint>`` buckets and looked up by the file's path.
    Catalyst constant-folds the parse, so the lookup table is a plan
    literal — the reference's per-file literal
    (``file_scan.rs:146-161``) — with no join, no driver-side DataFrame
    and O(1) py4j calls however many files the scan covers.

Data files and equality-delete files attach ``_seq`` the same way, so
each is ONE Parquet scan over its file list. All metadata fields are
generated by the Parquet scan itself (no shuffle, no window); filters
on user columns still push down.
"""

from __future__ import annotations

import json
import zlib
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_compaction_spark.operators.mor import FILE_COL, POS_COL, SEQ_COL

POS_DELETE_SCHEMA = T.StructType(
    [
        T.StructField(FILE_COL, T.StringType()),
        T.StructField(POS_COL, T.LongType()),
    ]
)


def norm_file_path(col: Column) -> Column:
    """Canonical storage path from a Spark file URI. ``_metadata.file_path``
    and ``input_file_name()`` yield ``file:/abs/path`` or
    ``file:///abs/path`` depending on the Hadoop FileSystem in play,
    percent-encoded (a space arrives as ``%20``); manifests store plain
    absolute paths. ``file:`` URIs are stripped and percent-decoded —
    a literal ``+`` is escaped first so ``url_decode`` keeps it instead
    of turning it into a space. One helper used by every path-matching
    site (scans, delete association, dangling-delete detection) so the
    normalizations can never diverge. Non-``file:`` schemes (s3a://,
    hdfs://) pass through untouched — manifests store the full URI for
    those.

    Evaluated once per scanned row, so it sticks to prefix tests and
    substrings; ``url_decode`` runs only on paths that hold a ``%``."""
    local = F.when(col.startswith("file:///"), F.substr(col, F.lit(8))).when(
        col.startswith("file:/"), F.substr(col, F.lit(6))
    )
    decoded = F.when(
        local.contains("%"), F.url_decode(F.replace(local, F.lit("+"), F.lit("%2B")))
    ).otherwise(local)
    return F.coalesce(decoded, col)


def seq_of_file(seq_by_path: Mapping[str, int], file_col: Column) -> Column:
    """The sequence number of the file whose canonical path is
    ``file_col``, as a bigint (null for a path not in the map).

    The paths are spread over ``len // 4`` buckets by CRC-32 of their
    UTF-8 bytes — ``zlib.crc32`` here, Spark's ``crc32`` per row — and
    the buckets cross to the JVM as ONE JSON string literal that
    Catalyst folds into an ``array<map<string,bigint>>`` constant. A
    map lookup scans its keys, so the buckets keep the per-row cost
    flat in the number of files: one flat map of 2,000 paths made a
    400k-row lookup 14x slower than the bucketed form. Building the
    literal from per-entry columns (``create_map``, ``lit`` of an
    array) would cost one py4j call per element."""
    n_buckets = max(1, len(seq_by_path) // 4)
    buckets: list[dict] = [{} for _ in range(n_buckets)]
    for path, seq in seq_by_path.items():
        buckets[zlib.crc32(path.encode("utf-8")) % n_buckets][path] = int(seq)
    table = F.from_json(F.lit(json.dumps(buckets)), "array<map<string,bigint>>")
    bucket = (F.crc32(file_col) % n_buckets).cast("int") + 1
    return F.element_at(F.element_at(table, bucket), file_col)


def read_data_files(
    spark: SparkSession,
    paths: Sequence[str],
    schema: T.StructType | str | None = None,
    with_file: bool = False,
    with_pos: bool = False,
    seq_by_path: Mapping[str, int] | None = None,
) -> DataFrame:
    """S2: register N parquet data files as one scan, schema widened
    with hidden cols only as needed (reference file_scan.rs:26-79)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*paths)
    cols = [F.col(c) for c in df.columns]
    file_col = norm_file_path(F.col("_metadata.file_path"))
    if with_file:
        cols.append(file_col.alias(FILE_COL))
    if with_pos:
        cols.append(F.col("_metadata.row_index").alias(POS_COL))
    if seq_by_path is not None:
        cols.append(seq_of_file(seq_by_path, file_col).alias(SEQ_COL))
    return df.select(*cols)


def read_position_deletes(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """S3: position-delete scan, schema (_file string, _pos long)
    (reference file_scan.rs:84-126)."""
    return spark.read.schema(POS_DELETE_SCHEMA).parquet(*paths)


def read_equality_deletes(
    spark: SparkSession,
    rows: Sequence[Mapping],
    keys: Sequence[str],
    schema: T.StructType,
) -> DataFrame:
    """S4: ONE Parquet scan over every equality-delete file of one key
    set — manifest ``rows`` carrying ``path`` and ``sequence_number`` —
    yielding the key columns plus ``_seq`` (reference
    file_scan.rs:131-192 resolves key columns by field id and appends
    sys_hidden_seq_num).

    The read schema is declared — the key columns' CURRENT types from
    the table ``schema`` plus ``_seq bigint`` — so nothing is inferred
    per file. Files written before a ``widen_column`` on a key still
    resolve: the Parquet reader upcasts a narrower integer column to the
    declared type.

    All files here must share one key set; the engine stores the key
    set in the manifest's ``equality_ids``.

    Consolidated eq-delete files (``rewrite_equality_deletes``) embed a
    per-row ``_seq`` column — for each key the MAX seq across the
    source files, which kills exactly the union of what the originals
    killed (seq s kills data_seq < s, so max s = the union). A plain
    file has no such column, so the declared column reads as null and
    the file's manifest seq (``seq_of_file``) takes its place.
    """
    seq_by_path = {r["path"]: r["sequence_number"] for r in rows}
    by_name = {f.name: f for f in schema.fields}
    read_schema = T.StructType(
        [by_name[k] for k in keys] + [T.StructField(SEQ_COL, T.LongType())]
    )
    df = spark.read.schema(read_schema).parquet(*sorted(seq_by_path))
    file_seq = seq_of_file(seq_by_path, norm_file_path(F.col("_metadata.file_path")))
    return df.select(*keys, F.coalesce(F.col(SEQ_COL), file_seq).alias(SEQ_COL))
