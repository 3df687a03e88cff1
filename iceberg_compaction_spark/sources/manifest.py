"""Manifest (files metadata table) IO and per-file stats collection.

The manifest is the engine's equivalent of the Iceberg ``.files``
metadata table: one row per live file of a snapshot. The reference
models this as ``FileMetadata`` structs
(``/root/reference/crates/common/src/file_group.rs:13-28``) produced
from ``FileScanTask``s and converts written output back to DataFile
entries with per-column bounds
(``crates/worker/src/datafusion/mod.rs:266-375``). Here the manifest is
a small Parquet table written driver-side with pyarrow. Scan pruning
and compaction planning read it as resolved Python rows on the driver
(``Table.manifest``); ``Table.files_df`` reads the same files as a
Spark DataFrame for metadata tables and delete sweeps.

Stats collection reads Parquet *footers only* (never the data): a
driver thread pool, or a ``mapPartitions`` job once a batch holds more
than ``_DISTRIBUTED_THRESHOLD`` files — the size above which the job
measured faster than the pool.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Iterable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_DATA = "data"
CONTENT_POS_DEL = "pos_del"
CONTENT_EQ_DEL = "eq_del"

MANIFEST_SCHEMA = pa.schema(
    [
        ("path", pa.string()),
        ("content", pa.string()),
        ("size_bytes", pa.int64()),
        ("record_count", pa.int64()),
        ("sequence_number", pa.int64()),
        ("partition", pa.string()),
        ("equality_ids", pa.list_(pa.string())),
        ("stats_json", pa.string()),  # {col: {"min":…, "max":…, "nulls": n}}
    ]
)

# Bounds are kept for primitive types only, mirroring the reference's
# restriction (mod.rs:400-435: bool/int/long/float/double/string/binary;
# nested excluded at mod.rs:432-434).
_STATS_TYPES = ("bool", "int", "long", "float", "double", "string", "date", "timestamp")


@dataclass
class FileInfo:
    path: str
    content: str = CONTENT_DATA
    size_bytes: int = 0
    record_count: int = 0
    sequence_number: int = 0
    partition: str = ""
    equality_ids: list = field(default_factory=list)
    stats_json: str = "{}"

    def to_row(self) -> dict:
        return {
            "path": self.path,
            "content": self.content,
            "size_bytes": int(self.size_bytes),
            "record_count": int(self.record_count),
            "sequence_number": int(self.sequence_number),
            "partition": self.partition,
            "equality_ids": list(self.equality_ids),
            "stats_json": self.stats_json,
        }


def write_manifest(rows: Iterable[dict], path: str) -> None:
    rows = list(rows)
    if rows:
        table = pa.Table.from_pylist(rows, schema=MANIFEST_SCHEMA)
    else:
        table = MANIFEST_SCHEMA.empty_table()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _shard_name(partition: str) -> str:
    import hashlib

    return f"shard-{hashlib.md5(partition.encode()).hexdigest()[:16]}.parquet"


def write_manifest_sharded(
    rows: Iterable[dict],
    dir_path: str,
    reuse: dict | None = None,
    touched: set | None = None,
) -> tuple[dict, int, int]:
    """Write a base manifest as a DIRECTORY of per-partition shards →
    ({partition: shard_path}, shards_written, shards_reused).

    The point (Iceberg's partition-scoped manifests,
    ``LEARNING_AND_ARCHITECTURE.md:795-799`` stretch envelope): when a
    delta chain collapses into a new base, partitions untouched since
    the previous base keep their EXACT row set — their shards are
    hard-linked from ``reuse`` (zero serialization IO, one inode op)
    instead of rewritten, so the periodic collapse a high-commit-rate
    table performs under the commit lock costs O(changed partitions),
    not O(table files). Hard links are per-snapshot names: expiring one
    snapshot's directory never disturbs another's.

    ``reuse``: {partition: existing shard file} from the ancestor base.
    ``touched``: partitions whose contents changed since that base —
    only these (plus partitions with no reusable shard) are rewritten.
    """
    reuse = reuse or {}
    touched = touched if touched is not None else set()
    by_part: dict[str, list] = {}
    for r in rows:
        by_part.setdefault(r.get("partition") or "", []).append(r)
    # A committer that crashed after writing shards but before the CAS
    # leaves a partial dir at this (unadvanced) snapshot id; a retry
    # with a DIFFERENT partition set would otherwise inherit stale
    # shards into its listing. Nothing references the dir pre-CAS:
    # clear it.
    if os.path.isdir(dir_path):
        import shutil

        shutil.rmtree(dir_path)
    os.makedirs(dir_path, exist_ok=True)
    shards: dict[str, str] = {}
    written = reused = 0
    if not by_part:  # empty table: one empty shard so readers see the schema
        p = os.path.join(dir_path, _shard_name(""))
        pq.write_table(MANIFEST_SCHEMA.empty_table(), p)
        return {"": p}, 1, 0
    for part, part_rows in sorted(by_part.items()):
        dst = os.path.join(dir_path, _shard_name(part))
        src = reuse.get(part)
        if src is not None and part not in touched and os.path.exists(src):
            try:
                os.link(src, dst)
            except OSError:  # cross-device / fs without links: copy
                import shutil

                shutil.copyfile(src, dst)
            shards[part] = dst
            reused += 1
            continue
        pq.write_table(pa.Table.from_pylist(part_rows, schema=MANIFEST_SCHEMA), dst)
        shards[part] = dst
        written += 1
    return shards, written, reused


def read_manifest(path: str) -> list[dict]:
    """Read a base manifest — a single parquet file or a sharded
    directory (pyarrow reads either)."""
    return pq.read_table(path).to_pylist()


# Delta manifests (Iceberg's manifest-list idea, minimally): a commit
# writes only its adds + remove tombstones; the full listing is the
# base manifest plus the delta chain. Keeps commit IO O(changed files)
# instead of O(table files) — the difference between a usable and an
# unusable commit path at 10^6 files.
DELTA_SCHEMA = MANIFEST_SCHEMA.append(pa.field("op", pa.string()))  # add | remove


def write_delta_manifest(
    added_rows: Iterable[dict], removed_paths: Iterable[str], path: str
) -> None:
    rows = [dict(r, op="add") for r in added_rows]
    rows += [
        {
            "path": p,
            "content": "",
            "size_bytes": 0,
            "record_count": 0,
            "sequence_number": 0,
            "partition": "",
            "equality_ids": [],
            "stats_json": "{}",
            "op": "remove",
        }
        for p in removed_paths
    ]
    table = (
        pa.Table.from_pylist(rows, schema=DELTA_SCHEMA)
        if rows
        else DELTA_SCHEMA.empty_table()
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def read_delta_manifest(path: str) -> tuple[list[dict], set]:
    """→ (added manifest rows, removed path set)."""
    rows = pq.read_table(path).to_pylist()
    adds = []
    removed = set()
    for r in rows:
        if r.pop("op") == "add":
            adds.append(r)
        else:
            removed.add(r["path"])
    return adds, removed


def _json_safe(v):
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return v.decode("utf-8", "replace")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float) or isinstance(v, int) or isinstance(v, str) or isinstance(v, bool):
        return v
    return str(v)


def _footer_stats(path: str) -> tuple[int, int, str]:
    """(record_count, size_bytes, stats_json) from one Parquet footer."""
    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    # Unknowns poison the aggregate: if ANY row group omits a stat for
    # a column, the file-level value is unknown (None), never a partial
    # aggregate — a partial min isn't a bound (the silent row group may
    # hold smaller values) and a partial null sum of 0 reads as
    # known-zero, wrongly pruning IS NULL conjuncts.
    unknown_bounds: set = set()
    unknown_nulls: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested: excluded, like the reference
                continue
            st = col.statistics
            if st is None:
                unknown_bounds.add(name)
                unknown_nulls.add(name)
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                unknown_nulls.add(name)
            if not st.has_min_max:
                # all-null chunks legitimately carry no min/max and
                # exclude no values; anything else is a true unknown
                if st.null_count is None or st.null_count < g.num_rows:
                    unknown_bounds.add(name)
                continue
            mn, mx = _json_safe(st.min), _json_safe(st.max)
            if name not in mins or (mn is not None and mn < mins[name]):
                mins[name] = mn
            if name not in maxs or (mx is not None and mx > maxs[name]):
                maxs[name] = mx
    stats = {
        c: {
            "min": None if c in unknown_bounds else mins.get(c),
            "max": None if c in unknown_bounds else maxs.get(c),
            "nulls": None if c in unknown_nulls else nulls.get(c),
        }
        for c in set(mins) | set(maxs)
    }
    return md.num_rows, os.path.getsize(path), json.dumps(stats, sort_keys=True, default=str)


# Footer reads go to a Spark job above this many files. Measured on a
# 4-core host, local[2], 6-column files: the thread pool wins up to
# ~2,500 files (2,000: 0.9 s vs 1.3 s), the two tie near 3,000, and the
# job wins from 3,500 on (10,000: 2.3 s vs 4.6 s).
_DISTRIBUTED_THRESHOLD = 3000


def collect_file_infos(
    paths: Sequence[str],
    content: str = CONTENT_DATA,
    sequence_number: int = 0,
    partition_of=None,
    equality_ids: Sequence[str] = (),
    spark=None,
) -> list[FileInfo]:
    """Footer-only stats for freshly written files → manifest rows.

    ``partition_of(path) -> str`` derives the partition value. With a
    SparkSession and more than ``_DISTRIBUTED_THRESHOLD`` files the
    footer reads run as a Spark job (per-partition imperative work —
    the one legitimate RDD use); otherwise on a driver thread pool."""
    paths = sorted(paths)
    if spark is not None and len(paths) > _DISTRIBUTED_THRESHOLD:
        sc = spark.sparkContext
        n_slices = max(1, min(len(paths) // 8, sc.defaultParallelism * 4))

        def _part(it):
            for p in it:
                yield (p, _footer_stats(p))

        results = dict(sc.parallelize(paths, n_slices).mapPartitions(_part).collect())
    else:
        with ThreadPoolExecutor(max_workers=min(32, max(1, len(paths)))) as ex:
            results = dict(zip(paths, ex.map(_footer_stats, paths)))

    infos = []
    for p in paths:
        rows, size, stats = results[p]
        infos.append(
            FileInfo(
                path=p,
                content=content,
                size_bytes=size,
                record_count=rows,
                sequence_number=sequence_number,
                partition=partition_of(p) if partition_of else "",
                equality_ids=list(equality_ids),
                stats_json=stats,
            )
        )
    return infos


def list_parquet_files(directory: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(directory):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(root, f))
    return sorted(out)
