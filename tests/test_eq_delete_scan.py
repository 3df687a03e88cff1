"""Merge-on-read delete resolution as one declared-schema scan.

``_seq`` is attached to data files and equality-delete files alike by
``scan.seq_of_file``: a per-file lookup in a map literal, computed
inside the plan. These tests pin what that design relies on: paths are
matched after percent-decoding, equality-delete keys are read at the
table's current (possibly widened) type, a consolidated file's per-row
``_seq`` outranks its manifest seq, and a MoR scan plans one Parquet
scan per equality-delete key set with no driver-built relation.
"""

from __future__ import annotations

import os

from iceberg_compaction_spark.config import CompactionConfig, SelectionStrategy
from iceberg_compaction_spark.operators.delete_where import delete_where
from iceberg_compaction_spark.operators.maintenance import rewrite_equality_deletes
from iceberg_compaction_spark.operators.merge_into import merge_into
from iceberg_compaction_spark.plans.compaction import CompactionRunner
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources import scan as scan_mod
from iceberg_compaction_spark.sources.table import Table

DDL = "k bigint, v string"


def _rows(t, spark):
    return sorted((r["k"], r["v"]) for r in t.scan(spark).collect())


def _compact(spark, t):
    cfg = CompactionConfig(selection=SelectionStrategy.FULL, sort_order=(("k", False),))
    CompactionRunner(spark, t, cfg).execute()


def test_mor_deletes_under_percent_encoded_path(spark, tmp_warehouse):
    """Spark reports file paths as URIs (a space arrives as ``%20``);
    manifests store plain paths. Both delete kinds must still match
    their data files, and a literal ``+`` or ``%`` must survive."""
    loc = os.path.join(tmp_warehouse, "sp ace+pl%us", "t")
    t = Table.create(loc, DDL)
    t.append_dataframe(
        spark.createDataFrame([(i, f"a{i}") for i in range(10)], DDL).coalesce(2)
    )
    expect = {i: f"a{i}" for i in range(10)}

    merge_into(t, spark.createDataFrame([(1, "b1"), (2, "b2")], DDL), ["k"], mode="mor")
    expect.update({1: "b1", 2: "b2"})
    assert t.files(content=mf.CONTENT_EQ_DEL)
    assert _rows(t, spark) == sorted(expect.items())

    hidden = t.scan(spark, with_hidden=True).select("_file").distinct().collect()
    assert {r["_file"] for r in hidden} <= {
        r["path"] for r in t.files(content=mf.CONTENT_DATA)
    }

    delete_where(spark, t, "k IN (4, 5)", mode="mor")
    del expect[4], expect[5]
    assert t.files(content=mf.CONTENT_POS_DEL)
    assert _rows(t, spark) == sorted(expect.items())

    _compact(spark, t)
    assert _rows(t, spark) == sorted(expect.items())


def test_eq_delete_written_before_widen_resolves(spark, tmp_warehouse):
    """An equality-delete file keeps the key's physical type from
    before ``widen_column``; the declared-type scan reads it at the
    widened type, in ``Table.scan`` and in a compaction rewrite."""
    t = Table.create(os.path.join(tmp_warehouse, "wd"), "k int, v string")
    t.append_dataframe(
        spark.createDataFrame([(i, f"a{i}") for i in range(6)], "k int, v string").coalesce(1)
    )
    merge_into(
        t, spark.createDataFrame([(1, "b1"), (3, "b3")], "k int, v string"), ["k"], mode="mor"
    )
    t.widen_column("k", "bigint")
    big = 2**40
    t.append_dataframe(spark.createDataFrame([(big, "huge")], DDL))
    expect = sorted(
        {0: "a0", 1: "b1", 2: "a2", 3: "b3", 4: "a4", 5: "a5", big: "huge"}.items()
    )
    assert t.files(content=mf.CONTENT_EQ_DEL)
    assert dict(t.scan(spark).dtypes)["k"] == "bigint"
    assert _rows(t, spark) == expect

    _compact(spark, t)
    assert _rows(t, spark) == expect


def test_consolidated_and_plain_eq_files_share_one_scan(spark, tmp_warehouse):
    """One key set, two files: a consolidated file (per-row ``_seq``)
    and a plain one (manifest seq). The per-row seq wins even though
    the consolidated file's manifest seq is higher."""
    t = Table.create(os.path.join(tmp_warehouse, "mix"), DDL)

    def append(rows):
        t.append_dataframe(spark.createDataFrame(rows, DDL).coalesce(1))

    def delete(k):
        t.add_equality_deletes(spark.createDataFrame([(k,)], "k bigint"), ["k"])
        return t.sequence_number

    append([(1, "a1"), (2, "b1"), (3, "c1")])
    seq_k1 = delete(1)
    append([(1, "a2"), (2, "b2")])  # a2 is newer than the k=1 delete
    seq_k2 = delete(2)
    rewrite_equality_deletes(spark, t)
    (consolidated,) = t.files(content=mf.CONTENT_EQ_DEL)
    assert consolidated["sequence_number"] == seq_k2 > seq_k1
    seq_k3 = delete(3)
    append([(3, "c3")])

    eq_rows = t.files(content=mf.CONTENT_EQ_DEL)
    assert len(eq_rows) == 2 and len({tuple(r["equality_ids"]) for r in eq_rows}) == 1
    eq_df = scan_mod.read_equality_deletes(spark, eq_rows, ["k"], t.physical_schema())
    assert sorted((r["k"], r["_seq"]) for r in eq_df.collect()) == [
        (1, seq_k1),
        (2, seq_k2),
        (3, seq_k3),
    ]
    plan = eq_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan

    assert _rows(t, spark) == [(1, "a2"), (3, "c3")]


def test_mor_scan_plan_has_one_scan_per_key_set_and_no_rdd(spark, tmp_warehouse):
    """Plan-shape guard: ``_seq`` comes from a map literal, not from a
    joined driver-side relation, and every equality-delete key set is
    one Parquet scan however many files it holds."""
    t = Table.create(os.path.join(tmp_warehouse, "shape"), DDL)
    t.append_dataframe(
        spark.createDataFrame([(i, f"a{i}") for i in range(20)], DDL).coalesce(2)
    )
    for ks in ([1], [2]):
        t.add_equality_deletes(spark.createDataFrame([(k,) for k in ks], "k bigint"), ["k"])
    for kv in ([(3, "a3")], [(4, "a4")]):
        t.add_equality_deletes(spark.createDataFrame(kv, DDL), ["k", "v"])
    assert len(t.files(content=mf.CONTENT_EQ_DEL)) == 4

    df = t.scan(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" not in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 3, plan  # data + one per key set
    assert sum("_seq" in ln for ln in scans) == 2, plan
    assert sorted(r["k"] for r in df.collect()) == [0] + list(range(5, 20))


def test_norm_file_path_and_seq_of_file(spark):
    """The row-level helpers on their own: URI forms normalize to the
    manifest's plain path (``+`` and ``%`` kept literal, other schemes
    untouched), and the bucketed lookup finds every path of a map large
    enough to span many buckets, non-ASCII ones included."""
    uris = {
        "file:/w/a%20b/x.parquet": "/w/a b/x.parquet",
        "file:///w/a%20b/x.parquet": "/w/a b/x.parquet",
        "file:/w/p+l%25us/x.parquet": "/w/p+l%us/x.parquet",
        "file:/w/plain/x.parquet": "/w/plain/x.parquet",
        "s3a://bucket/k%20ey/x.parquet": "s3a://bucket/k%20ey/x.parquet",
        "/w/already/plain.parquet": "/w/already/plain.parquet",
    }
    df = spark.createDataFrame([(u,) for u in uris], "u string")
    got = df.select("u", scan_mod.norm_file_path(df.u).alias("p")).collect()
    assert {r["u"]: r["p"] for r in got} == uris

    seq_by_path = {f"/w/dätä {i}/part-{i:05d}.parquet": 1000 + i for i in range(101)}
    paths = spark.createDataFrame([(p,) for p in seq_by_path] + [("/w/missing",)], "p string")
    got = {
        r["p"]: r["s"]
        for r in paths.select("p", scan_mod.seq_of_file(seq_by_path, paths.p).alias("s")).collect()
    }
    assert got == {**seq_by_path, "/w/missing": None}
