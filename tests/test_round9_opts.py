"""Round-9 optimization equivalence gates.

Every optimization that changed an operator's *internals* gets a test
pinning the new path to the old semantics:

  * vectorized exact top-k == crossJoin+HOF top-k, including exact
    cosine ties (duplicate vectors) at the local-selection boundary;
  * vectorized IVF probe == distributed-join IVF probe;
  * duplicate_spans' min(id)!=max(id) window == the count-distinct
    aggregation + join-back plan;
  * write_data_files(distribute=True) collapses a many-partition
    input to ~one file per table partition without changing rows.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F


def _vec(seed: int, d: int = 8) -> list[float]:
    # deterministic, no RNG object
    return [((seed * 31 + i * 17) % 97) / 97.0 + 0.01 for i in range(d)]


def test_vectorized_topk_matches_hof_with_exact_ties(spark):
    from iceberg_compaction_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_vectorized,
    )

    rows = []
    for i in range(40):
        # ids 10..19 share ONE duplicated vector: cosines tie exactly,
        # so the top-k boundary is decided purely by the id tie-break
        v = _vec(5) if 10 <= i < 20 else _vec(i)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") % 7 == 0)
    a = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["cosine"], 9))
        for r in brute_force_topk(df, q, k=3).collect()
    )
    b = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["cosine"], 9))
        for r in brute_force_topk_vectorized(df, q, k=3).collect()
    )
    assert a == b
    # the duplicated block guarantees ties were actually exercised:
    # a query inside the block must rank the SMALLEST other ids
    # carrying the identical vector first (id 5 seeds the same vector
    # the 10..19 block duplicates)
    per_q = {}
    for qid, nid, rank, _c in b:
        per_q.setdefault(qid, []).append((rank, nid))
    assert sorted(per_q[14]) == [(1, 5), (2, 10), (3, 11)]


def test_ivf_probe_vectorized_matches_distributed(spark, tmp_path):
    from iceberg_compaction_spark.operators.ann_index import (
        create_ivf_index,
        ivf_index_build,
        ivf_index_probe,
    )

    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(120)], "vec_id long, embedding array<double>"
    )
    idx = create_ivf_index(os.path.join(str(tmp_path), "ivf"))
    ivf_index_build(spark, idx, emb, n_centroids=4)
    q = emb.filter(F.col("vec_id") % 11 == 3)
    for nprobe in (1, 2, 4):
        vec = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], round(r["cosine"], 9))
            for r in ivf_index_probe(spark, idx, q, k=3, nprobe=nprobe).collect()
        )
        dist = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], round(r["cosine"], 9))
            for r in ivf_index_probe(
                spark, idx, q, k=3, nprobe=nprobe, max_query_rows=0
            ).collect()
        )
        assert vec == dist, f"nprobe={nprobe}"


def test_duplicate_spans_window_matches_countdistinct_plan(spark):
    from pyspark.sql import Window

    from iceberg_compaction_spark.operators.spans import (
        duplicate_spans,
        positional_grams,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "zzz alpha beta gamma delta yyy"),
        (3, "one two three four five six seven"),
        (4, "five six seven eight one two three"),
        (5, "unrelated words only here nothing shared"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    n = 3
    out = sorted(map(tuple, duplicate_spans(df, n=n, min_docs=2).collect()))

    # reference: the pre-round-9 plan — count-distinct + join-back
    grams = positional_grams(df, "doc_id", "text", n)
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + n - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0)
    islands = hits.withColumn("_isl", F.sum(new_island).over(w))
    ref = sorted(
        map(
            tuple,
            islands.groupBy("doc_id", "_isl")
            .agg(
                F.min("pos").alias("span_start"),
                (F.max("pos") + n - 1).alias("span_end"),
            )
            .select(
                "doc_id",
                "span_start",
                "span_end",
                (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
            )
            .collect(),
        )
    )
    assert out == ref and len(out) > 0


def test_write_data_files_distribute_collapses_fragments(spark, tmp_path):
    from iceberg_compaction_spark.sources.generator import (
        TRANSCRIPT_DDL,
        day_partition_spec,
    )
    from iceberg_compaction_spark.sources.table import Table

    df = spark.range(0, 3000).select(
        F.format_string("conv_%03d", F.col("id") % 7).alias("conv_id"),
        (F.col("id") % 100).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("x").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(1_700_000_000 + (F.col("id") % 5) * 86_400).alias("ts"),
    ).repartition(16)
    t1 = Table.create(
        os.path.join(str(tmp_path), "frag"), TRANSCRIPT_DDL,
        partition=day_partition_spec(),
    )
    frag = t1.write_data_files(df)
    t2 = Table.create(
        os.path.join(str(tmp_path), "dist"), TRANSCRIPT_DDL,
        partition=day_partition_spec(),
    )
    dist = t2.write_data_files(df, distribute=True)
    n_days = 5
    assert len(frag) > len(dist)
    assert len(dist) <= n_days + 2  # ~one file per partition value
    assert sum(fi.record_count for fi in dist) == 3000
    assert sum(fi.record_count for fi in frag) == 3000
    # partition purity preserved
    assert all(fi.partition for fi in dist)
