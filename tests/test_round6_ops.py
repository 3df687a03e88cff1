"""Round-6 operator tests: duplicate-span dedup, temperature mixture,
shard export, hashed classifier, line cleaning. The driver-oracle
parity for each lives in test_oracle_parity; these pin semantics on
crafted fixtures plus the plan-shape guarantees the docstrings claim."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iceberg_compaction_spark.operators.mixing import (
    export_shards,
    mixture_resample,
    temperature_fractions,
    write_shards,
)
from iceberg_compaction_spark.operators.spans import (
    duplicate_spans,
    positional_grams,
    trim_duplicate_spans,
)
from iceberg_compaction_spark.operators.textql import clean_lines, hashed_linear_score


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ----------------------------------------------------------------------
# duplicate spans
def test_duplicate_spans_cross_doc_passage(spark):
    """A passage shared by two docs becomes one maximal span in each;
    text unique to a doc is never flagged."""
    shared = "alpha beta gamma delta epsilon"
    df = _docs(
        spark,
        [
            (1, f"intro one two {shared} tail xx"),
            (2, f"{shared} something entirely different here"),
            (3, "no overlap with anything else at all"),
        ],
    )
    out = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, n=3, min_docs=2).collect()
    }
    # doc1: shared passage at token positions 3..7; doc2: 0..4
    assert out == {(1, 3, 7), (2, 0, 4)}


def test_duplicate_spans_within_doc_repeat_not_flagged(spark):
    """min_docs counts DISTINCT documents: a phrase repeated inside one
    doc only is not a cross-corpus duplicate."""
    df = _docs(
        spark,
        [
            (1, "echo echo echo echo echo echo"),
            (2, "totally different words live here now"),
        ],
    )
    assert duplicate_spans(df, n=3, min_docs=2).count() == 0


def test_duplicate_spans_short_docs_and_merge(spark):
    """Docs shorter than n contribute no grams; overlapping gram hits
    merge into one span (not one span per gram)."""
    df = _docs(
        spark,
        [
            (1, "a b"),  # shorter than n=3: no grams
            (2, "one two three four five six"),
            (3, "one two three four five seven"),
        ],
    )
    rows = duplicate_spans(df, n=3, min_docs=2).collect()
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["span_len"]) for r in rows}
    # grams "one two three"@0, "two three four"@1, "three four five"@2
    # are shared -> one merged span over tokens 0..4 in both docs
    assert got == {(2, 0, 4, 5), (3, 0, 4, 5)}


def test_gram_hash_variant_matches_string_grams(spark):
    """xxhash64 gram keys (the narrow-shuffle corpus mode) produce the
    identical span set."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, duplicate_spans(df, n=4).collect()))
    b = sorted(map(tuple, duplicate_spans(df, n=4, gram_hash=True).collect()))
    assert a == b and len(a) > 0


def test_trim_duplicate_spans_rewrites_and_accounts(spark):
    shared = "alpha beta gamma delta epsilon"
    df = _docs(
        spark,
        [
            (1, f"intro one two {shared} tail xx"),
            (2, f"{shared} something entirely different here"),
            (3, "no overlap with anything else at all"),
        ],
    )
    out = {r["doc_id"]: r for r in trim_duplicate_spans(df, n=3, min_docs=2).collect()}
    assert out[1]["text_trimmed"] == "intro one two tail xx"
    assert out[1]["n_dup_tokens"] == 5 and out[1]["n_tokens"] == 10
    assert out[2]["text_trimmed"] == "something entirely different here"
    # untouched doc: full normalized text survives, zero dup tokens
    assert out[3]["n_dup_tokens"] == 0
    assert out[3]["text_trimmed"] == "no overlap with anything else at all"
    # trimming preserves row count and input columns
    assert set(out) == {1, 2, 3}


def test_positional_grams_positions(spark):
    df = _docs(spark, [(1, "w0 w1 w2 w3")])
    got = sorted(
        (r["pos"], r["gram"]) for r in positional_grams(df, n=2).collect()
    )
    assert got == [(0, "w0 w1"), (1, "w1 w2"), (2, "w2 w3")]


def test_span_ops_plan_no_cartesian(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        duplicate_spans(df, n=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "Python" not in plan


# ----------------------------------------------------------------------
# temperature mixture
def test_temperature_fractions_formula(spark):
    """f = base * sqrt(n_max/n) capped at 1, on a 60/20/10/10 skew."""
    rows = [(i, f"t{i}") for i in range(100)]
    df = _docs(spark, rows).withColumn(
        "dom",
        F.when(F.col("doc_id") % 10 < 6, "web")
        .when(F.col("doc_id") % 10 < 8, "books")
        .when(F.col("doc_id") % 10 == 8, "code")
        .otherwise("wiki"),
    )
    fr = {r["dom"]: r for r in temperature_fractions(df, "dom", 0.5, 0.5).collect()}
    assert fr["web"]["n_source"] == 60 and fr["web"]["keep_frac"] == 0.5
    assert fr["books"]["n_source"] == 20
    assert fr["books"]["keep_frac"] == pytest.approx(0.5 * (60 / 20) ** 0.5, abs=1e-6)
    assert fr["code"]["n_source"] == 10
    assert fr["code"]["keep_frac"] == 1.0  # 0.5*sqrt(6) > 1 -> capped


def test_mixture_resample_subset_and_deterministic(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").withColumn(
        "dom", F.when(F.col("doc_id") % 4 < 3, "big").otherwise("small")
    )
    a = sorted(r["doc_id"] for r in mixture_resample(df, "dom", base_fraction=0.5).collect())
    b = sorted(r["doc_id"] for r in mixture_resample(df, "dom", base_fraction=0.5).collect())
    assert a == b and 0 < len(a) < df.count()
    # survivors are a subset of the input ids
    all_ids = {r["doc_id"] for r in df.select("doc_id").collect()}
    assert set(a) <= all_ids


def test_mixture_alpha_one_is_plain_base_fraction(spark):
    """alpha=1 disables rebalancing: every source keeps base_fraction."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fr = temperature_fractions(df, "source", alpha=1.0, base_fraction=0.25).collect()
    assert all(r["keep_frac"] == 0.25 for r in fr)


# ----------------------------------------------------------------------
# shard export
def test_export_shards_deterministic_across_parallelism(spark):
    """The (shard, rank, id) assignment is a pure function of
    (seed, id): identical regardless of input partitioning — the
    cluster-size-invariance the north rule asks training exports for."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(
        (r["shard"], r["shard_rank"], r["doc_id"])
        for r in export_shards(df.repartition(1), 4).collect()
    )
    b = sorted(
        (r["shard"], r["shard_rank"], r["doc_id"])
        for r in export_shards(df.repartition(13), 4).collect()
    )
    assert a == b
    # ranks are dense 1..k per shard
    per_shard: dict[int, list[int]] = {}
    for s, rk, _ in a:
        per_shard.setdefault(s, []).append(rk)
    for s, rks in per_shard.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_export_shards_seed_reshuffles(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = [(r["shard"], r["doc_id"]) for r in export_shards(df, 4, seed="s1").collect()]
    b = dict(
        (r["doc_id"], r["shard"]) for r in export_shards(df, 4, seed="s2").collect()
    )
    moved = sum(1 for s, d in a if b[d] != s)
    assert moved > len(a) // 4  # a different seed reassigns a large share


def test_write_shards_layout(spark, tmp_warehouse):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = os.path.join(tmp_warehouse, "shards")
    write_shards(df, out, n_shards=4)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    # within a shard file, rows are rank-ordered
    one = spark.read.parquet(os.path.join(out, "shard=0")).collect()
    ranks = [r["shard_rank"] for r in one]
    assert ranks == sorted(ranks)


# ----------------------------------------------------------------------
# hashed classifier
def test_hashed_linear_score_weights_mode(spark):
    """With an explicit model array the score is the mean bucket
    weight; a constant model scores every doc at that constant."""
    df = _docs(spark, [(1, "aa bb cc"), (2, "dd")])
    out = hashed_linear_score(df, dim=16, weights=[0.25] * 16).collect()
    assert all(abs(r["score"] - 0.25) < 1e-9 for r in out)
    assert all(r["label"] for r in out)


def test_hashed_linear_score_weights_dim_mismatch(spark):
    df = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError, match="weights has 3"):
        hashed_linear_score(df, dim=16, weights=[0.1, 0.2, 0.3])


def test_hashed_linear_score_derived_is_integer_exact(spark):
    """Derived mode: milli sum equals the hand-computed per-token
    Knuth-hash weights (exact integers, no FP in the accumulator)."""
    import hashlib

    text = "alpha beta gamma"
    df = _docs(spark, [(7, text)])
    row = hashed_linear_score(df, dim=256).collect()[0]
    expect = 0
    for tok in text.split():
        bucket = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 256
        expect += (bucket * 2654435761) % 1000 - 500
    assert row["score_milli_sum"] == expect
    assert row["n_toks"] == 3
    assert row["score"] == expect / 3000.0


def test_classifier_and_cleaning_plans_map_only(spark):
    """Both ops must stay whole-stage JVM map work: no Exchange, no
    Python in the executed plan."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for op in (lambda d: hashed_linear_score(d), lambda d: clean_lines(d)):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan


# ----------------------------------------------------------------------
# line cleaning
def test_clean_lines_rules(spark):
    """8-token lines: dropped when <5 words, when missing the
    natural-language marker, or when containing a banned term."""
    keep_line = "the quick brown fox jumps over it all"  # 8 toks, has 'the'
    no_marker = "quick brown fox jumps over fence gate wall"  # no stopword
    banned = "the slow brown fox jumps over it all"  # banned term
    df = _docs(
        spark,
        [
            (1, f"{keep_line} {no_marker} {banned} the end"),  # tail: 2 toks
        ],
    )
    r = clean_lines(df, line_tokens=8, min_words=5).collect()[0]
    assert r["n_lines"] == 4  # 26 tokens -> ceil(26/8)
    assert r["n_kept_lines"] == 1
    assert r["text_clean"] == keep_line


# ----------------------------------------------------------------------
# bucket transform predicate projection
def test_bucket_projection_point_lookup(spark, tmp_warehouse):
    """conv_id = K on a bucket[8] table prunes every other bucket's
    files and returns exactly the plain-filter rows."""
    from iceberg_compaction_spark.sources.generator import (
        TRANSCRIPT_DDL,
        transcripts_df,
    )
    from iceberg_compaction_spark.sources.table import Table, bucket_partition_spec

    t = Table.create(
        os.path.join(tmp_warehouse, "bkt"),
        TRANSCRIPT_DDL,
        partition=bucket_partition_spec("conv_id", 8),
    )
    t.append_dataframe(transcripts_df(spark, 8000, 40))
    n_files = len(t.files(content="data"))
    key = "conv_00000007"
    expect = t.scan(spark).filter(f"conv_id = '{key}'").count()
    got = t.scan(spark, filter=f"conv_id = '{key}'").count()
    assert got == expect > 0
    assert t.last_scan_pruned_files > n_files // 2

    # IN over two keys: union of two buckets, still prunes
    exp_in = t.scan(spark).filter(
        "conv_id IN ('conv_00000003', 'conv_00000012')"
    ).count()
    got_in = t.scan(
        spark, filter="conv_id IN ('conv_00000003', 'conv_00000012')"
    ).count()
    assert got_in == exp_in > 0 and t.last_scan_pruned_files > 0


def test_bucket_projection_bails_on_unsound_predicates(spark, tmp_warehouse):
    """An OR-disjunct without a source constraint can reach any bucket:
    projection must not engage, and results stay exact."""
    from iceberg_compaction_spark.sources.generator import (
        TRANSCRIPT_DDL,
        transcripts_df,
    )
    from iceberg_compaction_spark.sources.table import Table, bucket_partition_spec

    t = Table.create(
        os.path.join(tmp_warehouse, "bkt2"),
        TRANSCRIPT_DDL,
        partition=bucket_partition_spec("conv_id", 8),
    )
    t.append_dataframe(transcripts_df(spark, 4000, 20))
    pred = "conv_id = 'conv_00000007' OR role = 'user'"
    assert t.scan(spark, filter=pred).count() == t.scan(spark).filter(pred).count()


def test_source_literals_extraction():
    from iceberg_compaction_spark.plans.transforms import source_literals

    assert source_literals("conv_id = 'x'", "conv_id") == ["x"]
    assert source_literals("conv_id IN ('a', 'b') AND turn_idx > 3", "conv_id") == [
        "a",
        "b",
    ]
    # both disjuncts constrained -> union of values
    assert source_literals(
        "(conv_id = 'a' AND role = 'u') OR conv_id = 'b'", "conv_id"
    ) == ["a", "b"]
    # one disjunct unconstrained -> unsound -> None
    assert source_literals("conv_id = 'a' OR role = 'u'", "conv_id") is None
    # range predicates don't project through a hash bucket
    assert source_literals("conv_id > 'a'", "conv_id") is None
    assert source_literals("role = 'u'", "conv_id") is None


def test_projection_never_drops_unknown_partition_files(spark, tmp_warehouse):
    """Conservatism: a file with no recorded partition value (e.g. a
    legacy mixed write) must survive projection."""
    from iceberg_compaction_spark.plans import transforms
    from iceberg_compaction_spark.sources.generator import TRANSCRIPT_DDL
    from iceberg_compaction_spark.sources.table import Table, bucket_partition_spec

    t = Table.create(
        os.path.join(tmp_warehouse, "bkt3"),
        TRANSCRIPT_DDL,
        partition=bucket_partition_spec("conv_id", 8),
    )
    pv = transforms.project_partition_values(
        spark, t.meta["partition"], t.physical_schema(), "conv_id = 'k1'"
    )
    assert pv is not None and len(pv) == 1
    # the scan-side keep rule: empty partition value is always kept
    rows = [{"partition": "", "path": "a"}, {"partition": next(iter(pv)), "path": "b"},
            {"partition": "notit", "path": "c"}]
    kept = [r for r in rows if not r.get("partition") or r["partition"] in pv]
    assert [r["path"] for r in kept] == ["a", "b"]


# ----------------------------------------------------------------------
# filtered rewrite (Iceberg rewrite_data_files(filter=...))
def test_row_filter_scopes_compaction(spark, tmp_warehouse):
    """row_filter selects only data files whose bounds may match; the
    rewrite touches those files whole and leaves the rest untouched,
    and the table's row set is invariant."""
    from iceberg_compaction_spark.config import (
        CompactionConfig,
        GroupingStrategy,
        SelectionStrategy,
    )
    from iceberg_compaction_spark.plans.compaction import CompactionRunner
    from iceberg_compaction_spark.sources.generator import create_transcripts_table

    t = create_transcripts_table(
        spark,
        os.path.join(tmp_warehouse, "rowf"),
        n_turns=6000,
        n_convs=30,
        n_files=12,
        partitioned=True,  # day partitions -> per-file ts bounds differ
        ts_step_s=60,  # ~4 days of data -> several day partitions
    )
    before = {f["path"]: f for f in t.files(content="data")}
    total_rows = t.scan(spark).count()
    # cutoff: the max day partition — only that day's files qualify
    days = sorted({f["partition"] for f in before.values()})
    cut = days[-1]
    cfg = CompactionConfig(
        selection=SelectionStrategy.FULL,
        grouping=GroupingStrategy.SINGLE,
        row_filter=f"ts >= TIMESTAMP '{cut} 00:00:00'",
    )
    res = CompactionRunner(spark, t, cfg).execute()
    matching = [p for p, f in before.items() if f["partition"] == cut]
    assert res.input_files == len(matching) > 0
    assert res.input_files < len(before)
    after = {f["path"] for f in t.files(content="data")}
    # untouched files survive; matching files were replaced
    untouched = {p for p, f in before.items() if f["partition"] != cut}
    assert untouched <= after
    assert not (set(matching) & after)
    assert t.scan(spark).count() == total_rows


def test_row_filter_unparseable_selects_everything(spark, tmp_warehouse):
    """Conservatism: a predicate the stats evaluator can't decompose
    must not silently skip files — it selects all of them."""
    from iceberg_compaction_spark.config import (
        CompactionConfig,
        GroupingStrategy,
        SelectionStrategy,
    )
    from iceberg_compaction_spark.plans.compaction import CompactionRunner
    from iceberg_compaction_spark.sources.generator import create_transcripts_table

    t = create_transcripts_table(
        spark,
        os.path.join(tmp_warehouse, "rowf2"),
        n_turns=1200,
        n_convs=10,
        n_files=4,
        partitioned=False,
    )
    n_files = len(t.files(content="data"))
    cfg = CompactionConfig(
        selection=SelectionStrategy.FULL,
        grouping=GroupingStrategy.SINGLE,
        row_filter="length(text) - 1 > 0",  # not bounds-decomposable
    )
    res = CompactionRunner(spark, t, cfg).execute()
    assert res.input_files == n_files


def test_row_filter_plan_runs_no_spark_job(spark, tmp_warehouse):
    """Planning a filtered rewrite is metadata work on the driver: the
    call starts no Spark job (checked through a job group, with a
    control job proving the group records jobs)."""
    import uuid

    from iceberg_compaction_spark.config import (
        CompactionConfig,
        GroupingStrategy,
        SelectionStrategy,
    )
    from iceberg_compaction_spark.plans.compaction import CompactionRunner
    from iceberg_compaction_spark.sources.generator import create_transcripts_table

    t = create_transcripts_table(
        spark,
        os.path.join(tmp_warehouse, "rowf3"),
        n_turns=2000,
        n_convs=10,
        n_files=6,
        partitioned=True,
        ts_step_s=60,
    )
    cut = max(f["partition"] for f in t.files(content="data"))
    runner = CompactionRunner(
        spark,
        t,
        CompactionConfig(
            selection=SelectionStrategy.FULL,
            grouping=GroupingStrategy.BIN_PACK,
            row_filter=f"ts >= TIMESTAMP '{cut} 00:00:00'",
        ),
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "row_filter plan")
    try:
        spark.range(1).count()
        before = set(tracker.getJobIdsForGroup(group))
        assert before  # the group records this thread's jobs
        bins = runner.plan()
        after = set(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after == before
    planned = {p for b in bins for p in b.paths}
    assert planned and all(
        f["partition"] == cut for f in t.files(content="data") if f["path"] in planned
    )


# ----------------------------------------------------------------------
# incremental dedup against a persisted LSH index
def test_incremental_dedup_matches_batch(spark):
    """When every corpus id is smaller than every increment id (so
    batch LSH tie-breaking also keeps the corpus copy), incremental
    dedup of the increment against the corpus index must keep exactly
    the increment docs that signature-only batch LSH over the union
    would keep."""
    from iceberg_compaction_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_index,
        minhash_lsh_dedup,
    )

    base = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "pack my box with five dozen liquor jugs for the long trip"),
        (2, "completely unrelated text about spark dataframes and shuffles"),
    ]
    inc = [
        (10, "the quick brown fox jumps over the lazy dog again and again"),  # dup of 0
        (11, "a brand new document nothing in the corpus resembles at all"),
        (12, "a brand new document nothing in the corpus resembles at all"),  # intra dup of 11
        (13, "pack my box with five dozen liquor jugs for the long trip"),  # dup of 1
    ]
    old = spark.createDataFrame(base, "doc_id long, text string")
    new = spark.createDataFrame(inc, "doc_id long, text string")
    idx = minhash_index(old, bands=4)
    survivors, delta = incremental_minhash_dedup(new, idx, bands=4)
    got = sorted(r["doc_id"] for r in survivors.collect())
    batch = minhash_lsh_dedup(
        old.unionByName(new), bands=4, verify_threshold=None
    )
    want = sorted(
        r["doc_id"] for r in batch.collect() if r["doc_id"] >= 10
    )
    assert got == want == [11]
    # the index delta holds exactly the survivors' bands
    rows = delta.collect()
    assert {r["doc_id"] for r in rows} == {11}
    assert len(rows) == 4


def test_incremental_dedup_index_absorbs_increment(spark):
    """Appending the returned delta makes a re-run of the SAME
    increment drop everything — the index absorbed it."""
    from iceberg_compaction_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_index,
    )

    old = spark.createDataFrame(
        [(0, "seed document for the rolling corpus index state")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(5, "first fresh document arriving in the morning batch"),
         (6, "unrelated prose about compaction bin packing strategies")],
        "doc_id long, text string",
    )
    idx = minhash_index(old, bands=4)
    survivors, delta = incremental_minhash_dedup(new, idx, bands=4)
    assert survivors.count() == 2
    idx2 = idx.unionByName(delta)
    again, delta2 = incremental_minhash_dedup(new, idx2, bands=4)
    assert again.count() == 0
    assert delta2.count() == 0
