"""Round-3 punch list regressions: ts-string pruning, strict DELETE
WHERE fast path, WorkerCommit resume safety, sharded base manifests,
single-execution delete writes, scoped MERGE deletes, candidate-scoped
LSH verify, OR-disjunct pruning, multi-chunk stream sessionization."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iceberg_compaction_spark.plans import pruning
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources.generator import create_transcripts_table
from iceberg_compaction_spark.sources.table import Table


# ---------------------------------------------------------------------------
# ADVICE: plain string timestamp literals (space separator) must compare
# as instants against isoformat ('T') bounds — not raw strings
def test_string_ts_literal_does_not_misprune():
    ct = {"ts": "ts"}  # round 4: ts-shaped string literals resolve per column type
    st = {"ts": {"min": "2024-06-02T01:00:00", "max": "2024-06-02T12:00:00", "nulls": 0}}
    # file entirely inside the range: must be kept for both separators
    for lit in ("2024-06-02 23:59:59", "2024-06-02T23:59:59"):
        assert pruning.file_may_match(st, pruning.parse_conjuncts(f"ts <= '{lit}'"), ct)
    assert pruning.file_may_match(st, pruning.parse_conjuncts("ts = '2024-06-02 03:00:00'"), ct)
    # tz-suffixed bounds (isoformat of tz-aware datetimes) normalize too
    st2 = {"ts": {"min": "2024-06-02T01:00:00+00:00", "max": "2024-06-02T12:00:00+00:00", "nulls": 0}}
    assert pruning.file_may_match(st2, pruning.parse_conjuncts("ts <= '2024-06-02 23:59:59'"), ct)
    assert not pruning.file_may_match(st2, pruning.parse_conjuncts("ts > '2024-06-02 23:59:59'"), ct)
    # WITHOUT type context the literal is unresolvable: never excludes
    assert pruning.file_may_match(st2, pruning.parse_conjuncts("ts > '2024-06-02 23:59:59'"))


def test_scan_with_space_separator_string_filter(spark, tmp_warehouse):
    """End-to-end: scan(filter=...) with a bare-string timestamp literal
    returns exactly the rows the unpruned filter returns."""
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "sts"), n_turns=5_000, n_convs=20,
        n_files=6, partitioned=True, ts_step_s=60,
    )
    all_ts = [r[0] for r in t.scan(spark).select("ts").orderBy("ts").collect()]
    mid = all_ts[len(all_ts) // 2].strftime("%Y-%m-%d %H:%M:%S")
    pred = f"ts <= '{mid}'"
    expected = t.scan(spark).filter(pred).count()
    got = t.scan(spark, filter=pred).count()
    assert got == expected and got > 0


# ---------------------------------------------------------------------------
# ADVICE: the DELETE WHERE whole-file drop must be strict
def test_file_all_match_is_strict():
    d = pruning.parse_predicate
    # type mismatch: numeric literal vs string column bounds — never a full drop
    st = {"c": {"min": "5", "max": "5", "nulls": 0}}
    assert not pruning.file_all_match(st, d("c = 5"))
    # int precision beyond 2^53: 9007199254740993 != ...992 exactly
    st = {"c": {"min": 9007199254740992, "max": 9007199254740992, "nulls": 0}}
    assert not pruning.file_all_match(st, d("c = 9007199254740993"))
    assert pruning.file_all_match(st, d("c = 9007199254740992"))
    # unknown nulls / unknown bounds: never a full drop
    assert not pruning.file_all_match({"c": {"min": 1, "max": 2, "nulls": None}}, d("c >= 0"))
    assert not pruning.file_all_match({"c": {"min": None, "max": None, "nulls": 0}}, d("c >= 0"))
    # an unparseable conjunct in the disjunct blocks the full drop
    st = {"a": {"min": 10, "max": 20, "nulls": 0}}
    assert pruning.file_all_match(st, d("a >= 0"))
    assert not pruning.file_all_match(st, d("a >= 0 AND length(text) > 3"))
    # range ops: proof requires both bounds inside
    assert pruning.file_all_match(st, d("a BETWEEN 10 AND 20"))
    assert not pruning.file_all_match(st, d("a BETWEEN 11 AND 20"))
    # disjunct that fully covers wins even if another doesn't
    assert pruning.file_all_match(st, d("a < 5 OR a >= 10"))


def test_delete_where_never_drops_unmatched_rows(spark, tmp_warehouse):
    """A predicate with an unparseable conjunct disables the metadata
    fast path but still deletes exactly the matching rows."""
    from iceberg_compaction_spark.operators.delete_where import delete_where

    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "dwstrict"), n_turns=3_000, n_convs=10,
        n_files=4, partitioned=True, ts_step_s=60,
    )
    before = t.scan(spark).select("conv_id", "turn_idx").collect()
    pred = "turn_idx >= 0 AND length(text) < 0"  # second conjunct unparseable, matches nothing
    res = delete_where(spark, t, pred)
    assert res["dropped_files"] == 0 and res["deleted_rows"] == 0
    assert t.scan(spark).count() == len(before)


# ---------------------------------------------------------------------------
# ADVICE: WorkerCommit resume must not clobber files committed pre-crash
def test_worker_commit_rerun_same_run_id_loses_nothing(spark, tmp_warehouse):
    from iceberg_compaction_spark.config import (
        CommitMode,
        CompactionConfig,
        SelectionStrategy,
    )
    from iceberg_compaction_spark.plans.compaction import CompactionRunner

    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "wc"), n_turns=4_000, n_convs=10,
        n_files=8, partitioned=True,
    )
    cfg = CompactionConfig(
        selection=SelectionStrategy.FULL, commit_mode=CommitMode.WORKER_COMMIT
    )
    key = lambda: sorted(  # noqa: E731
        (r["conv_id"], r["turn_idx"]) for r in t.scan(spark).select("conv_id", "turn_idx").collect()
    )
    expected = key()
    CompactionRunner(spark, t, cfg).execute(run_id="sameid")
    assert key() == expected
    # new small files arrive; a 'resumed' run reuses the SAME run id and
    # re-plans bins whose names can repeat — committed outputs of the
    # first run must survive
    extra = t.scan(spark).limit(500)
    t.append_dataframe(extra)
    expected2 = sorted(expected + [
        (r["conv_id"], r["turn_idx"]) for r in extra.collect()
    ])
    CompactionRunner(spark, t, cfg).execute(run_id="sameid")
    assert key() == expected2


# ---------------------------------------------------------------------------
# sharded base manifests: the 32-commit collapse is O(changed partitions)
def test_base_collapse_rewrites_only_touched_partition_shards(tmp_warehouse):
    t = Table.create(os.path.join(tmp_warehouse, "shard"), "conv_id string, ts timestamp")
    n_parts, files_per_part = 40, 25  # 1000 files
    infos = [
        mf.FileInfo(
            path=f"/x/p{p:02d}/f{i}.parquet", size_bytes=100, record_count=10,
            partition=f"p{p:02d}", stats_json="{}",
        )
        for p in range(n_parts)
        for i in range(files_per_part)
    ]
    t.commit("append", added=infos)  # base 1 (root)
    # enough single-partition commits to force one chain collapse
    n_extra = Table.DELTA_CHAIN_MAX + 1
    for i in range(n_extra):
        t.commit("append", added=[
            mf.FileInfo(path=f"/x/p00/extra{i}.parquet", size_bytes=1,
                        record_count=1, partition="p00", stats_json="{}")
        ])
    snaps = t.snapshots()
    bases = [s for s in snaps if s.get("manifest_kind") == "base" and s["parent_id"] is not None]
    assert bases, "chain never collapsed"
    last = bases[-1]
    w, r = last["summary"]["base_shards_written"], last["summary"]["base_shards_reused"]
    assert w <= 2, f"collapse rewrote {w} shards; only p00 changed"
    assert r >= n_parts - 2, f"only {r} shards reused"
    # reused shards are hard links of the previous base's shards (no IO)
    reused_parts = [p for p in last["shards"] if p != "p00"]
    assert os.stat(last["shards"][reused_parts[0]]).st_nlink > 1
    # and the listing is exactly right
    man = t.manifest()
    assert len(man) == n_parts * files_per_part + n_extra
    assert sum(1 for rr in man if rr["partition"] == "p00") == files_per_part + n_extra


def test_stale_shard_dir_from_crashed_commit_is_cleared(tmp_warehouse):
    """A crashed committer leaves a partial manifest dir at a snapshot
    id that a retry reuses — its stale shards must not leak into the
    retried base's listing."""
    t = Table.create(os.path.join(tmp_warehouse, "stale"), "conv_id string")
    t.commit("append", added=[
        mf.FileInfo(path=f"/x/p{p}.parquet", size_bytes=10, record_count=1,
                    partition=f"p{p}", stats_json="{}")
        for p in range(3)
    ])
    # fabricate the crash artifact at the NEXT sid (a base collapse dir
    # holding a shard for a partition the retry won't write)
    next_sid = t.sequence_number + 1
    stale_dir = t._manifest_path(next_sid)
    os.makedirs(stale_dir)
    pq.write_table(
        pa.Table.from_pylist(
            [mf.FileInfo(path="/ghost.parquet", size_bytes=1, record_count=1,
                         partition="zombie", stats_json="{}").to_row()],
            schema=mf.MANIFEST_SCHEMA,
        ),
        os.path.join(stale_dir, mf._shard_name("zombie")),
    )
    t.commit("append", added=[
        mf.FileInfo(path="/x/new.parquet", size_bytes=5, record_count=1,
                    partition="p0", stats_json="{}")
    ], force_base=True)
    paths = {r["path"] for r in t.manifest()}
    assert "/ghost.parquet" not in paths
    assert paths == {"/x/p0.parquet", "/x/p1.parquet", "/x/p2.parquet", "/x/new.parquet"}


def test_sharded_base_survives_expiry_of_ancestors(tmp_warehouse):
    """Expiring the snapshot owning the linked-from shards must not
    break a retained snapshot's resolution (hard links, not refs)."""
    from iceberg_compaction_spark.operators.maintenance import expire_snapshots

    t = Table.create(os.path.join(tmp_warehouse, "shexp"), "conv_id string")
    data_dir = os.path.join(tmp_warehouse, "shexp", "data")
    os.makedirs(data_dir, exist_ok=True)

    def real_file(name):
        p = os.path.join(data_dir, name)
        pq.write_table(pa.table({"conv_id": ["a"]}), p)
        return p

    t.commit("append", added=[
        mf.FileInfo(path=real_file(f"p{p}.parquet"), size_bytes=10,
                    record_count=1, partition=f"p{p}", stats_json="{}")
        for p in range(6)
    ])
    for i in range(Table.DELTA_CHAIN_MAX + 1):
        t.commit("append", added=[
            mf.FileInfo(path=real_file(f"e{i}.parquet"), size_bytes=1,
                        record_count=1, partition="p0", stats_json="{}")
        ])
    n_before = len(t.manifest())
    expire_snapshots(t, retain_last=1)
    assert len(t.manifest()) == n_before  # current still resolves fully
    assert len(t.snapshots()) == 1


# ---------------------------------------------------------------------------
# delete-source plans execute exactly once (count + write share a cache)
def test_write_delete_files_runs_source_once(spark, tmp_warehouse):
    t = Table.create(os.path.join(tmp_warehouse, "once"), "conv_id string, turn_idx int")
    sc = spark.sparkContext
    acc = sc.accumulator(0)

    def probe(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    src = spark.createDataFrame(
        [(f"c{i}", i) for i in range(1000)], "conv_id string, turn_idx int"
    ).mapInPandas(probe, "conv_id string, turn_idx int")
    infos = t.write_delete_files(src, ["conv_id", "turn_idx"], mf.CONTENT_EQ_DEL,
                                 equality_ids=["conv_id", "turn_idx"])
    assert sum(fi.record_count for fi in infos) == 1000
    assert acc.value == 1000, f"source executed {acc.value / 1000:.1f}×"


# ---------------------------------------------------------------------------
# MERGE: insert-only sources commit ZERO eq-delete files
def test_insert_only_merge_writes_no_deletes(spark, tmp_warehouse):
    from iceberg_compaction_spark.operators.merge_into import merge_into

    t = Table.create(os.path.join(tmp_warehouse, "mio"),
                     "conv_id string, turn_idx int, text string")
    t.append_dataframe(spark.createDataFrame(
        [(f"a{i:03d}", i, "old") for i in range(200)],
        "conv_id string, turn_idx int, text string",
    ))
    # source keys all ABOVE the target's conv_id bounds → pure insert
    merge_into(t, spark.createDataFrame(
        [(f"z{i:03d}", i, "new") for i in range(50)],
        "conv_id string, turn_idx int, text string",
    ), keys=["conv_id", "turn_idx"])
    assert len(t.files(content=mf.CONTENT_EQ_DEL)) == 0
    assert t.scan(spark).count() == 250
    # overlapping source still upserts correctly (and writes deletes)
    merge_into(t, spark.createDataFrame(
        [("a000", 0, "updated")], "conv_id string, turn_idx int, text string",
    ), keys=["conv_id", "turn_idx"])
    assert len(t.files(content=mf.CONTENT_EQ_DEL)) == 1
    rows = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.scan(spark).collect()}
    assert rows[("a000", 0)] == "updated" and len(rows) == 250


# ---------------------------------------------------------------------------
# LSH verify is candidate-scoped and exact on candidates
def test_candidate_jaccard_matches_full_jaccard(spark):
    from iceberg_compaction_spark.operators.dedup import (
        candidate_jaccard,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "lorem ipsum dolor sit amet consectetur adipiscing"),
            (4, "the quick brown fox jumps over the lazy dog today"),
            (5, "totally unrelated text about spark shuffles"),
        ],
        "doc_id int, text string",
    )
    cand = spark.createDataFrame([(1, 2), (1, 4), (3, 5)], "id_a int, id_b int")
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 6)
           for r in candidate_jaccard(docs, cand).collect()}
    full = {(r["id_a"], r["id_b"]): round(r["jaccard"], 6)
            for r in ngram_jaccard_pairs(docs, max_shingle_df=None).collect()}
    assert set(got) == {(1, 2), (1, 4), (3, 5)}
    for k, v in got.items():
        assert v == full.get(k, 0.0), k  # zero-overlap pairs are jaccard 0


def test_universal_shingle_cap_bounds_candidates(spark):
    """A shingle present in EVERY document alone creates O(n²) pairs;
    the df cap drops it from the join side → bounded fan-out."""
    from iceberg_compaction_spark.operators.dedup import ngram_jaccard_pairs

    n = 60
    docs = spark.createDataFrame(
        [(i, f"common shingle here unique{i} token{i} word{i}") for i in range(n)],
        "doc_id int, text string",
    )
    uncapped = ngram_jaccard_pairs(docs, max_shingle_df=None).count()
    capped = ngram_jaccard_pairs(docs, max_shingle_df=5).count()
    assert uncapped == n * (n - 1) // 2  # the universal shingle pairs everyone
    assert capped == 0  # only the hot shingle was shared; cap removes it


# ---------------------------------------------------------------------------
# partition-scoped maintenance
def test_partition_filter_scopes_compaction(spark, tmp_warehouse):
    from iceberg_compaction_spark.config import CompactionConfig, SelectionStrategy
    from iceberg_compaction_spark.plans.compaction import CompactionRunner

    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "pf"), n_turns=8_000, n_convs=20,
        n_files=6, partitioned=True, ts_step_s=60,
    )
    parts = sorted({r["partition"] for r in t.files(content="data")})
    assert len(parts) >= 3
    hot = parts[0]
    before = {r["path"]: r["partition"] for r in t.files(content="data")}
    before_state = sorted(
        (r["conv_id"], r["turn_idx"]) for r in t.scan(spark).select("conv_id", "turn_idx").collect()
    )
    res = CompactionRunner(
        spark, t,
        CompactionConfig(selection=SelectionStrategy.FULL, partition_filter=(hot,)),
    ).execute()
    assert res.bins_executed >= 1
    after = t.files(content="data")
    # other partitions keep their exact files; hot files are all new
    assert {r["path"] for r in after if r["partition"] != hot} == {
        p for p, part in before.items() if part != hot
    }
    assert all(r["path"] not in before for r in after if r["partition"] == hot)
    after_state = sorted(
        (r["conv_id"], r["turn_idx"]) for r in t.scan(spark).select("conv_id", "turn_idx").collect()
    )
    assert after_state == before_state


# ---------------------------------------------------------------------------
# transitive near-dup clustering
def test_connected_components_vs_union_find(spark):
    from iceberg_compaction_spark.operators.dedup import (
        cluster_dedup,
        connected_components,
    )

    import random

    rng = random.Random(5)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    expected = {x: find(x) for x in touched}
    # union-find roots are not necessarily the min id of the component;
    # normalize: min id per root group
    by_root: dict = {}
    for x, r in expected.items():
        by_root.setdefault(find(r), []).append(x)
    exp_label = {x: min(grp) for r, grp in by_root.items() for x in grp}

    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(edf).collect()}
    assert got == exp_label

    # cluster_dedup keeps exactly one doc per component
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(n)], "doc_id long, text string")
    kept = {r["doc_id"] for r in cluster_dedup(docs, edf).collect()}
    survivors_in_clusters = kept & touched
    assert survivors_in_clusters == {min(g) for g in by_root.values()}
    assert kept - touched == set(range(n)) - touched  # untouched docs survive


def test_cluster_dedup_transitive_chain(spark):
    """A~B, B~C (A≁C): one-level dedup keeps A and C; cluster dedup
    keeps only A."""
    from iceberg_compaction_spark.operators.dedup import cluster_dedup

    docs = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "doc_id int, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a int, id_b int")
    kept = sorted(r["doc_id"] for r in cluster_dedup(docs, pairs).collect())
    assert kept == [1]


# ---------------------------------------------------------------------------
# OR-disjunct pruning
def test_or_predicate_prunes_per_disjunct(spark, tmp_warehouse):
    # 60s steps spread ~14 day-partitions; two narrow windows leave
    # whole days provably out of range on both sides
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "orp"), n_turns=20_000, n_convs=100,
        n_files=16, partitioned=True, ts_step_s=60,
    )
    all_ts = [r[0] for r in t.scan(spark).select("ts").orderBy("ts").collect()]
    pick = lambda q: all_ts[int(len(all_ts) * q)].strftime("%Y-%m-%d %H:%M:%S")  # noqa: E731
    pred = (
        f"(ts >= TIMESTAMP '{pick(0.05)}' AND ts < TIMESTAMP '{pick(0.15)}')"
        f" OR (ts >= TIMESTAMP '{pick(0.8)}' AND ts < TIMESTAMP '{pick(0.9)}')"
    )
    expected = t.scan(spark).filter(pred).count()
    got = t.scan(spark, filter=pred)
    n_files = len(t.files(content="data"))
    assert 0 < t.last_scan_pruned_files < n_files
    assert got.count() == expected > 0
    # BETWEEN parses to the same bounds
    cj = pruning.parse_conjuncts("a BETWEEN 3 AND 7")
    assert [(c[0], c[1], c[2][0][1]) for c in cj] == [("a", ">=", 3), ("a", "<=", 7)]


# hypothesis: disjunctive pruning stays conservative; all-match stays strict
from hypothesis import given, settings
from hypothesis import strategies as st

_OPS = ("=", "<", "<=", ">", ">=")


def _eval_conj(row, conj):
    for col, op, lits in conj:
        v = row.get(col)
        if op == "isnull":
            if v is not None:
                return False
            continue
        if v is None:
            return False
        lit = lits[0][1]
        if op == "in":
            if not any(v == lv for _k, lv in lits):
                return False
            continue
        if not {"=": v == lit, "<": v < lit, "<=": v <= lit,
                ">": v > lit, ">=": v >= lit}[op]:
            return False
    return True


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(
        st.fixed_dictionaries({"a": st.one_of(st.none(), st.integers(-30, 30))}),
        min_size=1, max_size=10,
    ),
    disj=st.lists(
        st.lists(
            st.tuples(st.sampled_from(_OPS), st.integers(-40, 40)),
            min_size=1, max_size=2,
        ),
        min_size=1, max_size=3,
    ),
)
def test_disjunctive_prune_and_allmatch_properties(rows, disj):
    vals = [r["a"] for r in rows if r["a"] is not None]
    stats = {"a": {
        "min": min(vals) if vals else None,
        "max": max(vals) if vals else None,
        "nulls": sum(1 for r in rows if r["a"] is None),
    }}
    expr = " OR ".join(
        "(" + " AND ".join(f"a {op} {lit}" for op, lit in d) + ")" for d in disj
    )
    parsed = pruning.parse_predicate(expr)
    assert parsed is not None and len(parsed) == len(disj)
    match_rows = [r for r in rows if any(_eval_conj(r, c) for c in parsed)]
    if not pruning.file_may_match_any(stats, parsed):
        assert not match_rows, (expr, rows)
    if pruning.file_all_match(stats, parsed):
        assert len(match_rows) == len(rows), (expr, rows)


# ---------------------------------------------------------------------------
# multi-chunk stateful sessionization: per-chunk ordering must not leak
def test_stream_sessionize_across_arrow_chunks(spark, tmp_warehouse):
    import datetime as dt

    from pyspark.sql import types as T

    from iceberg_compaction_spark.streaming.windows import stream_sessionize

    schema = T.StructType([
        T.StructField("user_id", T.LongType()), T.StructField("ts", T.TimestampType())
    ])
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    # one key, 500 events 1s apart, written in REVERSED order so early
    # chunks hold late timestamps; tiny Arrow batches force many chunks
    rows = [(1, base + dt.timedelta(seconds=i)) for i in range(500)][::-1]
    src = os.path.join(tmp_warehouse, "chsrc")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        collected = []
        q = (
            stream_sessionize(spark.readStream.schema(schema).parquet(src), gap_s=60)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _b: collected.extend(df.collect()))
            .option("checkpointLocation", os.path.join(tmp_warehouse, "chckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    # all 1s apart < gap → exactly ONE session holding every event
    assert len(collected) == 1
    r = collected[0]
    assert r["n_events"] == 500 and not r["closed"]
    assert r["end_epoch"] - r["start_epoch"] == 499


# ---------------------------------------------------------------------------
# footer stats: all-null row-group chunks don't poison bounds; files
# without statistics yield no bounds at all (conservative)
def test_footer_stats_unknown_propagation(tmp_warehouse):
    p = os.path.join(tmp_warehouse, "mixed.parquet")
    w = pq.ParquetWriter(p, pa.schema([("x", pa.int64())]))
    w.write_table(pa.table({"x": pa.array([1, 2, 3], pa.int64())}))
    w.write_table(pa.table({"x": pa.array([None, None], pa.int64())}))
    w.close()
    _, _, sj = mf._footer_stats(p)
    st = json.loads(sj)["x"]
    assert st["min"] == 1 and st["max"] == 3 and st["nulls"] == 2

    p2 = os.path.join(tmp_warehouse, "nostats.parquet")
    pq.write_table(pa.table({"x": pa.array([7, 8], pa.int64())}), p2,
                   write_statistics=False)
    _, _, sj2 = mf._footer_stats(p2)
    assert json.loads(sj2) == {}  # no stats recorded → nothing prunable
