"""Manifest-stats file pruning: conservative bounds logic + end-to-end
scan equivalence with and without pruning."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from iceberg_compaction_spark.plans.pruning import (
    classify_data_rows,
    file_may_match,
    parse_conjuncts,
    prune_files,
)
from iceberg_compaction_spark.sources.generator import (
    create_transcripts_table,
)


def _stats(**cols):
    return {c: {"min": v[0], "max": v[1], "nulls": (v[2] if len(v) > 2 else 0)}
            for c, v in cols.items()}


def test_parse_conjuncts_shapes():
    cj = parse_conjuncts("a >= 5 AND b = 'x' AND ts < TIMESTAMP '2024-01-02 03:04:05'")
    assert [(c[0], c[1]) for c in cj] == [("a", ">="), ("b", "="), ("ts", "<")]
    assert cj[2][2][0] == ("ts", "2024-01-02T03:04:05")
    assert parse_conjuncts("a IN (1, 2, 3)")[0][1] == "in"
    assert parse_conjuncts("a IS NULL")[0][1] == "isnull"
    # top-level OR / NOT disables pruning entirely (conservative)
    assert parse_conjuncts("a = 1 OR b = 2") == []
    assert parse_conjuncts("NOT a = 1") == []
    # unparseable conjunct drops out; parseable siblings survive
    cj = parse_conjuncts("length(text) > 3 AND a <= 7")
    assert [(c[0], c[1]) for c in cj] == [("a", "<=")]


def test_bounds_exclusion_numeric():
    cj = parse_conjuncts("x > 100")
    assert not file_may_match(_stats(x=(0, 100)), cj)       # max <= 100
    assert file_may_match(_stats(x=(0, 101)), cj)
    cj = parse_conjuncts("x = 50")
    assert not file_may_match(_stats(x=(51, 99)), cj)
    assert not file_may_match(_stats(x=(0, 49)), cj)
    assert file_may_match(_stats(x=(0, 50)), cj)
    cj = parse_conjuncts("x IN (1, 200)")
    assert not file_may_match(_stats(x=(10, 20)), cj)
    assert file_may_match(_stats(x=(150, 250)), cj)
    # unknown bounds / missing column never exclude
    assert file_may_match({"x": {"min": None, "max": None, "nulls": None}}, cj)
    assert file_may_match({}, cj)


def test_bounds_exclusion_timestamp_and_null():
    cj = parse_conjuncts("ts >= TIMESTAMP '2024-01-10 00:00:00'")
    assert not file_may_match(_stats(ts=("2024-01-01T00:00:00", "2024-01-09T23:59:59")), cj)
    assert file_may_match(_stats(ts=("2024-01-09T00:00:00", "2024-01-10T00:00:00")), cj)
    # DATE-precision literal vs midnight bound: must NOT prune
    cj = parse_conjuncts("ts <= TIMESTAMP '2024-01-02'")
    assert file_may_match(_stats(ts=("2024-01-02T00:00:00", "2024-01-05T00:00:00")), cj)
    cj = parse_conjuncts("x IS NULL")
    assert not file_may_match(_stats(x=(1, 2, 0)), cj)   # known zero nulls
    assert file_may_match(_stats(x=(1, 2, 3)), cj)
    assert file_may_match(_stats(x=(1, 2, None)), cj)    # unknown ≠ zero


def test_prune_files_rows():
    rows = [
        {"path": "a", "stats_json": json.dumps(_stats(x=(0, 10)))},
        {"path": "b", "stats_json": json.dumps(_stats(x=(11, 20)))},
        {"path": "c", "stats_json": "not json"},
    ]
    kept, pruned = prune_files(rows, "x >= 15")
    assert [r["path"] for r in kept] == ["b", "c"] and pruned == 1
    kept, pruned = prune_files(rows, "some_unparseable_thing <> 3")
    assert len(kept) == 3 and pruned == 0


def test_scan_filter_prunes_and_matches(spark, tmp_warehouse):
    """Day-partitioned table: a 2-day range scan must prune most files
    and return exactly the rows an unpruned filtered scan returns —
    including under MoR deletes."""
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "pr"), n_turns=20_000, n_convs=100,
        n_files=16, partitioned=True,
    )
    # add equality deletes so pruning composes with MoR resolution
    dels = t.scan(spark).filter(F.col("turn_idx") % 9 == 2).select("conv_id", "turn_idx")
    t.add_equality_deletes(dels, keys=["conv_id", "turn_idx"])

    all_ts = [r[0] for r in t.scan(spark).select("ts").orderBy("ts").collect()]
    lo, hi = all_ts[len(all_ts) // 3], all_ts[2 * len(all_ts) // 3]
    pred = f"ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'"

    expected = t.scan(spark).filter(pred)
    n_files = len(t.files(content="data"))
    got = t.scan(spark, filter=pred)
    assert 0 < t.last_scan_pruned_files < n_files
    key = lambda df: sorted(  # noqa: E731
        (r["conv_id"], r["turn_idx"], r["text"]) for r in df.collect()
    )
    assert key(got) == key(expected)
    assert got.count() > 0

    # a predicate outside every bound prunes everything and returns empty
    empty = t.scan(spark, filter="ts >= TIMESTAMP '2030-01-01 00:00:00'")
    assert empty.count() == 0
    assert t.last_scan_pruned_files == n_files


# ---------------------------------------------------------------------------
# property: pruning is CONSERVATIVE — if the bounds exclude a file, no
# row in that file can satisfy the predicate (checked by brute force)
from hypothesis import given, settings
from hypothesis import strategies as st

_OPS = ("=", "<", "<=", ">", ">=")


def _eval_row(row: dict, conjuncts) -> bool:
    for col, op, lits in conjuncts:
        v = row.get(col)
        if op == "isnull":
            if v is not None:
                return False
            continue
        if v is None:
            return False
        if op == "in":
            if not any(v == lv for _k, lv in lits):
                return False
            continue
        lit = lits[0][1]
        ok = {
            "=": v == lit,
            "<": v < lit,
            "<=": v <= lit,
            ">": v > lit,
            ">=": v >= lit,
        }[op]
        if not ok:
            return False
    return True


@settings(max_examples=300, deadline=None)
@given(
    rows=st.lists(
        st.fixed_dictionaries(
            {
                "a": st.one_of(st.none(), st.integers(-50, 50)),
                "b": st.one_of(st.none(), st.integers(-5, 5)),
            }
        ),
        min_size=1,
        max_size=12,
    ),
    preds=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.sampled_from(_OPS + ("in", "isnull")),
            st.lists(st.integers(-60, 60), min_size=1, max_size=3),
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_prune_never_excludes_a_matching_file(rows, preds):
    # file stats exactly as the manifest writer would record them
    stats = {}
    for c in ("a", "b"):
        vals = [r[c] for r in rows if r[c] is not None]
        stats[c] = {
            "min": min(vals) if vals else None,
            "max": max(vals) if vals else None,
            "nulls": sum(1 for r in rows if r[c] is None),
        }
    # build the predicate string and the parsed conjuncts it yields
    parts = []
    for col, op, lits in preds:
        if op == "isnull":
            parts.append(f"{col} IS NULL")
        elif op == "in":
            parts.append(f"{col} IN ({', '.join(str(x) for x in lits)})")
        else:
            parts.append(f"{col} {op} {lits[0]}")
    expr = " AND ".join(parts)
    conjuncts = parse_conjuncts(expr)
    # floats come back from parsing; normalize for the row evaluator
    any_match = any(_eval_row(r, conjuncts) for r in rows)
    if not file_may_match(stats, conjuncts):
        assert not any_match, (expr, rows, stats)


def test_parenthesized_conjuncts_parse():
    cj = parse_conjuncts("(a > 5) AND (b <= 3)")
    assert [(c[0], c[1]) for c in cj] == [("a", ">"), ("b", "<=")]
    # an OR inside parens must NOT leak a prunable conjunct
    cj = parse_conjuncts("(a > 5 OR b < 3) AND c = 1")
    assert [(c[0], c[1]) for c in cj] == [("c", "=")]
    assert parse_conjuncts("((a >= 7))") == [("a", ">=", [("num", 7.0)])]


def test_partition_column_filter_and_empty_prune(spark, tmp_warehouse):
    """Filters on the materialized partition column prune and resolve —
    including when pruning empties the file list entirely."""
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "partf"), n_turns=5_000, n_convs=20,
        n_files=4, partitioned=True, ts_step_s=60,
    )
    parts = sorted({r["partition"] for r in t.files(content="data")})
    assert len(parts) >= 3
    n_files = len(t.files(content="data"))
    one = t.scan(spark, filter=f"_part = '{parts[0]}'", columns=["conv_id", "turn_idx"])
    assert one.count() > 0
    assert 0 < t.last_scan_pruned_files < n_files
    # predicate matching no partition: everything pruned, empty result,
    # and the partition-column reference still resolves
    none = t.scan(spark, filter="_part = '1999-01-01'")
    assert none.count() == 0
    assert t.last_scan_pruned_files == n_files


def _data_row(path, stats):
    return {"path": path, "content": "data", "stats_json": json.dumps(stats)}


def test_ts_and_string_literal_resolution():
    """A ts-shaped bare string literal compares as a timestamp on a
    timestamp column and raw on a string column."""
    rows = [
        _data_row(
            "tsfile",
            {"ts": {"min": "2024-06-02T01:00:00", "max": "2024-06-02T12:00:00", "nulls": 0},
             "c": {"min": "2024-06-01 05:00:00", "max": "2024-06-01 05:00:00", "nulls": 0}},
        )
    ]
    ct = {"ts": "ts", "c": "str"}
    for expr, survives in [
        ("ts <= '2024-06-02 23:59:59'", True),
        ("ts > '2024-06-02 23:59:59'", False),
        ("c < '2024-06-01T00:00:00'", True),   # raw string: ' ' < 'T'
        ("c >= '2024-06-01T00:00:00'", False),
    ]:
        kept, pruned = prune_files(rows, expr, col_types=ct)
        assert (len(kept) == 1) is survives, expr
        assert pruned == 1 - len(kept), expr


def test_classify_data_rows_verdicts():
    rows = [
        _data_row(f"f{i}", {"a": {"min": mn, "max": mx, "nulls": nulls}})
        for i, (mn, mx, nulls) in enumerate(
            [(0, 10, 0), (5, 50, 0), (60, 90, 0), (None, None, None), (20, 20, 0)]
        )
    ]
    assert classify_data_rows(rows, "a >= 0 AND a < 40", {"a": "num"}) == {
        "f0": "all", "f1": "straddle", "f2": "pruned", "f3": "straddle", "f4": "all",
    }
