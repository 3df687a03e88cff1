"""Per-scan / per-bin delete-file scoping from manifest metadata.

The reference's planner attaches delete files to each FileScanTask and
dedups them per group (``crates/planner/src/file_selection.rs:82-117``,
``120-131``; a ``FileMetadata`` carries its own delete list,
``crates/common/src/file_group.rs:13-28``) — a task never reads a
delete file that cannot touch its rows. Before round 4 this engine
applied the snapshot's ENTIRE delete set to every bin and every scan:
correct (the seq theta and the (file, pos) equi-join make inapplicable
deletes no-ops) but O(bins × total-delete-bytes) read amplification —
on a 365-partition table where one MERGE touched one day, all 365
partitions' rewrites re-read and re-join that delete set.

This module restores the reference's complexity class using only
metadata the manifest already carries (delete files get footer stats
like any parquet: eq-delete files carry min/max per KEY column,
pos-delete files carry min/max of the ``_file`` path column):

  * **sequence scoping** — an equality-delete file at sequence S kills
    only data rows with seq < S (``operators/mor.py:74``), so it is
    attached only when S > min(seq of the data files in scope);
  * **key-bounds scoping** — an eq-delete file is attached only when,
    for every equality key, its [min, max] overlaps the union [min,
    max] of the scoped data files (unknown bounds on either side ⇒
    overlap assumed);
  * **path-bounds scoping** — a position-delete file is attached only
    when its ``_file`` bounds can contain at least one scoped data
    path (binary search over the sorted path list).

All three are conservative: uncertainty attaches the file, and an
attached-but-useless file remains a semantic no-op — scoping is purely
an IO/shuffle reduction, never a correctness dependency.
"""

from __future__ import annotations

import bisect
from typing import Sequence

from iceberg_compaction_spark.plans.pruning import stats_of


def _safe_le(a, b) -> bool | None:
    """a <= b with None for incomparable/unknown operands."""
    if a is None or b is None:
        return None
    try:
        return bool(a <= b)
    except TypeError:
        return None


def union_key_bounds(data_rows: Sequence[dict], keys: Sequence[str]) -> dict:
    """{key: (min, max)} across the scoped data files' manifest stats;
    a key is ABSENT when any file lacks bounds for it (union unknown —
    callers must then assume overlap). One JSON decode per file, done
    only when equality deletes exist at all."""
    mins: dict = {}
    maxs: dict = {}
    unknown: set = set()
    want = set(keys)
    for r in data_rows:
        if len(unknown) == len(want):
            break  # every key already unknown: no more decode can help
        st = stats_of(r)
        for k in want:
            if k in unknown:
                continue
            b = st.get(k)
            if not b or b.get("min") is None or b.get("max") is None:
                unknown.add(k)
                mins.pop(k, None)
                maxs.pop(k, None)
                continue
            mn, mx = b["min"], b["max"]
            try:
                if k not in mins or mn < mins[k]:
                    mins[k] = mn
                if k not in maxs or mx > maxs[k]:
                    maxs[k] = mx
            except TypeError:
                unknown.add(k)
                mins.pop(k, None)
                maxs.pop(k, None)
    return {k: (mins[k], maxs[k]) for k in mins if k in maxs}


def eq_delete_applicable(
    del_row: dict, bounds: dict, min_data_seq: int | None, del_stats: dict | None = None
) -> bool:
    """Can this equality-delete file kill any row of the scoped data
    files? False only on PROOF of disjointness (seq or key bounds).
    ``del_stats``: the delete file's decoded stats, for callers that
    test one delete file against many scopes."""
    if min_data_seq is not None and del_row["sequence_number"] <= min_data_seq:
        return False  # kills only seq < S; every scoped file is >= S
    st = stats_of(del_row) if del_stats is None else del_stats
    for k in del_row.get("equality_ids") or []:
        if k not in bounds:
            continue  # union bounds unknown for this key: assume overlap
        b = st.get(k)
        if not b or b.get("min") is None or b.get("max") is None:
            continue  # delete-side bounds unknown: assume overlap
        lo, hi = bounds[k]
        le1 = _safe_le(b["min"], hi)
        le2 = _safe_le(lo, b["max"])
        if le1 is False or le2 is False:
            return False  # provably disjoint on this key
    return True


def eq_delete_counts(data_rows: Sequence[dict], eq_rows: Sequence[dict]) -> dict:
    """{data path: equality-delete files applicable to that file alone}
    — ``eq_delete_applicable`` with each file as its own scope. Each
    file's stats are decoded once."""
    if not eq_rows:
        return {}
    keys = sorted({k for r in eq_rows for k in (r.get("equality_ids") or [])})
    dels = [(d, stats_of(d)) for d in eq_rows]
    out = {}
    for r in data_rows:
        fb = union_key_bounds([r], keys)
        out[r["path"]] = sum(
            eq_delete_applicable(d, fb, r["sequence_number"], st) for d, st in dels
        )
    return out


def pos_delete_applicable(del_row: dict, sorted_data_paths: list[str]) -> bool:
    """Can this position-delete file reference any scoped data path?
    Its ``_file`` column bounds [min, max] bracket the referenced
    paths; if no scoped path falls inside, nothing can join."""
    st = stats_of(del_row).get("_file")
    if not st or st.get("min") is None or st.get("max") is None:
        return True  # unknown bounds: attach
    mn, mx = st["min"], st["max"]
    if not isinstance(mn, str) or not isinstance(mx, str):
        return True
    i = bisect.bisect_left(sorted_data_paths, mn)
    return i < len(sorted_data_paths) and sorted_data_paths[i] <= mx


def scope_deletes(
    data_rows: Sequence[dict],
    pos_rows: Sequence[dict],
    eq_rows: Sequence[dict],
) -> tuple[list[dict], list[dict]]:
    """(applicable pos-delete rows, applicable eq-delete rows) for the
    given scoped data files. Empty data scope ⇒ nothing applies."""
    if not data_rows:
        return [], []
    pos_scoped = pos_rows
    if pos_rows:
        paths = sorted(r["path"] for r in data_rows)
        pos_scoped = [r for r in pos_rows if pos_delete_applicable(r, paths)]
    eq_scoped = eq_rows
    if eq_rows:
        min_seq = min(r["sequence_number"] for r in data_rows)
        keys = {k for r in eq_rows for k in (r.get("equality_ids") or [])}
        bounds = union_key_bounds(data_rows, sorted(keys))
        eq_scoped = [r for r in eq_rows if eq_delete_applicable(r, bounds, min_seq)]
    return list(pos_scoped), list(eq_scoped)
