"""Bin-packing planner (C1).

Semantics match the reference's First-Fit-Decreasing packer with a
lookback window (``/root/reference/crates/planner/src/packer.rs:36-76``,
default lookback=1 at :14-21): sort items by weight descending, place
each into the first of the last ``lookback`` open bins it fits under
``target_weight``, else open a new bin; oversized items always get a
solo bin.

``CompactionRunner.plan`` runs it once per table partition over the
resolved manifest rows, on the driver (bins never span partitions);
partition-spec migration packs its files with it too.
"""

from __future__ import annotations

from typing import Sequence


def ffd_pack(
    weights: Sequence[int], target: int, lookback: int = 1
) -> list[list[int]]:
    """Return bins as lists of item *indices* into ``weights``.

    Invariants (ported test expectations, packer.rs:79-105):
    no bin exceeds ``target`` unless it holds a single oversized item.
    """
    order = sorted(range(len(weights)), key=lambda i: (-weights[i], i))
    bins: list[list[int]] = []
    bin_weights: list[int] = []
    for i in order:
        w = weights[i]
        if w >= target:
            bins.append([i])
            bin_weights.append(w)
            continue
        placed = False
        for b in range(max(0, len(bins) - lookback), len(bins)):
            if bin_weights[b] + w <= target and bin_weights[b] < target:
                # skip solo-oversized bins
                if len(bins[b]) == 1 and weights[bins[b][0]] >= target:
                    continue
                bins[b].append(i)
                bin_weights[b] += w
                placed = True
                break
        if not placed:
            bins.append([i])
            bin_weights.append(w)
    return bins
