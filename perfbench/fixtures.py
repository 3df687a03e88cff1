"""Seeded inputs for the maintenance benchmark, and the independent
oracle every output is checked against.

Tables come from the engine's closed-form transcripts generator
(``sources.generator.transcripts_df``); the seed picks only what the
engine must not be able to predict: which small file each row lands in,
which keys each MERGE touches, and which rows each DELETE removes.

The oracle never reads a table. It derives the expected per-turn
checksum and turn count from the generator plus the seeded MERGE and
DELETE inputs, using Spark built-ins over generator DataFrames and
plain Python bookkeeping of the touched keys.
"""

from __future__ import annotations

import dataclasses
import functools
import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_compaction_spark.sources.generator import (
    TRANSCRIPT_DDL,
    day_partition_spec,
    transcripts_df,
)
from iceberg_compaction_spark.sources.table import Table

# midnight UTC, so ``days`` of turns fill exactly ``days`` day partitions
BASE_TS = 1_699_920_000
HOT_CONV = "conv_00000000"
KEYS = ["conv_id", "turn_idx"]
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# xxhash64 is folded into [0, 2^31-1) before summing: Spark's ANSI mode
# raises ARITHMETIC_OVERFLOW on a sum of raw 64-bit hashes
_FOLD = 2**31 - 1


def _prefix(tag: int) -> str:
    return f"rev {tag}: "


def turn_hash():
    """Per-turn checksum term, order-insensitive when summed."""
    return F.pmod(F.xxhash64("conv_id", "turn_idx", "text"), F.lit(_FOLD))


@dataclasses.dataclass(frozen=True)
class Spec:
    """A day-partitioned transcripts table: ``days * 86400 / step_s``
    turns over ``convs`` conversations (the hot one holds 20% of the
    turns), appended as ``shards`` write tasks, each writing one small
    file per day."""

    days: int
    step_s: int
    convs: int
    shards: int

    @property
    def turns(self) -> int:
        return self.days * 86_400 // self.step_s

    def generator(self, spark: SparkSession) -> DataFrame:
        return transcripts_df(
            spark, self.turns, self.convs, base_ts=BASE_TS, ts_step_s=self.step_s
        )


def create_table(spark: SparkSession, spec: Spec, location: str, seed: int, rows=None) -> Table:
    """Create the table and append ``rows`` (default: the whole
    generator) in one commit of ``spec.shards`` x ``spec.days`` small
    files. The seed salts the shard hash, so it decides which rows share
    a file."""
    table = Table.create(location, TRANSCRIPT_DDL, partition=day_partition_spec())
    df = spec.generator(spark) if rows is None else rows
    table.append_dataframe(
        df.repartition(spec.shards, F.xxhash64("conv_id", "turn_idx", F.lit(seed)))
    )
    return table


class Oracle:
    """Expected checksum and turn count of a table built from ``spec``,
    overall or for one conversation. Untouched turns come from
    generator aggregates; touched keys are tracked one by one."""

    def __init__(self, spark: SparkSession, spec: Spec):
        self.spark = spark
        self.spec = spec
        gen = spec.generator(spark)
        per_conv = gen.groupBy("conv_id").agg(
            F.sum(turn_hash()).alias("h"), F.count(F.lit(1)).alias("n")
        )
        self.base_conv = {r["conv_id"]: (r["h"], r["n"]) for r in per_conv.collect()}
        self.base_h: dict = {}  # touched key -> its generator checksum term
        self.cur: dict = {}  # touched key -> current term, None once deleted

    def expected(self, conv: str | None = None) -> tuple[int, int]:
        if conv is None:
            h = sum(v[0] for v in self.base_conv.values())
            n = sum(v[1] for v in self.base_conv.values())
        else:
            h, n = self.base_conv.get(conv, (0, 0))
        for key, v in self.cur.items():
            if conv is not None and key[0] != conv:
                continue
            if v is not None:
                h, n = h + v, n + 1
            if key in self.base_h:
                h, n = h - self.base_h[key], n - 1
        return h, n

    def _touch_base(self, key, h_base) -> None:
        if key not in self.base_h and key not in self.cur:
            self.base_h[key] = h_base

    def merge_sources(self, seed: int, tags):
        """Seeded upsert sources, one per tag, each about 0.4% of the
        turns: updates of existing turns, four times denser in the hot
        conversation, plus one insert per ten updates. One generator
        pass serves every tag. Yields ``(tag, source)`` in tag order
        after updating the oracle to the state once that MERGE is
        applied. Sources are single-partition in-memory DataFrames, as a
        small upsert batch arrives, so a MERGE never re-runs the
        generator."""
        spark, spec = self.spark, self.spec
        tags = list(tags)
        rate = F.when(F.col("conv_id") == HOT_CONV, 100).otherwise(25)
        hit = {
            t: F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed * 1_000_003 + t)), F.lit(10_000))
            < rate
            for t in tags
        }
        any_hit = functools.reduce(lambda a, b: a | b, hit.values())
        new_hash = {
            t: F.pmod(
                F.xxhash64("conv_id", "turn_idx", F.concat(F.lit(_prefix(t)), "text")),
                F.lit(_FOLD),
            )
            for t in tags
        }
        cand = (
            spec.generator(spark)
            .filter(any_hit)
            .select(
                *COLUMNS,
                turn_hash().alias("h_base"),
                *[hit[t].alias(f"hit_{t}") for t in tags],
                *[new_hash[t].alias(f"h_{t}") for t in tags],
            )
            .toPandas()
        )
        inserts = {t: self._inserts(seed, t) for t in tags}
        ins_all = pd.concat(inserts.values(), ignore_index=True)
        ins_hash = {
            (r["conv_id"], r["turn_idx"]): r["h"]
            for r in spark.createDataFrame(
                ins_all[["conv_id", "turn_idx", "text"]],
                schema="conv_id string, turn_idx int, text string",
            )
            .select("conv_id", "turn_idx", turn_hash().alias("h"))
            .collect()
        }
        schema = T.StructType.fromDDL(TRANSCRIPT_DDL)
        for t in tags:
            upd = cand[cand[f"hit_{t}"]]
            for conv, turn, h_base, h_new in zip(
                upd["conv_id"], upd["turn_idx"], upd["h_base"], upd[f"h_{t}"]
            ):
                key = (conv, int(turn))
                self._touch_base(key, int(h_base))
                self.cur[key] = int(h_new)
            for key in zip(inserts[t]["conv_id"], inserts[t]["turn_idx"]):
                self.cur[key] = ins_hash[key]
            src = pd.concat(
                [upd[COLUMNS].assign(text=_prefix(t) + upd["text"]), inserts[t]],
                ignore_index=True,
            )
            yield t, spark.createDataFrame(src, schema=schema).coalesce(1)

    def _inserts(self, seed: int, tag: int) -> pd.DataFrame:
        """New turns (indexes past any generated one) for one source."""
        spec = self.spec
        rng = random.Random(seed * 1_000_003 + tag)
        n = max(1, int(spec.turns * 0.0004))
        return pd.DataFrame(
            {
                "conv_id": [
                    HOT_CONV if rng.random() < 0.3 else f"conv_{rng.randrange(1, spec.convs):08d}"
                    for _ in range(n)
                ],
                "turn_idx": [1_000_000 + tag * 10_000 + j for j in range(n)],
                "role": "user",
                "text": [f"insert {tag}.{j} {rng.getrandbits(64):016x}" for j in range(n)],
                "tool": None,
                "ts": [
                    pd.Timestamp(BASE_TS + rng.randrange(spec.turns * spec.step_s), unit="s")
                    for _ in range(n)
                ],
            }
        )

    def delete_predicate(self, seed: int, tag: int) -> str:
        """A seeded DELETE: even tags drop one whole tail conversation,
        odd tags a range of the hot conversation's turns. The oracle is
        updated to the state after the DELETE."""
        rng = random.Random(seed * 7_919 + tag)
        if tag % 2 == 0:
            conv, lo, hi = f"conv_{rng.randrange(1, self.spec.convs):08d}", None, None
            pred = f"conv_id = '{conv}'"
        else:
            hot_turns = int(self.spec.turns * 0.2)
            conv, lo = HOT_CONV, rng.randrange(0, hot_turns - 500)
            hi = lo + 199
            pred = f"conv_id = '{conv}' AND turn_idx BETWEEN {lo} AND {hi}"
        hits = self.spec.generator(self.spark).filter(F.expr(pred))
        for r in hits.select("conv_id", "turn_idx", turn_hash().alias("h")).collect():
            key = (r["conv_id"], r["turn_idx"])
            self._touch_base(key, r["h"])
            self.cur[key] = None
        for key, v in list(self.cur.items()):
            if v is not None and key[0] == conv and (lo is None or lo <= key[1] <= hi):
                self.cur[key] = None
        return pred
