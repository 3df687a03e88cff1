"""Round-6 verdict items: driver-path-list hygiene, audio/video decode
probes, vectorized frame sampling, and the Arrow-batched DataSource
writer (see also test_datasource.py)."""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pytest

PKG = os.path.join(os.path.dirname(__file__), "..", "iceberg_compaction_spark")


def _package_sources():
    for root, _d, files in os.walk(PKG):
        if "__pycache__" in root:
            continue
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                yield rel, open(path).read()


def test_no_iterrows_in_package():
    """VERDICT r5 'what's wrong' #3: no pandas ``iterrows`` anywhere —
    per-row loops inside Arrow batches defeat the vectorized-UDF
    contract (BASELINE.json input_hint)."""
    hits = [rel for rel, src in _package_sources() if "iterrows" in src]
    assert not hits, f"iterrows found in {hits}"


def test_no_driver_path_list_createdataframe():
    """VERDICT r5 task 4: live-file-path sets must reach joins via
    ``files_df`` (manifest parquets read executor-side), never a
    driver-materialized ``createDataFrame`` list comprehension. The
    allowed exceptions are operation-bounded sets, not the table's
    full live-file inventory:
      * plans/compaction.py — a run's own rewritten-output paths
      * operators/delete_where.py — the files a DELETE fully drops
      * sources/scan.py — the scanned files' (path, seq) dim table
    """
    allowed = {"plans/compaction.py", "operators/delete_where.py", "sources/scan.py"}
    pat = re.compile(r"createDataFrame\(\s*\[\(\s*p[,\s]", re.S)
    hits = [rel for rel, src in _package_sources() if pat.search(src)]
    assert set(hits) <= allowed, f"driver path-list createDataFrame in {hits}"


# ---------------------------------------------------------------------------
# audio/video decode probes (VERDICT r5 task 7)
def test_audio_error_names_soundfile():
    from iceberg_compaction_spark.operators import multimodal as mm

    if mm._soundfile() is not None:  # pragma: no cover - container has none
        pytest.skip("soundfile present: covered by test_real_audio_features")
    with pytest.raises(NotImplementedError, match="soundfile"):
        mm._features_real("audio/wav", b"\x00\x01")


def test_video_error_names_ffmpeg():
    from iceberg_compaction_spark.operators import multimodal as mm

    if mm._ffmpeg() is not None:  # pragma: no cover - container has none
        pytest.skip("ffmpeg present: covered by test_real_video_features")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        mm._features_real("video/mp4", b"\x00\x01")


def test_real_audio_features():
    """Runs only where soundfile exists: decode='real' on audio must
    light up with NO code changes (mirrors the round-4 PIL guard)."""
    sf = pytest.importorskip("soundfile")
    import io

    from iceberg_compaction_spark.operators import multimodal as mm

    buf = io.BytesIO()
    sf.write(buf, np.full(1000, 0.25), 16000, format="WAV", subtype="FLOAT")
    brightness, hist = mm._features_real("audio/wav", buf.getvalue())
    assert abs(brightness - 0.25) < 1e-6
    assert sum(hist) == 1000 and hist[2] == 1000  # 0.25*8 → bin 2


def test_real_video_features():
    """Runs only where ffmpeg exists: first-frame gray decode."""
    from iceberg_compaction_spark.operators import multimodal as mm

    if mm._ffmpeg() is None:
        pytest.skip("ffmpeg not on PATH")
    import subprocess

    payload = subprocess.run(
        [mm._ffmpeg(), "-v", "error", "-f", "lavfi", "-i",
         "color=c=gray:s=16x16:d=0.1", "-f", "mpegts", "pipe:1"],
        capture_output=True, check=True,
    ).stdout
    brightness, hist = mm._features_real("video/mp4", payload)
    assert 0 <= brightness <= 255 and sum(hist) == 16 * 16


def test_sample_frames_vectorized_matches_reference(spark):
    """The numpy explode must reproduce the per-row loop's exact output
    (doc_id, frame_idx, frame_ms, frame bytes) on a mixed batch."""
    from iceberg_compaction_spark.operators.multimodal import sample_frames

    rows = [
        (1, b"", "video/mp4", 0, 0, 0),          # empty payload → \x00 frame
        (2, b"abcdefgh" * 40, "video/mp4", 0, 0, 5000),
        (3, b"notvideo", "audio/wav", 0, 0, 9000),  # skipped
        (4, b"x", "video/mp4", 0, 0, 40_000),    # capped at max_frames
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id bigint, media binary, media_type string, media_w int,"
        " media_h int, media_ms int",
    )
    got = sorted(
        (r["doc_id"], r["frame_idx"], r["frame_ms"], bytes(r["frame"]))
        for r in sample_frames(df, stride_ms=330, max_frames=16).collect()
    )
    # reference semantics, computed independently
    want = []
    for doc_id, media, mt, _w, _h, ms in rows:
        if not mt.startswith("video"):
            continue
        payload = media or b"\x00"
        n = min(16, max(1, ms // 330))
        for i in range(n):
            lo = (i * 97) % max(len(payload), 1)
            want.append((doc_id, i, i * 330, bytes(payload[lo : lo + 64] or b"\x00")))
    assert got == sorted(want)


def test_dangling_cleanup_uses_files_df(spark, tmp_warehouse):
    """clean_dangling_deletes joins the live-path set from files_df —
    behavior check on a table where half the referenced files died."""
    from pyspark.sql import functions as F

    from iceberg_compaction_spark.operators.maintenance import clean_dangling_deletes
    from iceberg_compaction_spark.sources import manifest as mf
    from iceberg_compaction_spark.sources.generator import create_transcripts_table
    from iceberg_compaction_spark.operators.mor import FILE_COL, POS_COL

    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "dang6"), n_turns=2000, n_convs=10, n_files=4
    )
    hidden = t.scan(spark, with_hidden=True)
    t.add_position_deletes(
        hidden.filter(F.col(POS_COL) % 7 == 0).select(FILE_COL, POS_COL)
    )
    # kill one data file out from under the delete set
    victim = t.files(content="data")[0]["path"]
    t.commit("expire_data", added=[], removed_paths=[victim])
    before = t.scan(spark).count()
    clean_dangling_deletes(spark, t)
    assert t.scan(spark).count() == before  # rewrite is semantics-neutral
    pos = t.files(content=mf.CONTENT_POS_DEL)
    refs = {
        r[FILE_COL]
        for p in pos
        for r in spark.read.parquet(p["path"]).select(FILE_COL).distinct().collect()
    }
    assert victim not in refs  # dangling entries gone


def test_redact_pii_rules(spark):
    """PII redaction: counts on the original text, placeholders in
    rule order, non-PII text untouched, map-only plan."""
    from iceberg_compaction_spark.operators.textql import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@d-e.org and x@y.io, call 555-867-5309, from 10.0.0.7"),
            (2, "no pii here at all"),
            (3, "ip 192.168.001.255 twice 192.168.001.255"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (2, 1, 1)
    assert "<EMAIL>" in out[1]["text_redacted"] and "<PHONE>" in out[1]["text_redacted"]
    assert "@" not in out[1]["text_redacted"]
    assert out[2]["text_redacted"] == "no pii here at all"
    assert (out[2]["n_email"], out[2]["n_phone"], out[2]["n_ipv4"]) == (0, 0, 0)
    assert out[3]["n_ipv4"] == 2 and out[3]["text_redacted"].count("<IP>") == 2
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan  # map-only, JVM-side


def test_distributed_orphan_scan_matches_driver_variant(spark, tmp_warehouse):
    """The orphan sweep finds a crashed run's directory under data/ and
    a stray parquet directly under deletes/ (depth 0), removes exactly
    those, leaves live data intact, and is idempotent."""
    import os

    from iceberg_compaction_spark.operators.maintenance import clean_orphan_files
    from iceberg_compaction_spark.sources.generator import (
        create_transcripts_table,
        transcripts_df,
    )

    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "dorph"), n_turns=1500, n_convs=10, n_files=4
    )
    # orphan 1: a crashed-run directory under data/
    crashed = os.path.join(t.data_dir, "crashed-run")
    transcripts_df(spark, 80, 4).coalesce(1).write.parquet(crashed)
    # orphan 2: a stray parquet directly under deletes/ (depth-0 listing path)
    stray = os.path.join(t.deletes_dir, "stray.parquet")
    transcripts_df(spark, 10, 2).toPandas().to_parquet(stray)

    found = clean_orphan_files(t, dry_run=True)
    assert stray in found
    assert [p for p in found if p != stray] and all(
        p.startswith(crashed + os.sep) for p in found if p != stray
    )
    assert all(os.path.exists(p) for p in found)  # dry run removes nothing

    removed = clean_orphan_files(t)
    assert removed == found
    assert all(not os.path.exists(p) for p in removed)
    assert not os.path.exists(crashed)  # committer artifacts and dir swept too
    assert t.scan(spark).count() == 1500  # live data untouched

    # idempotent: second pass finds nothing
    assert clean_orphan_files(t) == []


def test_distributed_orphan_scan_respects_cutoff(spark, tmp_warehouse):
    """Files newer than older_than_ms are kept even when unreferenced
    (in-flight write guard)."""
    import os
    import time

    from iceberg_compaction_spark.operators.maintenance import clean_orphan_files
    from iceberg_compaction_spark.sources.generator import (
        create_transcripts_table,
        transcripts_df,
    )

    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "dorph2"), n_turns=500, n_convs=5, n_files=2
    )
    transcripts_df(spark, 50, 2).coalesce(1).write.parquet(
        os.path.join(t.data_dir, "inflight")
    )
    cutoff = int(time.time() * 1000) - 60_000  # everything is newer
    assert clean_orphan_files(t, older_than_ms=cutoff) == []
    assert clean_orphan_files(t) != []  # default cutoff sweeps it
