"""Multimodal binary plumbing + incremental streaming index."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.multimodal.binary_ops import (
    attach_blob_metadata,
    decode_images,
    sample_frames,
    sniff_media_type,
)
from information_retrieval_system_spark.streaming.incremental import (
    incremental_index_stream,
    merged_index_view,
)


def test_sniff_magic():
    assert sniff_media_type(b"\x89PNG\r\n\x1a\nxxxx") == "image/png"
    assert sniff_media_type(b"\xff\xd8\xffxxx") == "image/jpeg"
    assert sniff_media_type(b"") == "empty"
    assert sniff_media_type(b"plainbytes") == "application/octet-stream"


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, bytearray(b"\x89PNG\r\n\x1a\n" + b"a" * 100)),
        (2, bytearray(b"\xff\xd8\xff" + b"b" * 50)),
        (3, bytearray(b"randomdata" * 10)),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_blob_metadata(media):
    out = {r.media_id: r for r in attach_blob_metadata(media, "payload").collect()}
    assert out[1].media_type == "image/png" and out[1].blob_size == 108
    assert out[2].media_type == "image/jpeg"
    assert len(out[3].blob_sha) == 64


def test_decode_requires_codec_or_fake(media):
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with pytest.raises(Exception):  # NotImplementedError raised at plan build
            decode_images(media, allow_fake=False)
    dec = {r.media_id: r for r in decode_images(media, allow_fake=True).collect()}
    assert set(dec) == {1, 2, 3}
    for r in dec.values():
        assert 16 <= r.width <= 255 and 16 <= r.height <= 255 and r.n_channels == 3
    # determinism
    dec2 = {r.media_id: (r.width, r.height) for r in decode_images(media, allow_fake=True).collect()}
    assert dec2 == {k: (v.width, v.height) for k, v in dec.items()}


def test_sample_frames_fanout(media):
    frames = sample_frames(media, every_n=8).collect()
    assert len(frames) >= 3
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    for idxs in by_id.values():
        assert idxs == sorted(idxs) and all(i % 8 == 0 for i in idxs)


def test_incremental_stream_matches_batch(spark, sf_small, tmp_path):
    cfg = EngineConfig()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select("doc_id", "text")
    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    # two arrival waves
    docs.filter("doc_id < 250").write.mode("overwrite").parquet(os.path.join(in_dir, "w1"))
    docs.filter("doc_id >= 250").write.mode("overwrite").parquet(os.path.join(in_dir, "w2"))
    # file source reads the dir recursively? -> write directly as files
    # instead: move parquet part-files up
    import glob
    import shutil

    for sub in ["w1", "w2"]:
        for f in glob.glob(os.path.join(in_dir, sub, "*.parquet")):
            shutil.move(f, os.path.join(in_dir, os.path.basename(sub + "_" + os.path.basename(f))))
        shutil.rmtree(os.path.join(in_dir, sub))

    q = incremental_index_stream(
        spark, in_dir, str(tmp_path / "ckpt"), str(tmp_path / "out"), cfg
    )
    q.awaitTermination(120)

    postings, sdocs, terms, stats = merged_index_view(spark, str(tmp_path / "out"))
    batch = build_index(docs, cfg, doc_col="doc_id", text_col="text", with_positions=False)
    a = sorted((r.term, r.doc_id, r.tf) for r in postings.collect())
    b = sorted((r.term, r.doc_id, r.tf) for r in
               batch.postings.select("term", "doc_id", "tf").collect())
    assert a == b
    assert stats["n_docs"] == batch.stats["n_docs"]
    assert stats["avgdl"] == batch.stats["avgdl"]


def test_stream_sessionization_matches_batch_closed_sessions(spark, tmp_path):
    """applyInPandasWithState sessionization: state carries across
    micro-batches; CLOSED sessions (ones a later event terminated) must
    equal the batch plan's closed sessions."""
    import pandas as pd
    from pyspark.sql import functions as F

    from information_retrieval_system_spark.streaming.sessions import (
        SESSION_SCHEMA, sessionize_batch, sessionize_stream)

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "user_id", "value")
        .filter(F.col("user_id") < 10)
    )
    # land in 3 time-ordered files so sessions span micro-batches
    in_dir = str(tmp_path / "in")
    parts = ev.withColumn(
        "part", F.ntile(3).over(__import__("pyspark").sql.Window.orderBy("ts"))
    )
    for p in (1, 2, 3):
        parts.filter(F.col("part") == p).drop("part").coalesce(1).write.mode(
            "append").parquet(in_dir)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        sessionize_stream(stream, gap_sec=600)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, round(r.sum_value, 6))
        for r in spark.read.schema(SESSION_SCHEMA).parquet(out_dir).collect()
    }
    batch_all = sessionize_batch(ev, gap_sec=600)
    # closed sessions = all but each user's LAST session
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.desc("session_end_us"))
    closed = batch_all.withColumn("rn", F.row_number().over(w)).filter("rn > 1")
    expected = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, round(r.sum_value, 6))
        for r in closed.collect()
    }
    assert streamed == expected
    assert len(expected) > 0


def test_stream_sessionization_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout closes an idle user's open session once the
    watermark passes last_event + gap, and removes its state — bounded
    state for users who simply stop sending events."""
    import time as _time
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from information_retrieval_system_spark.streaming.sessions import (
        SESSION_SCHEMA, sessionize_stream)

    def ts(h, m, s):
        return datetime(2024, 1, 1, h, m, s, tzinfo=timezone.utc)

    in_dir = str(tmp_path / "in")
    batches = [
        [(1, ts(10, 0, 0), 1, 1.0), (2, ts(10, 0, 5), 1, 2.0)],   # user 1, then idle
        [(3, ts(14, 0, 0), 2, 3.0)],                               # watermark -> 10:00:05
        [(4, ts(14, 0, 1), 2, 4.0)],                               # watermark -> 14:00:00
    ]
    for rows in batches:
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("append").parquet(in_dir)
        _time.sleep(1.1)  # distinct mtimes: file source replays in this order

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withWatermark("ts", "0 seconds")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        sessionize_stream(stream, gap_sec=600, timeout="event")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not drain"

    got = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.sum_value)
           for r in spark.read.schema(SESSION_SCHEMA).parquet(out_dir).collect()}
    us = lambda h, m, s: int(ts(h, m, s).timestamp()) * 1_000_000
    # user 1's session was emitted BY TIMEOUT (no later user-1 event closed it)
    assert (1, us(10, 0, 0), us(10, 0, 5), 2, 3.0) in got
    # user 2's session is still open when the stream drains: not emitted
    assert all(u != 2 for (u, *_ ) in got)


def test_compact_to_snapshot_lineage(spark, tmp_path):
    """Streaming deltas -> compaction committed as an immutable
    snapshot: the lineage log records the operation, and the snapshot
    read matches a batch aggregation of the same deltas.  A batch that
    lands after the compaction is merged on its own: the compacted
    batches are never merged a second time."""
    from pyspark.sql import functions as F

    from information_retrieval_system_spark.index.snapshots import (
        read_snapshot, snapshot_lineage)
    from information_retrieval_system_spark.streaming.incremental import (
        compact_to_snapshot, merge_into_snapshot)

    delta = str(tmp_path / "delta")

    def land(bid, postings, docs):  # one delta batch, like foreachBatch
        spark.createDataFrame(postings, "term string, doc_id long, tf int").withColumn(
            "batch_id", F.lit(bid)).write.mode("append").parquet(f"{delta}/postings_delta")
        spark.createDataFrame(docs, "doc_id long, length long").withColumn(
            "batch_id", F.lit(bid)).write.mode("append").parquet(f"{delta}/docs_delta")

    # two batches with disjoint docs
    land(0, [("alpha", 1, 2), ("beta", 1, 1), ("alpha", 2, 1)], [(1, 3), (2, 1)])
    land(1, [("beta", 3, 4), ("gamma", 3, 1)], [(3, 5)])

    root = str(tmp_path / "snaps")
    sid = compact_to_snapshot(spark, delta, root)
    chain = snapshot_lineage(root)
    assert [e["operation"] for e in chain] == ["compaction"]
    ix = read_snapshot(spark, root, sid)
    terms = {r.term: (r.df, r.cf) for r in ix.terms.collect()}
    assert terms == {"alpha": (2, 3), "beta": (2, 5), "gamma": (1, 1)}
    assert ix.stats["n_docs"] == 3 and ix.stats["int_doc_ids"] is True

    land(2, [("gamma", 4, 2)], [(4, 2)])
    merged = merge_into_snapshot(spark, root, delta)
    assert merged > sid
    ix = read_snapshot(spark, root, merged)
    terms = {r.term: (r.df, r.cf) for r in ix.terms.collect()}
    assert terms == {"alpha": (2, 3), "beta": (2, 5), "gamma": (2, 3)}
    assert ix.stats["n_docs"] == 4 and ix.stats["total_len"] == 11


def test_parse_image_header_roundtrip():
    """REAL header-only dimension parse: every synthesized PNG/JPEG
    prefix round-trips exact dimensions; garbage and truncation -> None."""
    from information_retrieval_system_spark.multimodal.binary_ops import (
        jpeg_bytes, parse_image_header, png_bytes)

    for w, h in [(16, 16), (255, 100), (1920, 1080), (240, 23), (65535, 1)]:
        assert parse_image_header(png_bytes(w, h)) == (w, h)
        assert parse_image_header(jpeg_bytes(w, h)) == (w, h)
    assert parse_image_header(None) is None
    assert parse_image_header(b"") is None
    assert parse_image_header(b"\x89PNG\r\n\x1a\x08aaaa") is None
    assert parse_image_header(b"\xff\xd8\xffbbbbb") is None
    assert parse_image_header(png_bytes(5, 5)[:20]) is None


def test_decode_prefers_real_headers(spark):
    """decode_images without PIL: parseable PNG/JPEG payloads get REAL
    header dimensions (decoder='header'); unparseable bytes keep the
    deterministic fake."""
    from information_retrieval_system_spark.multimodal.binary_ops import (
        decode_images, jpeg_bytes, png_bytes)

    rows = [(1, bytearray(png_bytes(320, 200))),
            (2, bytearray(jpeg_bytes(640, 480))),
            (3, bytearray(b"notanimage" * 5))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in decode_images(media, allow_fake=True).collect()}
    assert (out[1].width, out[1].height, out[1].decoder) == (320, 200, "header")
    assert (out[2].width, out[2].height, out[2].decoder) == (640, 480, "header")
    assert out[3].decoder == "fake"
