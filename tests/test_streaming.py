"""Streaming extraction: same results as batch, exactly-once resume
via checkpoint (file source), incremental pickup of new files."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    from pdf_parser_spark.datagen.pages import write_pages

    d = str(tmp_path_factory.mktemp("stream_pages"))
    write_pages(spark, d, n=48, seed=7, include_fixtures=False)
    return os.path.join(d, "pages.parquet")


def test_stream_matches_batch(spark, pages_dir, tmp_path):
    from pdf_parser_spark.jobs.extract import extract_documents
    from pdf_parser_spark.streaming.extract_stream import run_extract_stream

    out = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    run_extract_stream(spark, pages_dir, out, ckpt)
    got = {r.url: r for r in spark.read.parquet(out).collect()}

    batch = {
        r.url: r
        for r in extract_documents(spark.read.parquet(pages_dir)).collect()
    }
    assert set(got) == set(batch) and len(got) == 48
    for url in got:
        assert got[url].text == batch[url].text, url
        assert got[url].num_chunks == batch[url].num_chunks, url

    # resume: re-running with the same checkpoint ingests nothing new
    run_extract_stream(spark, pages_dir, out, ckpt)
    assert spark.read.parquet(out).count() == 48


def test_stream_picks_up_new_files(spark, pages_dir, tmp_path):
    from pdf_parser_spark.datagen.pages import generate_pages, PAGES_SCHEMA
    from pdf_parser_spark.streaming.extract_stream import run_extract_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    first = generate_pages(spark, 8, seed=11, include_fixtures=False)
    cols = [f.name for f in PAGES_SCHEMA.fields]
    first.select(*cols).write.mode("append").parquet(src)
    run_extract_stream(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 8

    more = generate_pages(spark, 6, seed=12, include_fixtures=False)
    more.select(*cols).withColumn(
        "url", F.concat(F.lit("b/"), F.col("url"))
    ).write.mode("append").parquet(src)
    run_extract_stream(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 14


def test_stateful_dedup_across_restarts(spark, tmp_path):
    """applyInPandasWithState: duplicates dropped within a batch AND
    across restarts (state store persists under the checkpoint)."""
    from pdf_parser_spark.datagen.pages import PAGES_SCHEMA, generate_pages
    from pdf_parser_spark.streaming.dedup_stream import run_dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    cols = [f.name for f in PAGES_SCHEMA.fields]
    batch = generate_pages(spark, 10, seed=21, include_fixtures=False)
    batch.select(*cols).write.mode("append").parquet(src)
    run_dedup_stream(spark, src, out, ckpt)
    first = spark.read.parquet(out).count()
    assert first == 10  # all distinct initially

    # re-append the SAME 10 pages under new urls (same text) + 4 new
    dup = batch.select(*cols).withColumn(
        "url", F.concat(F.lit("dup/"), F.col("url")))
    dup.write.mode("append").parquet(src)
    fresh = generate_pages(spark, 4, seed=22, include_fixtures=False)
    fresh.select(*cols).withColumn(
        "url", F.concat(F.lit("b/"), F.col("url"))
    ).write.mode("append").parquet(src)
    run_dedup_stream(spark, src, out, ckpt)
    rows = spark.read.parquet(out).collect()
    # the 10 duplicates were suppressed by the persisted state
    assert len(rows) == 14
    assert len({r.fingerprint for r in rows}) == 14


def test_watermarked_window_drops_late_rows(spark, tmp_path):
    """Event-time watermark semantics across availableNow cycles: a
    row arriving UNDER the persisted watermark is dropped; an
    already-finalized window is never re-emitted. (Append mode
    finalizes a window on the batch AFTER the watermark passes it —
    hence the pusher cycles.)"""
    import datetime

    from pdf_parser_spark.streaming.windowed import run_windowed_job

    events_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def T(h):
        return datetime.datetime(2025, 1, 1, h, 30)

    def put(name, rows):
        # append flat part-files into the watched dir (the parquet
        # file source does not descend into subdirectories)
        spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(events_dir)

    # cycle 1: three rows in hour 0 + a watermark pusher at hour 5.
    # After the batch the checkpointed watermark is 04:30 (max 05:30
    # minus the 1h delay); nothing emits yet (finalization happens on
    # the next batch).
    put("b1", [(T(0), "click", 1.0), (T(0), "click", 2.0),
               (T(0), "view", 5.0), (T(5), "click", 1.0)])
    run_windowed_job(spark, events_dir, out_dir, ckpt)

    # cycle 2: one LATE hour-0 row (05:30-watermark says drop), one
    # more on-time hour-5 row, and a pusher at hour 10. The hour-0
    # window finalizes NOW — without the late row.
    put("b2", [(T(0), "click", 9.0), (T(5), "click", 1.0),
               (T(10), "view", 1.0)])
    run_windowed_job(spark, events_dir, out_dir, ckpt)
    got2 = {
        (r.window_start.hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    # availableNow appends a trailing no-data batch, so the hour-5
    # window (end 06:00 < the new 09:30 watermark) finalizes in this
    # cycle too — WITHOUT the dropped late row (count 2, sum 2.0, not
    # 3 / 11.0)
    assert got2 == {(0, "click"): (2, 3.0), (0, "view"): (1, 5.0),
                    (5, "click"): (2, 2.0)}

    # cycle 3: pusher at hour 20; nothing is re-emitted, the hour-10
    # window finalizes once
    put("b3", [(T(20), "view", 1.0)])
    run_windowed_job(spark, events_dir, out_dir, ckpt)
    rows = spark.read.parquet(out_dir).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault((r.window_start.hour, r.event_type), []).append(
            r.n_events)
    assert by_key[(0, "click")] == [2]   # late row dropped, emitted once
    assert by_key[(0, "view")] == [1]
    assert by_key[(5, "click")] == [2]
    assert by_key[(10, "view")] == [1]


def test_windowed_stream_matches_batch_on_fixture(spark, tmp_path):
    """Streaming↔batch parity oracle (VERDICT r2 #8): the windowed
    stream run to COMPLETION (foreachBatch, complete mode — watermark
    frees no state) over the real events fixture must equal the batch
    groupBy with the identical window/aggregates, row for row. The
    append-mode run over the same files must emit a SUBSET: only
    windows the final checkpointed watermark finalized — the
    documented semantic gap between the two modes."""
    from pdf_parser_spark.streaming.windowed import (
        run_windowed_complete, run_windowed_job,
    )

    import shutil

    # the fixture is a single parquet FILE; the file stream source
    # watches a directory — stage a copy (testdata is read-only)
    events_dir = str(tmp_path / "events_src")
    os.makedirs(events_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                os.path.join(events_dir, "part-0.parquet"))
    out_c = str(tmp_path / "complete_out")
    out_a = str(tmp_path / "append_out")

    run_windowed_complete(spark, events_dir, out_c,
                          str(tmp_path / "ckpt_c"))
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out_c).collect()
    }

    batch = (
        spark.read.parquet(events_dir)
        .select("ts", "event_type", "value")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"),
                "event_type", "n_events", "sum_value")
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0

    run_windowed_job(spark, events_dir, out_a, str(tmp_path / "ckpt_a"))
    appended = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out_a).collect()
    }
    # every append-emitted window agrees with batch; windows past the
    # final watermark (at least the stream's last hour) are withheld
    assert set(appended) < set(want)
    assert all(appended[k] == want[k] for k in appended)
    max_start = max(ws for ws, _ in want)
    assert all(ws < max_start for ws, _ in appended)
