"""End-to-end: synthetic pages → extract_documents → expected parity,
plus the lineage/resume mechanism of run_extract_job."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    from pdf_parser_spark.datagen.pages import write_pages

    d = str(tmp_path_factory.mktemp("pages"))
    write_pages(spark, d, n=120, seed=42, include_fixtures=True)
    return d


def test_pipeline_matches_expected(spark, pages_dir):
    from pdf_parser_spark.jobs.extract import extract_documents

    pages = spark.read.parquet(os.path.join(pages_dir, "pages.parquet"))
    expected = spark.read.parquet(os.path.join(pages_dir, "expected.parquet"))
    docs = extract_documents(pages, partitions=8)

    joined = (
        docs.join(expected, "url")
        .filter(F.col("expected_kind").isin("pdf", "html"))
        .select("url", "text", "expected_text", "kind", "expected_kind", "error")
        .collect()
    )
    assert len(joined) == 120
    bad = [r for r in joined if r.text != r.expected_text or r.error]
    assert not bad, f"{len(bad)} mismatches, first: {bad[0].url if bad else ''}"
    kinds = {r.url: r.kind for r in joined}
    assert all(
        k == ("pdf" if "/pdf/" in u else "html") for u, k in kinds.items()
    )


def test_pipeline_fixture_rows_extract(spark, pages_dir):
    import json

    from pdf_parser_spark.jobs.extract import extract_documents

    pages = spark.read.parquet(os.path.join(pages_dir, "pages.parquet")).filter(
        F.col("url").startswith("https://fixtures.local/")
    )
    rows = {r.url: r for r in extract_documents(pages, partitions=2).collect()}
    assert len(rows) == 2
    with open(
        "/root/reference/exports/Snack_planogram_12_05_2025_parsed.json"
    ) as f:
        golden = json.load(f)
    plano = rows["https://fixtures.local/snack_planogram"]
    assert plano.error is None
    assert plano.metadata["num_pages"] == "7"
    # chunk quirk: ['', text]
    assert plano.num_chunks == golden["num_chunks"] == 2
    assert list(plano.chunk_lens) == [len(c) for c in golden["chunks"]]
    # byte-identical text — the north-rule invariant
    assert plano.text == golden["text"]
    rei = rows["https://fixtures.local/rei_8727"]
    assert rei.metadata["num_pages"] == "33"
    assert len(rei.text) > 50_000


def test_chunks_match_reference_algorithm(spark, pages_dir):
    from pdf_parser_spark.functions.chunk import chunk_text
    from pdf_parser_spark.jobs.extract import extract_documents

    pages = spark.read.parquet(os.path.join(pages_dir, "pages.parquet")).limit(30)
    for r in extract_documents(pages, partitions=4).collect():
        # chunk strings are a pure function of text; the table stores
        # their lengths (jobs/extract.py FUSED_SCHEMA rationale)
        assert list(r.chunk_lens) == [len(c) for c in chunk_text(r.text)]
        assert r.num_chunks == len(r.chunk_lens)


def test_native_clean_and_chunk_match_python_twins(spark, pages_dir):
    """__spark_entry__ runs T2 as the native clean_text_col regexp chain
    and T3 as the make_chunk_udf pandas UDF; the extraction stage runs
    their Python twins. Both must agree on real extracted text."""
    from pdf_parser_spark.functions.chunk import chunk_text, make_chunk_udf
    from pdf_parser_spark.functions.clean import clean_text, clean_text_col
    from pdf_parser_spark.jobs.extract import extract_one

    pages = spark.read.parquet(os.path.join(pages_dir, "pages.parquet")).limit(40)
    raw = spark.createDataFrame(
        [(p.url, extract_one(p.html)["raw_text"]) for p in pages.collect()],
        "url string, raw_text string",
    )
    chunk_udf = make_chunk_udf(1000, 200)
    native = (
        raw.withColumn("text", clean_text_col(F.col("raw_text")))
        .withColumn("chunk_lens", F.transform(chunk_udf(F.col("text")), F.length))
        .collect()
    )
    assert len(native) == 40
    for r in native:
        text = clean_text(r.raw_text)
        assert r.text == text, r.url
        assert list(r.chunk_lens) == [len(c) for c in chunk_text(text)], r.url


def test_degenerate_payloads_contained(spark):
    """Garbage, empty, and truncated-PDF rows must not crash the job;
    a truncated PDF with nothing recoverable must surface in `error`
    (reference parity: pypdf raises PdfReadError on truncated files,
    src/pdf_parser.py:60-75 records it per document) rather than
    silently producing an empty zero-page document."""
    from pdf_parser_spark.jobs.extract import extract_documents

    with open("/root/reference/Snack_planogram_12_05_2025.pdf", "rb") as f:
        snack = f.read()
    probe = spark.createDataFrame(
        [
            ("u_garbage", b"\x00\xffgarbage bytes"),
            ("u_empty", b""),
            ("u_truncated", snack[:500]),
            ("u_html", b"<html><body><p>"
             + b"ten words of real content keeps this block classified "
             b"as main text</p></body></html>"),
        ],
        "url string, html binary",
    )
    rows = {r.url: r for r in extract_documents(probe, partitions=2).collect()}
    assert rows["u_empty"].kind == "empty" and rows["u_empty"].error is None
    # garbage without %PDF magic routes to the HTML path, contained
    assert rows["u_garbage"].kind == "html"
    assert rows["u_garbage"].error is None
    assert rows["u_truncated"].kind == "pdf"
    assert rows["u_truncated"].error is not None
    assert "no pages recovered" in rows["u_truncated"].error
    assert rows["u_html"].error is None
    assert "ten words of real content" in rows["u_html"].text


def test_degenerate_synthetic_payloads_contained(spark):
    """Same containment contract as test_degenerate_payloads_contained,
    with the truncated row cut from a generated PDF instead of a
    reference fixture: garbage, empty, truncated-PDF and HTML rows all
    extract, and the truncated PDF surfaces its failure in `error`."""
    from pdf_parser_spark.datagen.pdfgen import build_pdf
    from pdf_parser_spark.jobs.extract import extract_documents

    pdf = build_pdf([["first page line one", "first page line two"],
                     ["second page line"]])
    probe = spark.createDataFrame(
        [
            ("u_garbage", b"\x00\xffgarbage bytes"),
            ("u_empty", b""),
            ("u_truncated", pdf[:300]),
            ("u_html", b"<html><body><p>"
             + b"ten words of real content keeps this block classified "
             b"as main text</p></body></html>"),
        ],
        "url string, html binary",
    )
    rows = {r.url: r for r in extract_documents(probe, partitions=2).collect()}
    assert rows["u_empty"].kind == "empty" and rows["u_empty"].error is None
    assert rows["u_garbage"].kind == "html"
    assert rows["u_garbage"].error is None
    assert rows["u_truncated"].kind == "pdf"
    assert rows["u_truncated"].error is not None
    assert "no pages recovered" in rows["u_truncated"].error
    assert rows["u_html"].error is None
    assert "ten words of real content" in rows["u_html"].text


def test_resume_job(spark, pages_dir, tmp_path):
    from pdf_parser_spark.jobs.extract import run_extract_job

    out = str(tmp_path / "out")
    pages_path = os.path.join(pages_dir, "pages.parquet")
    total = spark.read.parquet(pages_path).count()

    r1 = run_extract_job(
        spark, pages_path, out, run_id="r1", n_buckets=16, limit_buckets=8
    )
    assert 0 < r1["n_docs"] < total
    # resume: only the remaining buckets are processed, union is complete
    r2 = run_extract_job(spark, pages_path, out, run_id="r2", n_buckets=16)
    assert r2["n_docs"] == total
    docs = spark.read.parquet(os.path.join(out, "documents.parquet"))
    assert docs.count() == total
    assert docs.select("url").distinct().count() == total  # no double work
    lin = spark.read.parquet(os.path.join(out, "lineage.parquet"))
    assert lin.agg(F.sum("n_docs")).first()[0] == total


def test_resume_over_old_lineage_schema(spark, pages_dir, tmp_path):
    """Resuming over a lineage directory written by the pre-rename code
    (column `wall_sec`) must migrate instead of appending a second
    schema into the same parquet directory."""
    from pdf_parser_spark.jobs.extract import run_extract_job

    out = str(tmp_path / "out")
    pages_path = os.path.join(pages_dir, "pages.parquet")
    total = spark.read.parquet(pages_path).count()

    r1 = run_extract_job(
        spark, pages_path, out, run_id="old", n_buckets=16, limit_buckets=8
    )
    lineage_path = os.path.join(out, "lineage.parquet")
    # rewrite r1's lineage with the OLD column name, simulating a
    # directory left behind by the previous code version
    old = spark.read.parquet(lineage_path).withColumnRenamed(
        "run_wall_sec", "wall_sec")
    old_rows = old.collect()
    import shutil

    shutil.rmtree(lineage_path)
    spark.createDataFrame(old_rows, old.schema).write.parquet(lineage_path)

    r2 = run_extract_job(spark, pages_path, out, run_id="new", n_buckets=16)
    assert r2["n_docs"] == total
    lin = spark.read.parquet(lineage_path)  # plain read, no mergeSchema
    assert "run_wall_sec" in lin.columns and "wall_sec" not in lin.columns
    assert lin.agg(F.sum("n_docs")).first()[0] == total
    # the migrated old rows kept their wall values and doc counts
    old_lin = lin.filter(F.col("run_id") == "old")
    assert old_lin.filter(F.col("run_wall_sec").isNull()).count() == 0
    assert old_lin.agg(F.sum("n_docs")).first()[0] == r1["n_docs_run"] > 0
