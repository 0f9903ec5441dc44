"""The flagship job: Common-Crawl-style `pages` → `documents`.

Pipeline (SURVEY.md §3.4):

    read pages (parquet locally; Iceberg in production — same DataFrame
      code, the source format is a config string)
    → resume anti-join against the lineage table's completed buckets
    → size-tiered url-hash repartition (skew defusal: light payloads
      hash-spread over `partitions`, giant ones over a mostly-empty
      heavy tier)
    → ONE mapInPandas pass: sniff payload → from-scratch PDF byte-stream
      parse (text T1 + metadata T4 + tables X1-X5) or HTML boilerplate
      strip (T10), then T2 clean and T3 chunk on the same rows —
      Arrow-batched, no per-row Python round-trip
    → write documents + per-bucket lineage/metrics rows

The reference equivalent is PDFParser.parse_pdf
(/root/reference/src/pdf_parser.py:291-372) run once per file; here the
same per-document semantics run batched over billions of rows.
"""

from __future__ import annotations

import os
import time
import traceback
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, MapType, StringType,
    StructField, StructType,
)

from ..sources import append_table, is_path_ref, read_table, table_exists


def extract_one(payload: Optional[bytes], force_ocr: bool = False,
                ocr_engine=None) -> dict:
    """Per-document extraction core (runs inside the Arrow batch loop).

    Mirrors parse_pdf's stages A (text) + C (metadata) + D (tables)
    for PDF payloads; T10 boilerplate strip for HTML payloads.

    force_ocr mirrors the reference's force-OCR branch
    (pdf_parser.py:318-332): native extraction still runs, and the OCR
    page texts (T8 per-page loop with error embedding) are merged (T9)
    into an additional `ocr_raw_text` + `ocr_by_page`; an engine
    failure lands in `ocr_error` (pdf_parser.py:331-332), never
    aborting the document.  `ocr_engine` is the injectable seam
    (operators/ocr.py) — production plugs tesseract, tests a
    deterministic fake.
    """
    out = {
        "kind": "empty", "raw_text": "", "metadata": {},
        "tables_json": None, "num_tables": 0,
        "n_bytes": 0 if payload is None else len(payload), "error": None,
    }
    if force_ocr:
        out.update(ocr_raw_text=None, ocr_by_page=None, ocr_error=None)
    if not payload:
        return out
    try:
        if payload[:5] == b"%PDF-" or b"%PDF-" in payload[:1024]:
            from ..operators.tables import extract_tables_json
            from ..pdf.metadata import extract_metadata
            from ..pdf.text import extract_document_text

            out["kind"] = "pdf"
            out["raw_text"] = extract_document_text(payload)
            out["metadata"] = extract_metadata(payload)
            tables_json, n_tables = extract_tables_json(payload)
            out["tables_json"] = tables_json
            out["num_tables"] = n_tables
            if force_ocr:
                from ..operators.ocr import merge_ocr_text, ocr_pdf

                try:
                    by_page = ocr_pdf(payload, engine=ocr_engine)
                    out["ocr_by_page"] = {
                        str(k): v for k, v in by_page.items()
                    }
                    out["ocr_raw_text"] = merge_ocr_text(by_page)
                except Exception as e:
                    out["ocr_error"] = str(e)
        else:
            from ..functions.charset import decode_bytes, sniff_bytes
            from ..html.boilerplate import extract_main_text

            out["kind"] = "html"
            # charset-aware decode (functions/charset.py): BOM >
            # verified meta prescan > utf-8 validity > windows-1252 —
            # a blind utf-8 decode mangles the ~5-10% of crawl pages
            # that ship cp1252/utf-16 bytes, and mojibake'd text
            # hashes apart from its clean twin in every dedup family.
            cs = sniff_bytes(payload)  # once: the sniff re-validates
            out["raw_text"] = extract_main_text(
                decode_bytes(payload, charset=cs)
            )
            out["metadata"] = {"charset": cs}
    except Exception:
        out["error"] = traceback.format_exc(limit=3)
    return out


#: fused-stage output: extraction + T2 clean + T3 chunk in ONE Python
#: pass (SURVEY §4.3 projection fusion — saves a full Arrow round-trip
#: over the text at 100 TB scale).  Chunk STRINGS are not materialized:
#: chunks are a deterministic function of `text` (functions/chunk.py),
#: so the table stores per-chunk lengths only and consumers re-derive
#: the strings with the chunk UDF when needed — shipping chunk copies
#: would double the bytes through every shuffle/sink for no
#: information gain.
FUSED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("chunk_lens", ArrayType(IntegerType())),
    StructField("num_chunks", IntegerType()),
    StructField("metadata", MapType(StringType(), StringType())),
    StructField("tables_json", StringType()),
    StructField("num_tables", IntegerType()),
    StructField("ocr_used", BooleanType()),
    StructField("n_bytes", LongType()),
    StructField("error", StringType()),
])


#: force-OCR variant columns appended to FUSED_SCHEMA: the cleaned
#: merged OCR text, its chunk count (reference ocr_text/ocr_chunks,
#: pdf_parser.py:328-329), the per-page dict (:330) and the degrade
#: error (:331-332)
FORCE_OCR_FIELDS = [
    StructField("ocr_text", StringType()),
    StructField("ocr_num_chunks", IntegerType()),
    StructField("ocr_by_page", MapType(StringType(), StringType())),
    StructField("ocr_error", StringType()),
]
FUSED_OCR_SCHEMA = StructType(list(FUSED_SCHEMA.fields) + FORCE_OCR_FIELDS)


def _make_fused_batches(chunk_size: int, chunk_overlap: int,
                        force_ocr: bool = False, ocr_engine=None):
    schema = FUSED_OCR_SCHEMA if force_ocr else FUSED_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.chunk import chunk_text
        from ..functions.clean import clean_text

        # worker-side engine autodetect (memoized per Python worker):
        # an executor with pytesseract/pdf2image/Pillow installed gets
        # real OCR with zero code change; without them the per-document
        # ocr_error degrade path runs exactly as before
        engine = ocr_engine
        if force_ocr and engine is None:
            from ..operators.ocr import default_engine

            engine = default_engine()

        cols = [f.name for f in schema.fields]
        for b in batches:
            rows = []
            for url, payload in zip(b["url"], b["html"]):
                r = extract_one(payload, force_ocr=force_ocr,
                                ocr_engine=engine)
                text = clean_text(r.pop("raw_text"))
                chunks = chunk_text(text, chunk_size, chunk_overlap)
                r.update(url=url, text=text,
                         chunk_lens=[len(c) for c in chunks],
                         num_chunks=len(chunks), ocr_used=False)
                if force_ocr:
                    raw = r.pop("ocr_raw_text")
                    if raw is None:
                        r.update(ocr_text=None, ocr_num_chunks=None)
                    else:
                        # reference force branch: clean + chunk the
                        # merged OCR text exactly like native text
                        ocr_text = clean_text(raw)
                        r.update(
                            ocr_text=ocr_text,
                            ocr_num_chunks=len(chunk_text(
                                ocr_text, chunk_size, chunk_overlap)),
                            ocr_used=r["kind"] == "pdf",
                        )
                rows.append(r)
            yield pd.DataFrame(rows, columns=cols)

    return run


#: payload-size cutoff (bytes) above which a document is routed to the
#: heavy tier. 4 MiB ≈ 40x the median crawl page; anything above it is
#: the multi-hundred-MB-PDF tail the north rule's skew handling exists
#: for.
DEFAULT_HEAVY_BYTES = 4 * 1024 * 1024

#: heavy-tier partitions per light partition
HEAVY_FANOUT = 4


def size_tiered_repartition(
    df: DataFrame,
    partitions: int,
    heavy_bytes: int = DEFAULT_HEAVY_BYTES,
) -> DataFrame:
    """Byte-size-aware skew defusal (SURVEY §4.3): url-hash salting
    alone spreads doc COUNT evenly, but a heavy tail of giant documents
    (multi-hundred-MB PDFs are normal in a web crawl) still lands whole
    docs on single tasks — AQE cannot split a straggler *map* task, so
    a task that drew a giant PLUS its full share of small docs idles
    the rest of the cluster at stage end.

    Fix: tier by the byte length of the `html` payload.
    - light docs (< heavy_bytes) hash-spread over `partitions` by the
      full-width xxhash64(url) — decorrelating crawl locality, with
      balls-into-bins variance on bounded-size docs of O(1/sqrt(n/P)),
      sub-1% at any realistic partition size;
    - heavy docs hash-spread over `partitions * HEAVY_FANOUT` MOSTLY-
      EMPTY partitions, so each heavy task holds ~one giant and no
      light share: the stage's critical path drops to max(light share,
      one giant parse) — the irreducible floor without splitting a
      single document's parse.

    The union of the two repartitions is narrow (partition lists
    concatenate), so the extraction mapInPandas still runs in ONE
    stage with ONE shuffle per tier and empty heavy partitions cost
    only a no-op task launch.

    I/O note for 100 TB: the two `where` branches each scan the
    source, and `length(html)` must read the payload bytes — a 2x read
    of the payload column.
    """
    nbytes = F.coalesce(F.length(F.col("html")).cast("long"), F.lit(0))
    light = df.where(nbytes < F.lit(heavy_bytes))
    heavy = df.where(nbytes >= F.lit(heavy_bytes))
    light_rep = light.repartition(partitions, F.xxhash64(F.col("url")))
    heavy_rep = heavy.repartition(partitions * HEAVY_FANOUT,
                                  F.xxhash64(F.col("url")))
    return light_rep.unionByName(heavy_rep)


def extract_documents(
    pages: DataFrame,
    partitions: Optional[int] = None,
    chunk_size: int = 1000,
    chunk_overlap: int = 200,
    force_ocr: bool = False,
    ocr_engine=None,
) -> DataFrame:
    """pages → documents DataFrame (lazy; no side effects).

    size_tiered_repartition spreads the (url, html) rows, then ONE
    mapInPandas stage runs extraction + clean + chunk — a single Arrow
    round-trip over the payloads.

    force_ocr=True mirrors the reference's --force-ocr flag: PDF
    documents additionally carry ocr_text/ocr_num_chunks/ocr_by_page/
    ocr_error columns produced by the injected OCR engine inside the
    SAME mapInPandas pass.
    """
    spark = pages.sparkSession
    partitions = partitions or spark.sparkContext.defaultParallelism * 2
    spread = size_tiered_repartition(pages.select("url", "html"), partitions)
    return spread.mapInPandas(
        _make_fused_batches(chunk_size, chunk_overlap, force_ocr, ocr_engine),
        FUSED_OCR_SCHEMA if force_ocr else FUSED_SCHEMA,
    )


# ---------------------------------------------------------------- lineage

#: run_wall_sec is the RUN's wall clock (identical on every bucket row
#: of a run_id) — per-bucket timing would need task-level metrics; the
#: per-run number is what the resume/throughput accounting uses.
LINEAGE_SCHEMA = (
    "run_id string, url_bucket int, n_docs long, n_bytes long, "
    "n_errors long, n_pdf long, n_html long, run_wall_sec double, "
    "status string"
)


def migrate_lineage(spark: SparkSession, lineage_path: str) -> None:
    """One-time schema migration for lineage directories written by the
    pre-rename code (column `wall_sec`, now `run_wall_sec`).

    Lineage rows APPEND per run; appending the new schema next to old
    footers would leave a mixed-schema directory where plain reads see
    whichever footer Spark samples. Detect the old column and rewrite
    the directory once (tiny table — ≤ n_buckets rows per run)."""
    if not is_path_ref(lineage_path) or not os.path.exists(lineage_path):
        # catalog branch: Iceberg handles column renames as native
        # schema evolution; the rewrite below is parquet-dir-only
        return
    try:
        lin = spark.read.option("mergeSchema", "true").parquet(lineage_path)
    except Exception:
        return
    if "wall_sec" not in lin.columns:
        return
    migrated = lin.withColumn(
        "run_wall_sec",
        F.coalesce(F.col("run_wall_sec") if "run_wall_sec" in lin.columns
                   else F.lit(None).cast("double"),
                   F.col("wall_sec")),
    ).drop("wall_sec").select(
        "run_id", "url_bucket", "n_docs", "n_bytes", "n_errors",
        "n_pdf", "n_html", "run_wall_sec", "status",
    )
    tmp = lineage_path + ".migrating"
    migrated.write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(lineage_path)
    os.replace(tmp, lineage_path)


def completed_buckets(spark: SparkSession, lineage_path: str) -> Optional[DataFrame]:
    if not table_exists(spark, lineage_path):
        return None
    try:
        lin = read_table(spark, lineage_path)
        return lin.filter(F.col("status") == "ok").select("url_bucket").distinct()
    except Exception:
        return None


def run_extract_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_id: str = "run1",
    n_buckets: int = 64,
    partitions: Optional[int] = None,
    limit_buckets: Optional[int] = None,
) -> dict:
    """Resumable batch job with per-bucket lineage (SURVEY §7.4).

    A bucket (pmod(xxhash64(url), n_buckets)) is the unit of resume:
    restart anti-joins pages against lineage's ok buckets — exactly
    the `pages LEFT ANTI JOIN lineage` design from the north rule. The
    done-bucket side is tiny (≤ n_buckets rows) → broadcast join, no
    shuffle of the big side.

    SINGLE extraction pass: documents are persisted (memory+disk
    spill), the parquet write materializes them, and lineage is
    aggregated FROM THE SAME cached DataFrame — the written output is
    never re-scanned and no extra count() job runs (doc totals derive
    from the ≤ n_buckets lineage rows). Lineage rows APPEND per run,
    so a resume run only writes its own buckets' rows.

    `pages_path` / `out_dir` are table REFS (sources/catalog.py): a
    filesystem path runs the parquet branch (tests, sandbox); a
    catalog identifier — e.g. pages_path="crawl.web.pages",
    out_dir="crawl.web" — reads/writes Iceberg tables
    (`crawl.web.documents`, `crawl.web.lineage`) through the identical
    DataFrame plan, which is the north rule's production shape
    (lineage appends become atomic Iceberg snapshot commits).
    """
    from pyspark import StorageLevel

    t0 = time.time()
    pages = read_table(spark, pages_path).withColumn(
        "url_bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )
    if is_path_ref(out_dir):
        docs_ref = os.path.join(out_dir, "documents.parquet")
        lineage_path = os.path.join(out_dir, "lineage.parquet")
    else:
        docs_ref = f"{out_dir}.documents"
        lineage_path = f"{out_dir}.lineage"
    migrate_lineage(spark, lineage_path)  # pre-rename wall_sec dirs
    done = completed_buckets(spark, lineage_path)
    if done is not None:
        pages = pages.join(F.broadcast(done), "url_bucket", "left_anti")
    if limit_buckets is not None:  # partial run (used to demo resume)
        pages = pages.filter(F.col("url_bucket") < limit_buckets)

    docs = extract_documents(pages, partitions=partitions).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    append_table(docs, docs_ref)  # the ONE extraction job

    # per-bucket lineage from the cached plan — tiny result, collected
    bucket_stats = (
        docs.groupBy(
            F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
            .alias("url_bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
            F.sum(F.when(F.col("kind") == "pdf", 1).otherwise(0)).alias("n_pdf"),
            F.sum(F.when(F.col("kind") == "html", 1).otherwise(0)).alias("n_html"),
        )
        .collect()
    )
    docs.unpersist()
    wall = time.time() - t0
    lineage_rows = spark.createDataFrame(
        [
            (run_id, r.url_bucket, r.n_docs, r.n_bytes, r.n_errors,
             r.n_pdf, r.n_html, float(wall), "ok")
            for r in bucket_stats
        ],
        LINEAGE_SCHEMA,
    )
    append_table(lineage_rows, lineage_path)
    n_run = sum(r.n_docs for r in bucket_stats)
    # cumulative total from the (tiny) lineage table, NOT a rescan of
    # the documents output
    n_total = (
        read_table(spark, lineage_path).agg(F.sum("n_docs")).first()[0] or 0
    )
    return {"run_id": run_id, "n_docs": int(n_total), "n_docs_run": int(n_run),
            "wall_sec": wall,
            "docs_per_sec": n_run / wall if wall > 0 else 0.0}
