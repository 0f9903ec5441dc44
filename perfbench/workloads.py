"""The four workloads: inputs, set-up, measured repetitions, checks.

Each workload drives the engine only through its public entry points
(`extract_documents`, `run_extract_job`, `write_table_csvs`,
`read_pages_stream` / `extract_documents_stream`, and the
`sources.catalog` read/append seam) and checks every committed row
against what the generator recorded.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import re
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple
from urllib.parse import urlparse

import pyarrow.parquet as pq

from pdf_parser_spark.jobs.export_csv import write_table_csvs
from pdf_parser_spark.jobs.extract import extract_documents, run_extract_job
from pdf_parser_spark.sources import append_table, read_table
from pdf_parser_spark.streaming.extract_stream import (
    extract_documents_stream, read_pages_stream,
)

from . import inputs, procfs, tracing
from .inputs import Page
from .session import slots


@dataclass
class Rep:
    """One measured repetition (a batch job run, or the whole stream)."""
    wall: float
    #: documents committed per second, one value per job in the rep
    rates: List[float]
    attempted: int
    failed: int
    in_bytes: int
    out_bytes: int
    #: per-document latency seconds (open loop only)
    latencies: List[float] = field(default_factory=list)
    layers: Dict[str, float] = field(default_factory=dict)


# ---------------------------------------------------------------- checks

def check_documents(table_dir: str, pages: List[Page]) -> Dict[str, int]:
    """Compare a documents table with the generator's record: every
    input url exactly once, no `error`, `kind` and byte-identical
    `text` as expected, and the sniffed charset for HTML."""
    expected = {p.url: p for p in pages}
    t = pq.read_table(table_dir,
                      columns=["url", "kind", "text", "metadata", "error"])
    seen: Counter = Counter()
    bad: Counter = Counter()
    cols = [t.column(c).to_pylist() for c in t.column_names]
    for url, kind, text, meta, err in zip(*cols):
        seen[url] += 1
        p = expected.get(url)
        if p is None:
            bad["unknown_url"] += 1
        elif seen[url] > 1:
            bad["duplicate"] += 1
        elif err is not None:
            bad["error"] += 1
        elif kind != p.kind:
            bad["kind"] += 1
        elif (text or "").encode("utf-8") != p.expected_text.encode("utf-8"):
            bad["text"] += 1
        elif p.charset and dict(meta or []).get("charset") != p.charset:
            bad["charset"] += 1
    bad["missing"] = sum(1 for u in expected if not seen[u])
    bad["rows"] = len(cols[0])
    return bad


def failures(bad: Dict[str, int]) -> int:
    return sum(v for k, v in bad.items() if k != "rows")


def parquet_bytes(table_dir: str) -> int:
    return sum(os.path.getsize(f)
               for f in glob.glob(os.path.join(table_dir, "part-*")))


def parquet_files(table_dir: str) -> List[str]:
    return sorted(glob.glob(os.path.join(table_dir, "part-*")))


# ------------------------------------------------------------ workloads

class Workload:
    name = ""
    #: job-group phases whose stages run the extraction, and the sink
    extract_phases: tuple = ("extract",)
    sink_phases: tuple = ("extract",)
    #: documents in the code-side traced sample
    sample_size = 200
    #: documents through the measured path in the set-up, made with
    #: WARM_SEED whatever the run's seed, so every set-up does the
    #: same work
    WARM_DOCS = 32
    WARM_SEED = -1

    def __init__(self, seed: int, work: str, seconds: float,
                 trace: bool = False) -> None:
        self.seed = seed
        self.work = work
        self.seconds = seconds
        self.trace = trace
        self.pages: List[Page] = []
        self.in_dir = ""

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def make_pages(self, seed: int, n: int) -> List[Page]:
        raise NotImplementedError

    def generate(self) -> None:
        self.pages = self.make_pages(self.seed, self.n_docs)

    def sample(self) -> List[Page]:
        return self.pages[:self.sample_size]

    def materialize(self) -> None:
        self.in_dir = self.path("in")
        inputs.write_pages(self.pages, self.in_dir, n_files=8)

    def input_file_bytes(self) -> int:
        """On-disk bytes of the pages table the measured jobs scan."""
        return parquet_bytes(self.in_dir)

    def warm(self, spark) -> None:
        """Run the measured path over WARM_DOCS documents: starts the
        Python workers, and the first measured repetition finds its JVM
        code loaded and compiled."""
        src, out = self.path("warm", "in"), self.path("warm", "out")
        inputs.write_pages(self.make_pages(self.WARM_SEED, self.WARM_DOCS),
                           src, n_files=2)
        spark.sparkContext.setJobGroup("setup", "perfbench warm-up")
        self.warm_job(spark, src, out)

    def warm_job(self, spark, src: str, out: str) -> None:
        append_table(extract_documents(read_table(spark, src)), out)

    def rep(self, spark, k: int) -> Rep:
        raise NotImplementedError

    def measure(self, spark) -> List[Rep]:
        """Repeat the job until the run's seconds have passed, stop early
        when the next repetition (predicted to take as long as the last)
        would end more than half a repetition late; run at least one."""
        reps: List[Rep] = []
        t0 = time.monotonic()
        while not reps or (time.monotonic() - t0 + reps[-1].wall / 2
                           < self.seconds):
            reps.append(self.rep(spark, len(reps)))
        return reps

    def group(self, spark, rep, phase: str) -> None:
        """Tag the jobs started next, for the event-log reader."""
        spark.sparkContext.setJobGroup(f"rep{rep}:{phase}", f"perfbench {phase}")

    def classify(self, group: str) -> Optional[Tuple[str, str]]:
        """(rep, phase) of an event-log job group; None for set-up."""
        m = re.fullmatch(r"(rep\d+):(\w+)", group)
        return (m.group(1), m.group(2)) if m else None


class BatchExtract(Workload):
    """`extract_documents` over the pages table, appended to a fresh
    documents table per repetition."""

    def rep(self, spark, k: int) -> Rep:
        out = self.path("out", f"rep{k}")
        self.group(spark, k, "extract")
        cpu0 = procfs.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        append_table(extract_documents(read_table(spark, self.in_dir)), out)
        wall = time.perf_counter() - t0
        cpu = procfs.tree_cpu_s(os.getpid()) - cpu0
        bad = check_documents(out, self.pages)
        n = len(self.pages)
        r = Rep(wall, [bad["rows"] / wall], n, failures(bad),
                inputs.payload_bytes(self.pages), parquet_bytes(out))
        r.layers.update(self._sink_layers(out))
        r.layers["extract.cpu_share"] = cpu / (wall * slots())
        shutil.rmtree(out, ignore_errors=True)
        return r

    def _sink_layers(self, out: str) -> Dict[str, float]:
        return {"sink.out_mb": parquet_bytes(out) / (1 << 20),
                "sink.files": len(parquet_files(out))}


class HtmlCrawl(BatchExtract):
    name = "html_crawl"
    n_docs = 800

    def make_pages(self, seed: int, n: int) -> List[Page]:
        return inputs.html_crawl_pages(seed, n)


class PdfTables(BatchExtract):
    name = "pdf_tables"
    n_docs = 500

    def make_pages(self, seed: int, n: int) -> List[Page]:
        return inputs.pdf_tables_pages(seed, n)


class CrawlJob(BatchExtract):
    """`run_extract_job` partial (limit_buckets) then resumed, then
    `write_table_csvs` over the committed documents table."""

    name = "crawl_job"
    n_docs = 640
    n_buckets = 64
    limit_buckets = 32
    extract_phases = ("partial", "resume")
    sink_phases = ("partial", "resume")

    def make_pages(self, seed: int, n: int) -> List[Page]:
        return inputs.crawl_job_pages(seed, n)

    def warm_job(self, spark, src: str, out: str) -> None:
        # the whole sequence: warmed with one run_extract_job call and
        # the export only, the first repetition still took 36-39 CPU-s
        # against 23-30 for the ones after it
        self._sequence(spark, src, out, out + "_csv")

    def _sequence(self, spark, src: str, out: str, csv_dir: str,
                  k: Optional[int] = None):
        """run_extract_job partial, then resumed, then the CSV export of
        the documents table. Returns (partial result, resume result,
        export manifest, the partial run's files, perf_counter marks at
        start, resume, export and end). k tags the jobs for the event
        log; None leaves the caller's group."""
        docs = os.path.join(out, "documents.parquet")

        def mark(phase: str) -> float:
            if k is not None:
                self.group(spark, k, phase)
            return time.perf_counter()

        t0 = mark("partial")
        r1 = run_extract_job(spark, src, out, run_id="partial",
                             n_buckets=self.n_buckets,
                             limit_buckets=self.limit_buckets)
        t_res = mark("resume")
        partial_files = set(parquet_files(docs))
        r2 = run_extract_job(spark, src, out, run_id="resume",
                             n_buckets=self.n_buckets)
        t_exp = mark("export")
        manifest = write_table_csvs(read_table(spark, docs),
                                    csv_dir).collect()
        return r1, r2, manifest, partial_files, (t0, t_res, t_exp,
                                                 time.perf_counter())

    def rep(self, spark, k: int) -> Rep:
        out = self.path("out", f"rep{k}")
        docs = os.path.join(out, "documents.parquet")
        csv_dir = self.path("out", f"csv{k}")
        tr = tracing.Tracer()
        cpu0 = procfs.tree_cpu_s(os.getpid())
        with tracing.patched(self._lineage_swaps(tr)):
            r1, r2, manifest, partial_files, (t0, t_res, t_exp, t1) = (
                self._sequence(spark, self.in_dir, out, csv_dir, k))
        wall = t1 - t0
        # (wall, documents committed) of each run_extract_job call
        jobs = [(t_res - t0, int(r1["n_docs_run"])),
                (t_exp - t_res, int(r2["n_docs_run"]))]
        cpu = procfs.tree_cpu_s(os.getpid()) - cpu0

        n = len(self.pages)
        bad = check_documents(docs, self.pages)
        lineage = pq.read_table(os.path.join(out, "lineage.parquet"),
                                columns=["n_docs"]).column("n_docs")
        lineage_total = sum(lineage.to_pylist())
        bad["lineage_n_docs"] = abs(lineage_total - n)
        bad["job_n_docs"] = abs(int(r2["n_docs"]) - n)
        bad["export_missing"] = sum(
            1 for m in manifest
            if not os.path.isfile(os.path.join(csv_dir, m["filename"])))
        resume_files = [f for f in parquet_files(docs)
                        if f not in partial_files]
        partial_urls = set()
        for f in partial_files:
            partial_urls.update(pq.read_table(f, columns=["url"])
                                .column("url").to_pylist())
        redo = 0
        for f in resume_files:
            redo += sum(1 for u in pq.read_table(f, columns=["url"])
                        .column("url").to_pylist() if u in partial_urls)
        r = Rep(wall, [d / w for w, d in jobs], n, failures(bad),
                inputs.payload_bytes(self.pages), parquet_bytes(docs))
        r.layers.update(self._sink_layers(docs))
        r.layers.update({
            "resume.redo_docs": redo,
            "resume.skipped_share": int(r1["n_docs_run"]) / n,
            "export.s": t1 - t_exp,
            "export.files": len(manifest),
            "extract.cpu_share": cpu / (wall * slots()),
        })
        if self.trace:
            r.layers["lineage.s"] = tr.total_ms().get("lineage", 0.0) / 1000
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(csv_dir, ignore_errors=True)
        return r

    def _lineage_swaps(self, tr: tracing.Tracer) -> list:
        """While tracing, wrap the job's lineage reads and writes
        (`completed_buckets`, `migrate_lineage` and the lineage append)
        on the `jobs.extract` module as 'lineage' spans."""
        if not self.trace:
            return []
        from pdf_parser_spark.jobs import extract as job

        append = job.append_table
        lineage_append = tr.wrap(append, "lineage")

        def append_table(df, ref, *a, **kw):
            fn = (lineage_append if str(ref).endswith("lineage.parquet")
                  else append)
            return fn(df, ref, *a, **kw)

        return [(job, name, tr.wrap(getattr(job, name), "lineage"))
                for name in ("completed_buckets", "migrate_lineage")
                ] + [(job, "append_table", append_table)]


def _iso(ts: float) -> str:
    """Epoch seconds as a StreamingQueryProgress timestamp string."""
    return (datetime.datetime.fromtimestamp(ts, datetime.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z")


class StreamIngest(Workload):
    """Open loop: one small mixed parquet file lands every INTERVAL_S
    seconds; a parquet `writeStream` over `extract_documents_stream`
    picks them up. Each page's latency runs from when its file was due
    to when the micro-batch holding it committed."""

    name = "stream_ingest"
    #: 85 docs/s; a 12 s run lands 60 files, 1,020 latency samples
    DOCS_PER_FILE = 17
    INTERVAL_S = 0.2
    #: files landed on the same schedule before the timed ones (query
    #: start, first plans), waited for, and not timed
    WARM_FILES = 5
    COMMIT_TIMEOUT_S = 60.0

    def make_pages(self, seed: int, n: int) -> List[Page]:
        return inputs.stream_file_pages(seed, 0, n)

    def generate(self) -> None:
        n_timed = max(1, round(self.seconds / self.INTERVAL_S))
        self.files = [inputs.stream_file_pages(self.seed, f, self.DOCS_PER_FILE)
                      for f in range(self.WARM_FILES + n_timed)]
        self.pages = [p for fp in self.files for p in fp]

    def materialize(self) -> None:
        """Nothing: the stream's inputs land during the measured phase."""

    def input_file_bytes(self) -> int:
        return parquet_bytes(self.landing)

    def measure(self, spark) -> List[Rep]:
        base = self.path("stream")
        landing, sink, ckpt = (os.path.join(base, d)
                               for d in ("in", "out", "ckpt"))
        os.makedirs(landing)
        self.landing = landing
        warm, timed_files = (self.files[:self.WARM_FILES],
                             self.files[self.WARM_FILES:])
        query = (extract_documents_stream(read_pages_stream(spark, landing))
                 .writeStream.format("parquet")
                 .option("path", sink)
                 .option("checkpointLocation", ckpt)
                 .outputMode("append")
                 .start())
        try:
            self._land(landing, warm)
            self._await(sink, {p.url for fp in warm for p in fp})
            cpu0 = procfs.tree_cpu_s(os.getpid())
            due, landed = self._land(landing, timed_files)
            timed = [p for fp in timed_files for p in fp]
            commits = self._await(sink, {p.url for p in timed})
            cpu = procfs.tree_cpu_s(os.getpid()) - cpu0
            progress = [json.loads(p.json) for p in query.recentProgress]
        finally:
            query.stop()
        lat = [commits[p.url] - d
               for d, fp in zip(due, timed_files)
               for p in fp if p.url in commits]
        end = max(commits.values())
        bad = check_documents(sink, self.pages)
        n = len(timed)
        wall = end - due[0]
        batches = [p for p in progress
                   if p.get("numInputRows", 0) > 0 and p["timestamp"] >= _iso(due[0])]
        durs = sorted(p["durationMs"]["triggerExecution"] / 1000
                      for p in batches)
        rows = sorted(p["numInputRows"] for p in batches)
        r = Rep(wall, [n / wall], n, failures(bad),
                inputs.payload_bytes(self.pages), parquet_bytes(sink), lat)
        r.layers.update({
            "stream.batch_p50_s": durs[len(durs) // 2] if durs else 0.0,
            "stream.batch_max_s": durs[-1] if durs else 0.0,
            "stream.rows_per_batch": rows[len(rows) // 2] if rows else 0.0,
            "stream.generator_late_s": max(l - d for l, d in zip(landed, due)),
            "sink.out_mb": parquet_bytes(sink) / (1 << 20),
            "sink.files": len(parquet_files(sink)),
            "extract.cpu_share": cpu / (wall * slots()),
        })
        return [r]

    def classify(self, group: str) -> Optional[Tuple[str, str]]:
        # micro-batch jobs carry the query's run id as their group
        if not group or group == "setup":
            return None
        return "rep0", "extract"

    def _land(self, landing: str, files: List[List[Page]]):
        """Write files[f] at t0 + f * INTERVAL_S; returns (due, landed)
        wall-clock times per file."""
        due, landed = [], []
        t0 = time.time() + self.INTERVAL_S
        for f, pages in enumerate(files):
            d = t0 + f * self.INTERVAL_S
            wait = d - time.time()
            if wait > 0:
                time.sleep(wait)
            inputs.write_pages(pages, landing)
            due.append(d)
            landed.append(time.time())
        return due, landed

    def _await(self, sink: str, urls: set) -> Dict[str, float]:
        """Wait until every url in `urls` is committed; returns url ->
        commit time (mtime of the sink log entry of its batch)."""
        log_dir = os.path.join(sink, "_spark_metadata")
        commit: Dict[str, float] = {}
        read_logs = set()
        deadline = time.monotonic() + self.COMMIT_TIMEOUT_S
        while not urls <= commit.keys():
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
            if not os.path.isdir(log_dir):
                continue
            for name in sorted(os.listdir(log_dir)):
                if name.startswith(".") or name in read_logs:
                    continue
                path = os.path.join(log_dir, name)
                mtime = os.stat(path).st_mtime
                with open(path, encoding="utf-8") as fh:
                    entries = [json.loads(ln) for ln in fh.read().splitlines()[1:]
                               if ln.strip()]
                for e in entries:
                    fpath = urlparse(e["path"]).path
                    for u in pq.read_table(fpath, columns=["url"]).column(
                            "url").to_pylist():
                        commit.setdefault(u, mtime)
                read_logs.add(name)
        return commit


WORKLOADS = {w.name: w for w in (HtmlCrawl, PdfTables, CrawlJob, StreamIngest)}
