"""Extraction benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics (Spark event
log plus a traced single-threaded loop). Every metric is also printed
by name with its unit on the lines before it. The exit code is 0 when
every committed document matched the generator's record, 1 when one
did not, 2 when the repository is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "docs_per_s": "1/s", "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio", "setup_s": "s",
}
#: open-loop workloads only: a batch job's documents all wait for the
#: whole job, so there the latency is one number, the job wall
LATENCY = {"latency_p50_s": "s", "latency_p99_s": "s"}

PER_LAYER_UNITS = {
    "sources.scan_s": "s", "sources.read_mb": "MB",
    "extract.shuffle_write_mb": "MB", "extract.shuffle_fetch_wait_s": "s",
    "extract.task_p50_s": "s", "extract.task_max_s": "s",
    "extract.tail_share": "share", "extract.heavy_tier_docs": "count",
    "extract.py_start_s": "s", "extract.py_run_s": "s",
    "extract.to_py_mb": "MB", "extract.from_py_mb": "MB",
    "extract.gc_s": "s", "extract.cpu_share": "share",
    "extract.parallel_efficiency": "share",
    "pdf.text_ms": "ms", "pdf.metadata_ms": "ms",
    "pdf.opens_per_doc": "count", "pdf.page_content_per_page": "count",
    "pdf.pages_per_doc": "count",
    "tables.ms": "ms", "tables.per_doc": "count", "tables.kept_share": "share",
    "charset.ms": "ms", "html.ms": "ms", "html.blocks_per_doc": "count",
    "html.kept_block_share": "share",
    "clean.ms": "ms", "chunk.ms": "ms", "chunk.per_doc": "count",
    "doc.ms_p50": "ms", "doc.ms_p99": "ms", "doc.serial_docs_per_s": "1/s",
    "sink.write_s": "s", "sink.out_mb": "MB", "sink.files": "count",
    "resume.redo_docs": "count", "resume.skipped_share": "share",
    "lineage.s": "s", "export.s": "s", "export.files": "count",
    "stream.batch_p50_s": "s", "stream.batch_max_s": "s",
    "stream.rows_per_batch": "count", "stream.generator_late_s": "s",
    "trace.overhead_share": "share",
}


def percentile(values, q: float) -> float:
    """q-th quantile (0..1) of values, nearest rank."""
    values = sorted(values)
    return values[max(1, int(round(q * len(values)))) - 1]


def stop_tree(timeout: float = 30.0) -> None:
    """Stop the JVM PySpark launched and wait until no process this
    one started is alive."""
    from pyspark import SparkContext

    from perfbench import procfs

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    me = os.getpid()
    while True:
        left = [p for p in procfs.tree_pids(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
        for p in left:  # reap direct children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def run(args, root: str, work: str) -> int:
    from perfbench import eventlog, procfs, session, tracing
    from perfbench.workloads import WORKLOADS

    session.prepare_env(root, work)
    trace = bool(args.trace)
    wl = WORKLOADS[args.workload](args.seed, work, args.seconds, trace=trace)
    wl.generate()
    event_dir = os.path.join(work, "eventlog") if trace else None
    me = os.getpid()
    sampler = procfs.RssSampler(me).start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.start(root, work, event_dir)
        t_session = time.perf_counter()
        wl.materialize()
        t_inputs = time.perf_counter()
        wl.warm(spark)
        t_warm = time.perf_counter()
        setup_s = t_warm - t0
        setup_parts = (t_session - t0, t_inputs - t_session, t_warm - t_inputs)
        sampler.reset()
        load_before = procfs.load1()
        steal0 = procfs.steal_jiffies()
        reps = wl.measure(spark)
        steal1 = procfs.steal_jiffies()
        steal = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
        peak_mb = sampler.peak_mb()
        peak_by_comm = {k: round(v / (1 << 20)) for k, v in
                        sampler.peak_by_comm.items()}
        in_file_bytes = wl.input_file_bytes()
        spark.stop()
        spark = None
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()
        stop_tree()

    attempted = sum(r.attempted for r in reps)
    failed = sum(r.failed for r in reps)
    slots = session.slots()
    docs_per_s = statistics.median(x for r in reps for x in r.rates)
    e2e = {
        "docs_per_s": docs_per_s,
        "peak_rss_mb": peak_mb,
        "out_bytes_per_in_byte":
            statistics.median(r.out_bytes / r.in_bytes for r in reps),
        "setup_s": setup_s,
    }
    units = dict(END_TO_END)
    lat = [x for r in reps for x in r.latencies]
    if lat:
        e2e["latency_p50_s"] = percentile(lat, 0.50)
        e2e["latency_p99_s"] = percentile(lat, 0.99)
        units.update(LATENCY)
    print(f"# workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} local[{slots}] "
          f"nproc={os.cpu_count()} load1={load_before:.2f} "
          f"steal_share={steal:.3f} "
          f"rep_walls={['%.2f' % r.wall for r in reps]} "
          f"latency_samples={len(lat)} "
          f"setup_s={setup_s:.2f} (session, inputs, warm-up: "
          f"{', '.join('%.2f' % x for x in setup_parts)}) "
          f"peak_rss_mb_by_command={peak_by_comm}"
          + "".join(f" generator_late_s={r.layers['stream.generator_late_s']:.3f}"
                    for r in reps if "stream.generator_late_s" in r.layers))
    print(f"fail_share = {failed / attempted:.6f} share "
          f"({failed} of {attempted} documents)")
    if trace:
        layers = {k: 0.0 for k in PER_LAYER_UNITS}
        layers.update(eventlog.per_rep(event_dir, slots, wl.classify,
                                       wl.extract_phases, wl.sink_phases))
        # rows the scans read, as bytes of the pages table they come from
        layers["sources.read_mb"] = (layers.pop("sources.rows_read")
                                     / len(wl.pages) * in_file_bytes / (1 << 20))
        for key in {k for r in reps for k in r.layers}:
            layers[key] = statistics.median(r.layers.get(key, 0.0)
                                            for r in reps)
        layers.update(tracing.layer_metrics(wl.sample()))
        layers["extract.parallel_efficiency"] = (
            docs_per_s / (slots * layers["doc.serial_docs_per_s"]))
        for k, v in e2e.items():
            print(f"{k} = {v:.6g} {units[k]} (traced run)")
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in e2e.items()}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["html_crawl", "pdf_tables", "crawl_job",
                             "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, "pdf_parser_spark",
                                       "__init__.py")):
        print("perfbench: pdf_parser_spark/ not found next to perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-"
                        f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
