"""Traced-run extras: the layer replay, the query-mix replay and the Spark
event-log split.

The replay pushes one batch of the workload's own corpus through the build
layers one public call at a time, forcing each with a sink, so each layer's
time and jobs stand alone; then it times engine.codecs' numpy kernels on
the very blocks that batch produced.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench.session import CORES, dir_bytes


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def replay_build(wl, spark, ops, n_docs: int) -> dict:
    """One batch (the first `n_docs` rows of the workload's window) through
    extract -> ids -> encode -> segment write -> decode, plus the codec
    kernels on the same blocks. Returns per-layer metrics."""
    import pyarrow.parquet as pq

    from engine.analysis import with_extracted_text
    from engine.codecs import decode_posting_blocks_batch, varint_encode_with_lengths
    from engine.config import DEFAULT_CONFIG, plan_fanout
    from engine.docids import dedup_assign_ids_ranged
    from engine.postings import build_posting_blocks_local, decode_postings
    from engine.segments import IndexStore

    pages = wl.source(spark).where(F.col("row_id") < F.lit(wl.lo + n_docs))
    html_mb = pages.select(F.sum(F.length("html"))).collect()[0][0] / 1e6
    n_parts = plan_fanout(n_docs, DEFAULT_CONFIG.id_task_floor_rows,
                          DEFAULT_CONFIG.rows_per_id_partition, CORES)
    out: dict = {}
    keep: list = []
    try:
        ext = with_extracted_text(pages).drop("html").cache()
        keep.append(ext)
        _, rec = ops.do("analysis", "with_extracted_text", ext.count)
        out["analysis.extract_s"] = rec["s"]
        out["analysis.extract_mb_per_s"] = html_mb / rec["s"]

        good = ext.where(F.col("extract_error").isNull()).drop("extract_error")
        (docs_ided, agg), rec = ops.do(
            "docids", "dedup_assign_ids_ranged",
            lambda: dedup_assign_ids_ranged(
                good, base=0, num_partitions=n_parts, key="url", version_col="warc_ts",
                agg_exprs=(F.sum("n_tokens").alias("_sdl"),), cleanup=keep))
        out["docids.assign_s"], out["docids.jobs"] = rec["s"], rec["jobs"]
        n = int(sum(int(r["_cnt"]) for r in agg))
        sum_dl = int(sum(int(r["_sdl"] or 0) for r in agg))

        blocks = build_posting_blocks_local(
            docs_ided, DEFAULT_CONFIG, text_col="extracted_text",
            num_partitions=n_parts, assume_partitioned=True).cache()
        keep.append(blocks)
        _, rec = ops.do("postings", "build_posting_blocks_local", lambda: _noop(blocks))
        out["postings.encode_s"] = rec["s"]

        store = IndexStore(os.path.join(wl.work, "replay"), "replay").create()
        doc_table = docs_ided.select(
            "doc_id", "url", F.col("n_tokens").cast("long").alias("doc_len"),
            "warc_ts", "lang", "part_id", "row_offset")
        stats = {"segment_id": "seg-replay", "base_doc_id": 0, "doc_id_hwm": n,
                 "n_docs": n, "sum_dl": sum_dl, "batch_id": 0}
        _, rec = ops.do("segments", "write_segment",
                        lambda: store.write_segment("seg-replay", blocks, doc_table, stats))
        seg = store.segment_path("seg-replay")
        out["segments.write_s"] = rec["s"]
        out["segments.files"] = sum(
            1 for _, _, fs in os.walk(seg) for f in fs if f.endswith(".parquet"))
        out["segments.postings_bytes_per_doc"] = dir_bytes(os.path.join(seg, "postings")) / n
        out["segments.docs_bytes_per_doc"] = dir_bytes(os.path.join(seg, "docs")) / n

        _, rec = ops.do("postings", "decode_postings",
                        lambda: _noop(decode_postings(store.postings(spark, ["seg-replay"]))))
        out["postings.decode_s"] = rec["s"]
    finally:
        for df in keep:
            df.unpersist()

    t = pq.read_table(os.path.join(seg, "postings"),
                      columns=["n", "doc_bytes", "tf_bytes", "dl_bytes"])
    ns = t.column("n").to_numpy().astype(np.int64)
    bufs = [t.column(c).to_pylist() for c in ("doc_bytes", "tf_bytes", "dl_bytes")]
    t0 = time.perf_counter()
    docs, tfs, dls = decode_posting_blocks_batch(*bufs, ns)
    out["codecs.decode_s"] = time.perf_counter() - t0
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    deltas = np.diff(docs, prepend=0)
    deltas[starts] = docs[starts]
    t0 = time.perf_counter()
    for v in (deltas, tfs, dls):
        varint_encode_with_lengths(v.astype(np.uint64))
    out["codecs.encode_s"] = time.perf_counter() - t0
    out["postings.arrow_share"] = 1 - out["codecs.encode_s"] / out["postings.encode_s"]
    return out


def replay_queries(wl, ops) -> dict:
    """Per-class latency on each path: the timed loop's samples, plus one
    query per class the loop did not reach, sent to the final reader. Also
    the WAND scan's blocks-scored ratio on a multi-term query (stats_out
    re-runs the scan, so it is taken here, not in the timed loop)."""
    from perfbench.bulk_index import PATHS, ask, asked
    from perfbench.queries import CLASSES

    per: dict[str, dict[str, list]] = {"exact": {}, "wand": {}}
    for path, cls, s in wl.samples:
        per[path].setdefault(cls, []).append(s)
    first = {q.cls: q for q in reversed(wl.queries)}
    for cls in CLASSES:
        if cls in per["exact"] and cls in per["wand"]:
            continue
        q = first[cls]
        for path in PATHS:
            _, rec = ops.do(*PATHS[path], lambda: ask(wl.reader, asked(path, q)))
            per[path].setdefault(cls, []).append(rec["s"])
    so: dict = {}
    q = next(q for q in wl.queries if q.cls == "multi" and not q.conjunctive)
    ops.do("wand", "search_wand_stats", lambda: ask(wl.reader, asked("wand", q), so))
    out = {}
    for path, prefix in (("exact", "query.exact_s"), ("wand", "wand.s")):
        for cls, v in per[path].items():
            out[f"{prefix}.{cls}"] = statistics.median(v)
    cand = so.get("candidate_block_ranges", 0)
    out["wand.blocks_scored_ratio"] = so.get("blocks_scored", 0) / cand if cand else 0.0
    return out


def eventlog_split(work: str, window: tuple[float, float], spans: list[dict]) -> dict:
    """Whole-window job-busy / driver-gap / task-wait from the event log via
    tools/attribute_scaling.py, and each span's in-job vs between-job time
    (written into the span records)."""
    import json

    from tools.attribute_scaling import _lines, _merge_intervals, analyze

    d = os.path.join(work, "events")
    t0, t1 = (int(x * 1000) for x in window)
    a = analyze(d, t0, t1, CORES)
    jobs: dict[int, list] = {}
    for line in _lines(d):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = [ev.get("Submission Time", 0), None]
        elif ev.get("Event") == "SparkListenerJobEnd" and ev.get("Job ID") in jobs:
            jobs[ev["Job ID"]][1] = ev.get("Completion Time")
    iv = [(s, e) for s, e in jobs.values() if e is not None]
    for sp in spans:
        s, e = int(sp["start"] * 1000), int(sp["end"] * 1000)
        clipped = [(max(a_, s), min(b_, e)) for a_, b_ in iv if b_ > s and a_ < e]
        sp["in_job_s"] = _merge_intervals(clipped) / 1000.0
        sp["between_jobs_s"] = (e - s) / 1000.0 - sp["in_job_s"]
    return {
        "spark.job_busy_s": a["job_covered_s"],
        "spark.driver_gap_s": a["driver_gap_s"],
        "spark.task_wait_s": a["sched_overhead_s"],
    }


def print_top_stages(work: str) -> None:
    """tools/parse_eventlog.py's top-stage table, to stderr."""
    import contextlib
    import sys

    from tools import parse_eventlog

    argv = sys.argv
    sys.argv = ["parse_eventlog", os.path.join(work, "events")]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            parse_eventlog.main()
    finally:
        sys.argv = argv
