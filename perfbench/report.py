"""Metric assembly and the result line.

End-to-end metrics (untraced runs) are the same set on every workload; the
per-layer metrics (traced runs) are the same set too, a layer a workload
does not call reading 0.
"""

from __future__ import annotations

import json
import statistics
import sys

from perfbench.harness import summarize

E2E_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "doc/s",
    "merge_s": "s",
    "index_bytes_per_doc": "B/doc",
    "freshness_s": "s",
    "query_p50_ms": "ms",
    "peak_rss_mb": "MiB",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(wl, out: dict, setup_times: list[float], peak_mb: float) -> dict:
    v = {
        "setup_s": _med(setup_times),
        "build_docs_per_s": out["docs"] / out["ingest_s"],
        "merge_s": _med(out["merge_s"]),
        "index_bytes_per_doc": out["live_bytes"] / out["live_docs"],
        "freshness_s": _med(out["fresh_s"]),
        "query_p50_ms": _med(out["exact_ms"] + out["wand_ms"]),
        "peak_rss_mb": peak_mb,
    }
    return {k: {"value": v[k], "unit": u} for k, u in E2E_UNITS.items()}


def print_details(wl, out: dict, setup_times, ops, calls) -> None:
    """Human-readable lines: sample counts, tails, and the figures the
    metric set folds together."""
    print(f"# workload {wl.name}: seed {wl.seed}, row window from {wl.lo}")
    print(f"# setup rounds s: {', '.join(f'{t:.3f}' for t in setup_times)}")
    for path in ("exact", "wand"):
        s = summarize(out[f"{path}_ms"])
        tail = (f"p{s['tail_pct']} {s['tail']:.1f} ms" if s["tail"] is not None
                else "no tail (fewer than 20 samples)")
        print(f"# {path}: n={s['n']} p50 {s['p50']:.1f} ms, {tail}; "
              f"in order: {' '.join(f'{x:.0f}' for x in out[f'{path}_ms'])}")
    batches = [r["s"] for r in calls.of("ingest", "ingest_batch")]
    print(f"# ingest_batch calls: {len(batches)}, p50 {_med(batches):.3f} s")
    print(f"# merges: {len(out['merge_s'])}, freshness samples: {len(out['fresh_s'])}")
    if getattr(wl, "excluded", None):
        print(f"# per step: excluded docs {wl.excluded}, live segments {wl.live_segs}")
    print(f"# ops attempted {ops.attempted}, failed {ops.failed}, "
          f"error_rate {ops.failed / max(ops.attempted, 1):.4f}")


def per_layer(wl, calls, ops, n_run: int, out: dict, extra: dict) -> dict:
    """`n_run`: number of call records made by the timed loop (the replay
    and driver-entry phases come after)."""
    run = calls.records[:n_run]

    def calls_of(layer, name=None, recs=calls.records):
        return [r for r in recs if r["layer"] == layer
                and (name is None or r["name"] == name)]

    ing = calls_of("ingest", "ingest_batch", run)
    merged = [r for r in calls_of("merge", recs=run) if r.get("merged")]
    dels = calls_of("updates", "delete_by_query")
    bm = wl.batch_metrics
    m = {
        "ingest.batch_s": _med(r["s"] for r in ing),
        "ingest.jobs_per_batch": _med(r["jobs"] for r in ing),
        "ingest.stages_per_batch": _med(r["stages"] for r in ing),
        "ingest.tasks_per_batch": _med(r["tasks"] for r in ing),
        "ingest.extract_s": _med(b.get("extract_sec", 0) for b in bm),
        "ingest.ids_s": _med(b.get("ids_sec", 0) for b in bm),
        "ingest.build_write_s": _med(b.get("build_write_sec", 0) for b in bm),
        "merge.s": _med(r["s"] for r in merged),
        "merge.jobs": _med(r["jobs"] for r in merged),
        "merge.count": len(merged),
        "merge.write_amp": wl.written["merge"] / wl.written["ingest"],
        "query.open_s": _med(r["s"] for r in calls_of("query", "open")),
        "query.open_jobs": _med(r["jobs"] for r in calls_of("query", "open")),
        "query.refresh_s": _med(r["s"] for r in calls_of("query", "refresh")),
        "query.refresh_jobs": _med(r["jobs"] for r in calls_of("query", "refresh")),
        "query.exact_jobs": _med(r["jobs"] for r in calls_of("query", "search", run)),
        "query.excluded_docs": len(wl.reader.deleted),
        "query.live_segments": len(wl.store.live_segments()),
        "wand.jobs": _med(r["jobs"] for r in calls_of("wand", "search_wand", run)),
        "updates.delete_s": _med(r["s"] for r in dels),
        "updates.delete_jobs": _med(r["jobs"] for r in dels),
        "updates.n_deleted": sum(r.get("n_deleted", 0) for r in dels),
        "spark.jobs": sum(r["jobs"] for r in run),
        "spark.stages": sum(r["stages"] for r in run),
        "spark.tasks": sum(r["tasks"] for r in run),
        "spark.failed_tasks": sum(r["failed_tasks"] for r in run),
        "error_rate": ops.failed / max(ops.attempted, 1),
        "trace.accounting_s": calls.account_s,
        "traced.write_s": out["write_s"],
        "traced.freshness_s": _med(out["fresh_s"]),
        "traced.exact_p50_ms": _med(out["exact_ms"]),
        "traced.wand_p50_ms": _med(out["wand_ms"]),
    }
    m.update(extra)
    return {k: {"value": float(m[k]), "unit": _unit(k)} for k in sorted(m)}


def _unit(name: str) -> str:
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")) or "_s." in name or ".s." in name:
        return "s"
    if name.endswith("_per_doc"):
        return "B/doc"
    if name.endswith(("share", "ratio", "amp", "error_rate")):
        return "ratio"
    return "count"


def print_result(correct: bool, ops, metrics: dict) -> None:
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": bool(correct), "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    sys.stdout.flush()
