"""bulk_index: bulk build, one forcemerge, then a closed-loop query mix.

The build runs as a few large offset windows, and the query layers read one
merged segment with no tombstones, so build and read changes each show on
their own metrics.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from perfbench import golden
from perfbench.queries import query_mix
from perfbench.session import CORES, dir_bytes, rng, seeded_window, write_corpus

DOCS = 6_000
BATCHES = 2
PARTITIONS = CORES  # as_partitioned_source partitions (the Kafka-partition analog)
MIN_QUERIES = 3     # per path, whatever --seconds says
PATHS = {"exact": ("query", "search"), "wand": ("wand", "search_wand")}


class BulkIndex:
    name = "bulk_index"
    driver_entries = "plain"  # the traced run's half of the driver entries

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.lo = seeded_window(seed, DOCS)
        self.corpus_path = os.path.join(work, "corpus")
        self.queries = query_mix(seed)
        self.answers: dict[tuple, list] = {}
        self.samples: list[tuple[str, str, float]] = []  # (path, class, s)
        self.replay_docs = DOCS // BATCHES

    def prepare(self, spark) -> None:
        write_corpus(spark, self.corpus_path, self.lo, DOCS)

    def source(self, spark):
        from engine.ingest import as_partitioned_source

        return as_partitioned_source(spark.read.parquet(self.corpus_path), PARTITIONS)

    def run(self, spark, calls, seconds: float, ops) -> dict:
        from engine.ingest import ingest_batch
        from engine.merge import merge_segments
        from engine.query import IndexReader
        from engine.segments import IndexStore

        src = self.source(spark)
        self.store = store = IndexStore(os.path.join(self.work, "stores"), "bulk").create()
        hwm = {p: self.lo // PARTITIONS - 1 for p in range(PARTITIONS)}
        rpp = DOCS // (PARTITIONS * BATCHES)
        committed = 0
        self.batch_metrics = []
        for b in range(BATCHES):
            res, _ = ops.do("ingest", "ingest_batch",
                            lambda: ingest_batch(spark, store, src, b, hwm, rpp),
                            retries=1)
            if res is None:
                raise RuntimeError(f"bulk_index: batch {b} failed twice")
            committed += res.n_docs
            self.batch_metrics.append(res.metrics)
            hwm = store.committed_offsets()
        t_ret = time.perf_counter()
        ingest_bytes = dir_bytes(os.path.join(store.path, "segments"))
        _, merge_rec = ops.do("merge", "merge_segments", lambda: merge_segments(spark, store))
        merge_rec["merged"] = True
        live_bytes = sum(dir_bytes(store.segment_path(s)) for s in store.live_segments())
        self.written = {"ingest": ingest_bytes, "merge": live_bytes}
        self.reader, _ = ops.do("query", "open", lambda: IndexReader(spark, store))
        lat = self.query_loop(ops, seconds)
        ingest_s = sum(r["s"] for r in calls.of("ingest", "ingest_batch"))
        return {
            "docs": committed,
            "ingest_s": ingest_s,
            "write_s": ingest_s + merge_rec["s"],
            "merge_s": [merge_rec["s"]],
            "live_bytes": live_bytes,
            "live_docs": store.global_stats()["n_docs"],
            "fresh_s": [self.first_answer - t_ret],
            "exact_ms": lat["exact"],
            "wand_ms": lat["wand"],
        }

    def query_loop(self, ops, seconds: float) -> dict:
        """Closed loop, one client: each query of the mix goes to the exact
        path, then to WAND; the next request leaves when the last returned."""
        lat = {"exact": [], "wand": []}
        self.first_answer = None
        deadline = time.perf_counter() + seconds
        i = 0
        while (time.perf_counter() < deadline
               or min(len(v) for v in lat.values()) < MIN_QUERIES):
            q = self.queries[i % len(self.queries)]
            i += 1
            for path in PATHS:
                key = asked(path, q)
                rows, rec = ops.do(*PATHS[path], lambda: ask(self.reader, key), req=i)
                if self.first_answer is None:
                    self.first_answer = time.perf_counter()
                lat[path].append(rec["s"] * 1000)
                self.samples.append((path, q.cls, rec["s"]))
                if rows is not None:
                    self.answers.setdefault(key, rows)
        return lat

    def replay_updates(self, spark, ops) -> None:
        """Traced run only: one delete_by_query, a reader refresh and a
        query, so the updates layer and refresh are measured here too."""
        from engine.corpus import build_vocab
        from engine.updates import delete_by_query

        term = build_vocab()[int(rng(self.seed, 4).integers(300, 1500))]
        n, rec = ops.do("updates", "delete_by_query",
                        lambda: delete_by_query(spark, self.store, [term]))
        rec["n_deleted"] = n or 0
        ops.do("query", "refresh", self.reader.refresh)
        q = self.queries[1]
        ops.do(*PATHS["exact"], lambda: ask(self.reader, asked("exact", q)))

    def check(self, spark, errors) -> None:
        """Doc count after quarantine and last-write-wins; every distinct
        query's top-k against the golden; exact and WAND rank-identical; one
        query (rotated by seed) through the repository's DuckDB SQL oracle."""
        import pyarrow.parquet as pq

        pages = pd.read_parquet(self.corpus_path,
                                columns=["row_id", "url", "warc_ts", "html", "text"])
        live = golden.expected_live(pages)
        n_docs = self.reader.stats["n_docs"]
        if n_docs != len(live):
            errors.append(f"bulk_index: store holds {n_docs} docs, expected {len(live)}")
        seg = self.store.live_segments()
        ids = pq.read_table(os.path.join(self.store.segment_path(seg[0]), "docs"),
                            columns=["doc_id", "url"]).to_pandas()
        docs = ids.merge(live, on="url", how="inner")
        if len(docs) != len(live):
            errors.append(f"bulk_index: {len(live) - len(docs)} live urls missing")
        gold = golden.Bm25Golden(docs["doc_id"].to_numpy(), list(docs["text"]))
        for key, rows in self.answers.items():
            path, terms, k, conj = key
            want = gold.topk(terms, k, conj)
            if rows != want:
                errors.append(f"bulk_index: {path} {terms} k={k} conj={conj} differs "
                              "from the golden, " + golden.first_difference(rows, want))
        for q in self.queries:
            if not q.conjunctive and (self.answers.get(asked("exact", q))
                                      != self.answers.get(asked("wand", q))):
                errors.append(f"bulk_index: exact and wand differ on {q}")
        q = [q for q in self.queries if q.cls != "absent"][self.seed % 9]
        if golden.duckdb_topk(docs, q.terms, q.k, q.conjunctive) != gold.topk(
                q.terms, q.k, q.conjunctive):
            errors.append(f"bulk_index: golden disagrees with the SQL oracle on {q}")


def asked(path: str, q) -> tuple:
    """(path, terms, k, conjunctive) as sent: search_wand has no conjunctive
    mode, so the WAND side sends a conjunctive query's terms disjunctively."""
    return (path, q.terms, q.k, q.conjunctive and path == "exact")


def ask(reader, key: tuple, stats_out: dict | None = None):
    path, terms, k, conj = key
    if path == "exact":
        df = reader.search(list(terms), k=k, conjunctive=conj)
    else:
        df = reader.search_wand(list(terms), k=k, strategy="wand", stats_out=stats_out)
    return golden.rows_of(df)
