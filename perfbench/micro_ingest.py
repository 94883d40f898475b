"""micro_ingest: the reference consumer's shape on a changing store.

Starting from an empty store, each step ingests one ~2k-doc offset window,
refreshes the reader, answers one query on each read path, then runs the
tiered merge policy and tombstones a seeded tail term every second step.
Per-job fixed cost sets the time here, merges cause spikes, and reads run
over several segments and a growing tombstone set.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from perfbench import golden
from perfbench.bulk_index import PATHS, ask, asked
from perfbench.queries import query_mix
from perfbench.session import CORES, dir_bytes, rng, seeded_window, write_corpus

WINDOW_DOCS = 1_500
MIN_WINDOWS = 3
MAX_WINDOWS = 4     # the corpus holds this many windows
MERGE_FACTOR = 2    # two same-tier segments merge
DELETE_EVERY = 2
PARTITIONS = CORES


class MicroIngest:
    name = "micro_ingest"
    driver_entries = "store"  # the traced run's half of the driver entries

    def __init__(self, work: str, seed: int):
        from engine.corpus import build_vocab

        self.work = work
        self.seed = seed
        self.lo = seeded_window(seed, WINDOW_DOCS * MAX_WINDOWS)
        self.corpus_path = os.path.join(work, "corpus")
        self.queries = query_mix(seed, salt=2)
        vocab = build_vocab()
        g = rng(seed, 3)
        self.delete_terms = [vocab[int(g.integers(300, 1500))] for _ in range(MAX_WINDOWS)]
        self.answers: dict[tuple, list] = {}
        self.samples: list[tuple[str, str, float]] = []  # (path, class, s)
        self.replay_docs = WINDOW_DOCS

    def prepare(self, spark) -> None:
        write_corpus(spark, self.corpus_path, self.lo, WINDOW_DOCS * MAX_WINDOWS)

    def source(self, spark):
        from engine.ingest import as_partitioned_source

        return as_partitioned_source(spark.read.parquet(self.corpus_path), PARTITIONS)

    def run(self, spark, calls, seconds: float, ops) -> dict:
        from engine.ingest import ingest_batch
        from engine.merge import maybe_merge
        from engine.query import IndexReader
        from engine.segments import IndexStore
        from engine.updates import delete_by_query

        src = self.source(spark)
        self.store = store = IndexStore(os.path.join(self.work, "stores"), "micro").create()
        hwm = {p: self.lo // PARTITIONS - 1 for p in range(PARTITIONS)}
        rpp = WINDOW_DOCS // PARTITIONS
        self.reader = None
        docs = 0
        fresh, lat, merges = [], {"exact": [], "wand": []}, []
        self.excluded, self.live_segs = [], []
        self.batch_metrics = []
        self.written = {"ingest": 0, "merge": 0}
        t_start = time.perf_counter()
        w = 0
        while w < MAX_WINDOWS and (w < MIN_WINDOWS or time.perf_counter() - t_start < seconds):
            res, _ = ops.do("ingest", "ingest_batch",
                            lambda: ingest_batch(spark, store, src, w, hwm, rpp),
                            retries=1)
            if res is None:
                raise RuntimeError(f"micro_ingest: window {w} failed twice")
            docs += res.n_docs
            self.batch_metrics.append(res.metrics)
            self.written["ingest"] += dir_bytes(store.segment_path(res.segment_id))
            hwm = store.committed_offsets()
            t_ret = time.perf_counter()
            if self.reader is None:
                self.reader, _ = ops.do("query", "open", lambda: IndexReader(spark, store))
            else:
                ops.do("query", "refresh", self.reader.refresh)
            self.reader_view = self.store_view()
            q = self.queries[w % len(self.queries)]
            self.answers = {}  # only the latest state's answers are checkable
            for path in PATHS:
                key = asked(path, q)
                rows, rec = ops.do(*PATHS[path], lambda: ask(self.reader, key), req=w)
                if path == "exact":
                    fresh.append(time.perf_counter() - t_ret)
                lat[path].append(rec["s"] * 1000)
                self.samples.append((path, q.cls, rec["s"]))
                self.answers[key] = rows
            self.excluded.append(len(self.reader.deleted))
            self.live_segs.append(len(store.live_segments()))
            # the merge policy and deletes run after the step's reads, the
            # way a refresh does not wait for background merges
            merged, rec = ops.do("merge", "maybe_merge",
                                 lambda: maybe_merge(spark, store, merge_factor=MERGE_FACTOR))
            rec["merged"] = merged is not None
            if merged is not None:
                merges.append(rec["s"])
                self.written["merge"] += dir_bytes(store.segment_path(merged))
            if (w + 1) % DELETE_EVERY == 0:
                n, rec = ops.do("updates", "delete_by_query",
                                lambda: delete_by_query(spark, store, [self.delete_terms[w]]))
                rec["n_deleted"] = n or 0
            w += 1
        self.last_query = q
        write = [r["s"] for r in calls.records
                 if (r["layer"], r["name"]) in {("ingest", "ingest_batch"),
                                                ("merge", "maybe_merge"),
                                                ("updates", "delete_by_query")}]
        live_bytes = sum(dir_bytes(store.segment_path(s)) for s in store.live_segments())
        return {
            "docs": docs,
            "ingest_s": sum(r["s"] for r in calls.of("ingest", "ingest_batch")),
            "write_s": sum(write),
            "merge_s": merges,
            "live_bytes": live_bytes,
            "live_docs": store.global_stats()["n_docs"],
            "fresh_s": fresh,
            "exact_ms": lat["exact"],
            "wand_ms": lat["wand"],
        }

    def store_view(self) -> tuple:
        return (tuple(self.store.live_segments()),
                tuple(e.entry_id for e in self.store.active_delete_entries()))

    def replay_updates(self, spark, ops) -> None:
        """The loop already deletes and refreshes."""

    def check(self, spark, errors) -> None:
        """The last step's answers (the store's final state, both paths) and
        one more exact query against the pandas oracle: every doc stored in a live segment
        counts toward the stats (tombstoned ones too, until a merge expunges
        them); only untombstoned docs may be returned."""
        import pyarrow.parquet as pq

        from engine.oracle import bm25_topk_pandas

        store = self.store
        if self.store_view() != self.reader_view:
            # the last step's merge or delete came after its reads
            self.reader.refresh()
            self.answers = {}
        pages = pd.read_parquet(self.corpus_path, columns=["url", "text", "warc_ts"])
        pages = pages.sort_values("warc_ts").drop_duplicates("url", keep="last")
        stored = pd.concat(
            [pq.read_table(os.path.join(store.segment_path(s), "docs"),
                           columns=["doc_id", "url"]).to_pandas()
             for s in store.live_segments()], ignore_index=True)
        docs = stored.merge(pages[["url", "text"]], on="url")
        tomb: set[int] = set()
        for e in store.active_delete_entries():
            path = os.path.join(store.path, e.metrics["deletes_dir"])
            tomb |= set(pq.read_table(path, columns=["doc_id"]).column(0).to_pylist())
        tomb &= set(docs["doc_id"])
        live = set(docs["doc_id"]) - tomb
        if set(self.reader.deleted) != tomb:
            errors.append("micro_ingest: the reader's excluded set differs from the tombstones")
        last = self.last_query
        extra = next(q for q in self.queries if q.cls == "head" and q != last)
        for q, paths in ((last, PATHS), (extra, ("exact",))):
            for path in paths:
                if asked(path, q) not in self.answers:
                    self.answers[asked(path, q)] = ask(self.reader, asked(path, q))
        wants: dict[tuple, list] = {}
        for q in (last, extra):
            for path in PATHS:
                key = asked(path, q)
                if key not in self.answers:
                    continue
                if key[1:] not in wants:
                    wants[key[1:]] = bm25_topk_pandas(
                        docs[["doc_id", "text"]], list(q.terms), k=q.k,
                        live_ids=live, conjunctive=key[3])
                if self.answers[key] != wants[key[1:]]:
                    errors.append(f"micro_ingest: {path} {q} differs from the pandas oracle, "
                                  + golden.first_difference(self.answers[key], wants[key[1:]]))
