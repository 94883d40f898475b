"""The driver-entry phase of the traced run.

Runs a fixed list of `__spark_entry__.queries()` entries on the tables in
perfbench/data/sf0.01 (a copy of the driver's sf0.01 documents, embeddings
and events tables), one entry per engine module it covers. Each entry's
eager `fn(spark, sf_dir)` is timed, then its result is forced through the
noop sink, never `count()` (Catalyst prunes some plans to a parquet row
count under `count()`). Answers are checked against each entry's
`oracle_sql()` twin with tools/check_contract.py's comparison, outside the
timed loop.
"""

from __future__ import annotations

import os

# entry -> the engine module whose public function it calls, in two
# halves of similar cost, one per traced run, so neither run nears the run
# time limit. PLAIN entries compute from the tables, plus the phrase store
# that builds its own index; STORE entries build persisted indexes inside
# fn() -- small ingest batches and merges, micro_ingest's regime. The
# shared store is built by bm25_topk_store, which must come first.
PLAIN = {
    "repetition_stats": "textstats",
    "terms_agg": "aggs",
    "composite_agg": "aggs_bucket",
    "bucket_siblings": "aggs_pipeline",
    "exists_query": "searchapi",
    "exact_duplicates": "dedup",
    "cosine_topk": "similarity",
    "token_chunks": "trainprep",
    "training_corpus": "pipeline",
    "phrase_freqs": "phrase",
    "prefix_match": "prefix",
    "fuzzy_match": "fuzzy",
    "wildcard_match": "wildcard",
    "simple_query_string_and": "querystring",
    "collapse_source": "rerank",
    "percolate_matches": "percolate",
    "image_features": "multimodal",
    "bm25_topk_conjunctive": "query",
    "bm25_phrase_store": "positions",
}
STORE = {
    "bm25_topk_store": "wand",
    "delete_by_query_search": "updates",
    "reindex_search": "reindex",
    "snapshot_restore_search": "snapshot",
    "multi_index_fanout": "fanout",
}
HALVES = {"plain": PLAIN, "store": STORE}
STORE_BUILDERS = set(STORE) | {"bm25_phrase_store"}
MODULES = sorted(set(PLAIN.values()) | set(STORE.values()))
TABLES = ("documents", "embeddings", "events")


def data_dir(root: str) -> str:
    return os.path.join(root, "perfbench", "data", "sf0.01")


class DriverSuite:
    def __init__(self, root: str, half: str):
        self.sf = data_dir(root)
        self.entries = HALVES[half]
        self.frames: dict = {}

    def run(self, spark, ops) -> dict:
        """Time every entry of this half; per-layer metrics for every
        module (0 for the other half's)."""
        import __spark_entry__ as entry

        return _timed(spark, ops, entry.queries(), self.entries, self.sf, self.frames)

    def check(self, errors: list[str]) -> None:
        _check(self.sf, self.frames, errors)



def _timed(spark, ops, qs, entries: dict, sf: str, frames: dict) -> dict:
    per = {m: {"s": 0.0, "jobs": 0} for m in MODULES}
    store_setup = total = 0.0
    for name, module in entries.items():
        df, rec_fn = ops.do(f"suite.{module}", f"{name}.fn", lambda: qs[name](spark, sf))
        if df is None:
            continue
        # cached while forced, so the oracle check reads the rows back
        # instead of running the entry a second time
        df = df.cache()
        _, rec_x = ops.do(f"suite.{module}", f"{name}.noop",
                          lambda: df.write.format("noop").mode("overwrite").save())
        frames[name] = df
        s = rec_fn["s"] + rec_x["s"]
        per[module]["s"] += s
        per[module]["jobs"] += rec_fn.get("jobs", 0) + rec_x.get("jobs", 0)
        total += s
        if name in STORE_BUILDERS:
            store_setup += rec_fn["s"]
    out = {"suite_s": total, "suite.store_setup_s": store_setup}
    for m in MODULES:
        out[f"suite.{m}.s"] = per[m]["s"]
        out[f"suite.{m}.jobs"] = per[m]["jobs"]
    return out


def _check(sf: str, frames: dict, errors: list[str]) -> None:
    """Each timed entry's rows against its oracle_sql() on DuckDB, compared
    the way tools/check_contract.py compares them."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_contract import norm

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf, t)}.parquet')")
        for name, df in frames.items():
            if name not in oracles:
                continue
            rows = [tuple(r) for r in df.collect()]
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if sorted(df.columns) != sorted(dcols) or norm(rows, df.columns) != norm(drows, dcols):
                errors.append(f"driver entry {name} differs from its oracle_sql")
            df.unpersist()
    finally:
        con.close()
