"""Independent answers for the correctness checks.

`expected_live` applies the ingest contract to the generated pages without
Spark: a page whose html has no <p> block is quarantined, and of pages that
share a url only the latest warc_ts survives. `Bm25Golden` scores queries
over those docs with the engine's BM25 (k1, b, SCORE_DECIMALS rounding,
ties by doc id) after tokenizing the corpus once; `duckdb_topk` runs the
repository's SQL oracle (engine.query.bm25_topk_oracle_sql) on DuckDB.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from engine.analysis import py_tokenize
from engine.config import DEFAULT_CONFIG, SCORE_DECIMALS


def expected_live(pages: pd.DataFrame) -> pd.DataFrame:
    """(url, text, row_id) of the docs a store must hold after a merge."""
    ok = pages[pages["html"].map(lambda h: h is not None and b"<p>" in h)]
    ok = ok.sort_values(["warc_ts", "row_id"]).drop_duplicates("url", keep="last")
    return ok[["url", "text", "row_id"]].reset_index(drop=True)


class Bm25Golden:
    def __init__(self, doc_ids: np.ndarray, texts: list[str], cfg=DEFAULT_CONFIG):
        self.cfg = cfg
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.toks = [py_tokenize(t) for t in texts]
        self.dl = np.array([len(t) for t in self.toks], dtype=np.float64)
        n = len(self.toks)
        self.n = n
        self.avgdl = float(int(self.dl.sum())) / n if n else 0.0
        self._tf: dict[str, np.ndarray] = {}

    def _term_tf(self, terms: set[str]) -> None:
        missing = [t for t in terms if t not in self._tf]
        if not missing:
            return
        cols = {t: np.zeros(self.n) for t in missing}
        want = set(missing)
        for i, tk in enumerate(self.toks):
            for w in want.intersection(tk):
                cols[w][i] = tk.count(w)
        self._tf.update(cols)

    def topk(self, terms, k: int, conjunctive: bool = False) -> list[tuple[int, float]]:
        cfg = self.cfg
        q = sorted(set(terms))
        self._term_tf(set(q))
        score = np.zeros(self.n)
        matched = np.zeros(self.n, dtype=np.int64)
        norm = cfg.k1 * (1 - cfg.b + cfg.b * self.dl / self.avgdl)
        for t in q:
            tf = self._tf[t]
            df = int((tf > 0).sum())
            if df == 0:
                continue
            idf = math.log(1 + (self.n - df + 0.5) / (df + 0.5))
            hit = tf > 0
            score[hit] += idf * tf[hit] / (tf[hit] + norm[hit])
            matched += hit
        need = len(q) if conjunctive else 1
        idx = np.flatnonzero(matched >= need)
        rows = [(int(self.doc_ids[i]), round(float(score[i]), SCORE_DECIMALS))
                for i in idx]
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:k]


def duckdb_topk(docs: pd.DataFrame, terms, k: int, conjunctive: bool = False):
    """docs: (doc_id, text). The repository's SQL oracle, run on DuckDB."""
    import duckdb

    from engine.query import bm25_topk_oracle_sql

    con = duckdb.connect()
    try:
        con.register("documents", docs[["doc_id", "text"]])
        sql = bm25_topk_oracle_sql(list(terms), k=k, conjunctive=conjunctive)
        return [(int(d), float(s)) for d, s in con.execute(sql).fetchall()]
    finally:
        con.close()


def first_difference(got: list, want: list) -> str:
    """Where two ranked answers part, for the error line."""
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"rank {i}: got {g}, want {w}"
    return f"lengths {len(got)} vs {len(want)}"


def rows_of(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
