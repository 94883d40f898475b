"""Seeded query mix over Zipf-rank bands of the corpus vocabulary.

Every run cycles through the same class pattern with the same `k` in each
slot, so runs with different seeds send the same share of each class and
of each result size; the seed picks the terms.
"""

from __future__ import annotations

from dataclasses import dataclass

from engine.corpus import HOT_TERM, build_vocab

from perfbench.session import rng

# one pass of the pattern = the run's distinct queries
PATTERN = ("hot", "head", "tail", "multi", "absent",
           "head", "tail", "multi", "multi", "head")
CLASSES = ("hot", "head", "tail", "multi", "absent")
HEAD_RANKS = (1, 60)       # vocabulary ranks of frequent terms
TAIL_RANKS = (1500, 4999)  # rare, but present in a 10k-doc window
KS = (1, 10, 100)


@dataclass(frozen=True)
class Query:
    cls: str
    terms: tuple[str, ...]
    k: int
    conjunctive: bool = False


def query_mix(seed: int, salt: int = 1) -> list[Query]:
    vocab = build_vocab()
    g = rng(seed, salt)

    def band(lo: int, hi: int) -> str:
        return vocab[int(g.integers(lo, hi + 1))]

    out: list[Query] = []
    for i, cls in enumerate(PATTERN):
        k = KS[i % len(KS)]
        if cls == "hot":
            out.append(Query(cls, (HOT_TERM,), k))
        elif cls == "head":
            out.append(Query(cls, (band(*HEAD_RANKS),), k))
        elif cls == "tail":
            out.append(Query(cls, (band(*TAIL_RANKS),), k))
        elif cls == "multi":
            n = int(g.integers(2, 5))
            terms = {band(*HEAD_RANKS)}
            while len(terms) < n:
                terms.add(band(HEAD_RANKS[0], TAIL_RANKS[1]))
            # the second multi query of a pass is conjunctive
            out.append(Query(cls, tuple(sorted(terms)), k,
                             conjunctive=(i == PATTERN.index("multi", 4))))
        else:
            out.append(Query(cls, (f"absent{int(g.integers(0, 10**6))}x",), k))
    return out
