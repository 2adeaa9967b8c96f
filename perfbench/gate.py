"""Correctness gate: expected top-k from the pure-Python oracles.

Every workload records the results of a seeded sample of its operations
and checks them here after its timed window.  A result passes when its
doc ids equal the oracle's in rank order and every score matches to a
relative 1e-9.  The oracles are ``oracle.bm25.BM25Oracle`` (exact BM25)
and ``oracle.fuzzy`` (fuzziness AUTO), with the Searcher's
``fuzzy_max_expansions`` cap applied the way the Searcher applies it:
only the closest expansions, ties broken by term, contribute.
"""

from __future__ import annotations

import math

from oracle.bm25 import BM25Oracle
from oracle.fuzzy import expand
from sparkfts.analysis import tokenize_query


class Expect:
    """Oracle answers over one document set.

    ``deleted``: ids excluded from results but still counted in the
    statistics (tombstone semantics before a merge).
    """

    def __init__(self, ids, texts, deleted=(), langs=None) -> None:
        self.oracle = BM25Oracle(zip(ids, texts))
        self.deleted = set(deleted)
        self.lang = dict(zip(ids, langs)) if langs is not None else {}
        self._exp: dict[str, list[tuple[str, int]]] = {}
        self._dictionary = None

    def _keep(self, scored, k, lang=None):
        out = [
            (d, s) for d, s in scored
            if d not in self.deleted and (lang is None or self.lang[d] == lang)
        ]
        return out[:k]

    def bm25(self, text: str, k: int, mode: str = "and", lang=None):
        scored = self.oracle.search(text, k=self.oracle.n_docs, mode=mode)
        return self._keep(scored, k, lang)

    def fuzzy(self, text: str, k: int, mode: str = "and",
              max_expansions: int | None = None):
        o = self.oracle
        terms = tokenize_query(text)
        if not terms:
            return []
        if self._dictionary is None:
            self._dictionary = list(o.postings)
        exps = {}
        for t in terms:
            if t not in self._exp:
                self._exp[t] = expand(t, self._dictionary)
            e = sorted(self._exp[t], key=lambda x: (x[1], x[0]))
            exps[t] = e[:max_expansions] if max_expansions else e
        per_term = []
        for t in terms:
            docs: set[int] = set()
            for tp, _ in exps[t]:
                docs.update(o.postings.get(tp, ()))
            per_term.append(docs)
        cand = (set.intersection(*per_term) if mode == "and"
                else set().union(*per_term))
        scored = []
        for d in cand:
            norm = o.k1 * (1.0 - o.b + o.b * o.doclen[d] / o.avgdl)
            s = 0.0
            for t in terms:
                best = 0.0
                for tp, dist in exps[t]:
                    tf = o.postings.get(tp, {}).get(d, 0)
                    if tf:
                        c = ((1.0 - dist / len(t)) * o.idf(tp)
                             * (tf / (tf + norm)) * (o.k1 + 1.0))
                        best = max(best, c)
                s += best
            scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return self._keep(scored, k)


def same(got: list[tuple[int, float]], exp: list[tuple[int, float]]) -> bool:
    """Rank identity: equal doc ids in order, scores equal to 1e-9."""
    if [d for d, _ in got] != [d for d, _ in exp]:
        return False
    return all(
        math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
        for (_, a), (_, b) in zip(got, exp)
    )


def by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """Searcher rows ``(qid, rank, doc_id, score)`` -> qid -> ranked hits."""
    out: dict[int, list] = {}
    for qid, _rank, d, s in sorted(rows, key=lambda r: (r[0], r[1])):
        out.setdefault(qid, []).append((d, s))
    return out
