"""Numpy scoring kernels: intersection, exhaustive BM25, fuzzy groups.

These run inside Arrow-batched grouped-map UDFs (one call per index
shard), so everything is vectorized numpy over decoded posting arrays —
no per-row Python (BASELINE.json ``input_hint``).

Posting lists arrive as aligned triples ``(doc_ids, tfs, doclens)`` —
doclens ride with the postings (the 'norms' are inlined at ~1 varint
byte/posting) so scoring needs no side lookup into a doc table.

Determinism: per-document scores accumulate in sorted-term order with
float64, matching ``oracle/bm25.py`` bit-for-bit; local top-k selection
uses the pinned ``(-score, doc_id asc)`` order.
"""

from __future__ import annotations

import numpy as np

from sparkfts import BM25_B, BM25_K1

Postings = tuple[np.ndarray, np.ndarray, np.ndarray]  # (doc_ids, tfs, doclens)

_EMPTY = (np.empty(0, np.int64), np.empty(0, np.float64))


def _after_mask(
    doc_ids: np.ndarray, scores: np.ndarray, after: tuple[float, int]
):
    """search_after cursor: keep docs strictly AFTER (score, doc_id) in
    the pinned (-score, doc_id asc) order. Cursor scores come from the
    same kernels, so float equality is bit-exact across pages."""
    s, d = float(after[0]), int(after[1])
    keep = (scores < s) | ((scores == s) & (doc_ids > d))
    return doc_ids[keep], scores[keep]


def exclude_mask(doc_ids: np.ndarray, exclude: np.ndarray) -> np.ndarray:
    """Boolean keep-mask: True where doc_id is NOT in the sorted
    ``exclude`` array (tombstoned docs — sparkfts.deletes)."""
    pos = np.searchsorted(exclude, doc_ids)
    pos_c = np.minimum(pos, exclude.size - 1)
    return exclude[pos_c] != doc_ids


def include_mask(doc_ids: np.ndarray, include: np.ndarray) -> np.ndarray:
    """Boolean keep-mask: True where doc_id IS in the sorted ``include``
    array (``bool.filter`` allowed set — docs passing the structured
    predicate)."""
    if include.size == 0:
        return np.zeros(doc_ids.size, bool)
    pos = np.searchsorted(include, doc_ids)
    pos_c = np.minimum(pos, include.size - 1)
    return include[pos_c] == doc_ids


def _topk(
    doc_ids: np.ndarray,
    scores: np.ndarray,
    k: int,
    after: tuple[float, int] | None = None,
    exclude: np.ndarray | None = None,
    include: np.ndarray | None = None,
):
    """Exact local top-k with (-score, doc_id) order; tie-safe prefilter.

    ``after`` applies the search_after cursor BEFORE selection (ES's
    scalable deep-pagination model: page cost is O(k), not O(offset+k)).
    ``exclude``: sorted tombstoned doc ids, masked BEFORE selection so
    the page is exact over the live doc set.
    ``include``: sorted allowed doc ids (``bool.filter``), masked BEFORE
    selection so the page is exact over the filtered doc set.
    """
    if include is not None and doc_ids.size:
        keep = include_mask(doc_ids, include)
        doc_ids, scores = doc_ids[keep], scores[keep]
    if exclude is not None and exclude.size and doc_ids.size:
        keep = exclude_mask(doc_ids, exclude)
        doc_ids, scores = doc_ids[keep], scores[keep]
    if after is not None:
        doc_ids, scores = _after_mask(doc_ids, scores, after)
    n = doc_ids.size
    if n == 0:
        return doc_ids[:0], scores[:0]
    if n > k > 0:
        # keep every doc scoring >= the k-th best score (never drops a doc
        # that could win on the doc_id tie-break), then exact lexsort
        kth = np.partition(scores, n - k)[n - k]
        mask = scores >= kth
        doc_ids, scores = doc_ids[mask], scores[mask]
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order], scores[order]


def _contribution(
    tf: np.ndarray, dls: np.ndarray, idf: float, avgdl: float,
    k1: float, b: float,
) -> np.ndarray:
    """idf * (tf/(tf+norm)) * (k1+1), oracle-identical association."""
    norm = k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl)
    return idf * (tf.astype(np.float64) / (tf + norm)) * (k1 + 1.0)


def score_conjunctive(
    term_postings: list[Postings],
    idfs: np.ndarray,
    avgdl: float,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    after: tuple[float, int] | None = None,
    exclude: np.ndarray | None = None,
    include: np.ndarray | None = None,
):
    """AND query over one shard.

    ``term_postings``: per query term IN SORTED TERM ORDER, aligned sorted
    ``(doc_ids, tfs, doclens)``. Returns local top-k ``(doc_ids, scores)``.

    Intersection first (k-way, smallest list drives — the reference's
    ``bool.must`` posting-list intersection, SURVEY.md §2.3), then exact
    scoring of survivors only.
    """
    if not term_postings or any(p[0].size == 0 for p in term_postings):
        return _EMPTY
    order = np.argsort([p[0].size for p in term_postings], kind="stable")
    inter = term_postings[order[0]][0]
    for j in order[1:]:
        if inter.size == 0:
            break
        other = term_postings[j][0]
        pos = np.searchsorted(other, inter)
        pos[pos >= other.size] = other.size - 1
        inter = inter[other[pos] == inter]
    if inter.size == 0:
        return _EMPTY
    # doclen of each survivor, from the first term's aligned doclens
    ids0, _, dls0 = term_postings[0]
    dls = dls0[np.searchsorted(ids0, inter)]
    scores = np.zeros(inter.size, np.float64)
    for (ids, tfs, _), idf in zip(term_postings, idfs):  # sorted-term order
        tf = tfs[np.searchsorted(ids, inter)]
        scores += _contribution(tf, dls, idf, avgdl, k1, b)
    return _topk(inter, scores, k, after, exclude, include)


def _union_with_dls(nonempty: list[tuple[Postings, float]]):
    union = np.unique(np.concatenate([p[0] for p, _ in nonempty]))
    dls = np.zeros(union.size, np.int64)
    for (ids, _, d), _idf in nonempty:
        dls[np.searchsorted(union, ids)] = d
    return union, dls


def fuzzy_group(
    expansions: list[tuple[Postings, float]],
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
):
    """Collapse one query term's fuzzy expansions into a virtual posting.

    ``expansions``: per expansion term, aligned ``(doc_ids, tfs, doclens)``
    plus its weight ``boost * idf`` (:mod:`oracle.fuzzy` semantics — the
    best expansion wins per document). Returns ``(union_ids, best)`` where
    ``best[i] = max over expansions of weight * tf_norm * (k1+1)``.

    ``max`` over float64 is order-independent, so this is deterministic
    regardless of expansion enumeration order.
    """
    nonempty = [(p, w) for p, w in expansions if p[0].size > 0]
    if not nonempty:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    union = np.unique(np.concatenate([p[0] for p, _ in nonempty]))
    best = np.zeros(union.size, np.float64)
    for (ids, tfs, dls), w in nonempty:
        contrib = w * (
            tfs.astype(np.float64)
            / (tfs + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))
        ) * (k1 + 1.0)
        pos = np.searchsorted(union, ids)
        np.maximum.at(best, pos, contrib)
    return union, best


def match_grouped_all(
    groups: list[tuple[np.ndarray, np.ndarray]],
    mode: str = "and",
):
    """COMPLETE match set over per-query-term virtual postings
    (``fuzzy_group`` output) -> ``(doc_ids asc, scores)``, no top-k.

    Arithmetic is exactly :func:`score_grouped` minus the selection
    step (same fold order, same float64 ops) — the single-pass bool-tree
    kernel composes these per-clause sets in-shard and only then
    selects, so per-shard results stay bit-identical to the per-clause
    composed plans.
    """
    if not groups:
        return _EMPTY
    if mode == "and":
        if any(g[0].size == 0 for g in groups):
            return _EMPTY
        order = np.argsort([g[0].size for g in groups], kind="stable")
        inter = groups[order[0]][0]
        for j in order[1:]:
            if inter.size == 0:
                return _EMPTY
            other = groups[j][0]
            pos = np.searchsorted(other, inter)
            pos[pos >= other.size] = other.size - 1
            inter = inter[other[pos] == inter]
        if inter.size == 0:
            return _EMPTY
        scores = np.zeros(inter.size, np.float64)
        for ids, best in groups:  # sorted-q_term fold order
            scores += best[np.searchsorted(ids, inter)]
        return inter, scores
    if mode != "or":
        raise ValueError(f"unknown mode {mode!r}")
    nonempty = [g for g in groups if g[0].size > 0]
    if not nonempty:
        return _EMPTY
    union = np.unique(np.concatenate([g[0] for g in nonempty]))
    scores = np.zeros(union.size, np.float64)
    for ids, best in nonempty:
        scores[np.searchsorted(union, ids)] += best
    return union, scores


def score_grouped(
    groups: list[tuple[np.ndarray, np.ndarray]],
    k: int,
    mode: str = "and",
    exclude: np.ndarray | None = None,
    include: np.ndarray | None = None,
):
    """Top-k over per-query-term virtual postings (``fuzzy_group`` output).

    ``groups`` in sorted-q_term order (pinned summation order). AND: doc
    must appear in every group (the reference's ``bool.must`` +
    ``operator:"and"``); OR: any group.
    """
    ids, scores = match_grouped_all(groups, mode)
    return _topk(ids, scores, k, exclude=exclude, include=include)


def parse_minimum_should_match(spec, n_terms: int) -> int:
    """ES ``minimum_should_match`` value grammar -> the required count
    for a query with ``n_terms`` optional clauses (pinned to ES's
    documented table; result floored at 1 — ES treats computed values
    < 1 as 1 — but NOT capped: a requirement above ``n_terms`` is
    unsatisfiable and the kernels correctly return empty result sets,
    Lucene's BooleanQuery behavior):

    - positive int ``N`` -> N
    - negative int ``-N`` -> n_terms - N (N optional clauses may miss)
    - ``"P%"`` -> floor(n_terms * P / 100)
    - ``"-P%"`` -> n_terms - floor(n_terms * P / 100)
    - ``"N<spec"`` (single conditional) -> ALL required when
      n_terms <= N, else ``spec`` applies (ES: the conditional governs
      queries with MORE than N clauses).

    Multi-conditional chains (``"2<-25% 9<-3"``) are outside the pinned
    subset -> ValueError.
    """
    if n_terms < 1:
        raise ValueError("n_terms must be >= 1")

    def _basic(s) -> int:
        if isinstance(s, int):
            n = s if s >= 0 else n_terms + s
        else:
            s = s.strip()
            try:
                if s.endswith("%"):
                    pct = int(s[:-1])
                    part = abs(pct) * n_terms // 100
                    n = part if pct >= 0 else n_terms - part
                else:
                    n = int(s)
                    if n < 0:
                        n = n_terms + n
            except ValueError:
                raise ValueError(
                    f"bad minimum_should_match value {s!r} (int, 'P%', "
                    "'-P%' or a single 'N<spec' conditional)"
                )
        return max(1, n)

    if isinstance(spec, int):
        return _basic(spec)
    s = str(spec).strip()
    if "<" in s:
        head, _, rest = s.partition("<")
        if "<" in rest or " " in rest.strip():
            raise ValueError(
                "multi-conditional minimum_should_match chains are "
                f"outside the pinned subset: {spec!r}"
            )
        try:
            gate = int(head)
        except ValueError:
            raise ValueError(f"bad conditional gate in {spec!r}")
        return n_terms if n_terms <= gate else _basic(rest)
    return _basic(s)


def score_disjunctive(
    term_postings: list[Postings],
    idfs: np.ndarray,
    avgdl: float,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    after: tuple[float, int] | None = None,
    min_match: int = 1,
    exclude: np.ndarray | None = None,
    include: np.ndarray | None = None,
):
    """Exhaustive OR scorer.

    ``min_match``: ES ``minimum_should_match`` — a doc qualifies only if
    it contains at least this many distinct query terms (1 = plain OR;
    len(terms) = conjunctive).
    """
    nonempty = [(p, i) for p, i in zip(term_postings, idfs) if p[0].size > 0]
    if not nonempty or len(nonempty) < min_match:
        return _EMPTY
    union, scores, counts = union_scores_counts(nonempty, avgdl, k1, b)
    if min_match > 1:
        keep = counts >= min_match
        union, scores = union[keep], scores[keep]
    return _topk(union, scores, k, after, exclude, include)


def union_scores_counts(
    nonempty: list,
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
):
    """The exhaustive-OR core, exposed pre-top-k: ``[(postings, idf)]``
    with non-empty lists -> (union ids, summed scores, distinct-term
    match counts). Float accumulation order is sorted-term order —
    bit-identical to the score_disjunctive it was factored out of
    (per-doc minimum_should_match / terms_set needs the counts)."""
    union, dls = _union_with_dls(nonempty)
    scores = np.zeros(union.size, np.float64)
    counts = np.zeros(union.size, np.int32)
    for (ids, tfs, d), idf in nonempty:  # sorted-term order preserved
        pos = np.searchsorted(union, ids)
        scores[pos] += _contribution(tfs, d, idf, avgdl, k1, b)
        counts[pos] += 1
    return union, scores, counts
