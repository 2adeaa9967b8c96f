"""Single-pass ES ``bool``-tree execution on the inverted index.

One shard-kernel pass scores a full ``bool`` query (must + should +
must_not + filter) the way ES evaluates one Lucene scorer tree —
replacing the previous composition layer that materialized each
clause's COMPLETE global match set (per-clause ``k = n_docs``) and
ranked through an unpartitioned window (the round-3 verdict's weak
plans #1/#2, querybuilder.py:227,260-262,288,297-345).

Plan shape (the same zero-wide-shuffle family as every primary path):

  postings scan, tbucket partition-pruned + term row-group-pruned to the
    union of all clause expansions and must_not terms (multi-field: the
    per-field scans union with a field tag, as bm25f does)
  groupBy(shard) -> ONE Arrow kernel evaluates every request's whole
    bool tree over that shard's decoded postings (a doc's postings all
    live in its one shard — identical shard layout across per-field
    sub-indexes — so per-shard clause match sets are complete for that
    shard's docs) -> per-shard top-k per request
  global merge: window partitioned by request over <= n_shards*k rows.

Clause semantics (pinned, identical to the composed path it replaces —
parity asserted by tests/test_booltree.py):

- a leaf :class:`~sparkfts.querybuilder.Clause` is a fuzzy(AUTO)
  ``multi_match`` with per-clause ``operator`` (and = every query term's
  expansion group matches; or = any) and best-expansion-wins weights
  ``boost * idf`` (:mod:`oracle.fuzzy`); ``fuzziness="0"`` pins exact
  matching (the term is its own only expansion, weight = idf);
- multi-field execution honors each clause's ``fields`` spec with ES
  ``best_fields`` combination: the clause is scored per field (each
  field's own dictionary, df and avgdl — a term can be a typo in one
  field and exact in another) and a doc's clause score is
  ``max over matching fields of boost_f * field_score``;
- ``bool.must``: doc qualifies iff EVERY member matches; score = sum of
  member scores in member order (float64, pinned fold order);
- ``bool.should`` with must present: pure score bonus, summed in member
  order and added once; with no must: ``minimum_should_match=1`` — the
  match set is the union, score = sum of matching members;
- ``bool.must_not``: docs matching ANY member are excluded BEFORE
  top-k, no scoring contribution (root ``SearchRequest.must_not`` texts
  become exact term-union exclusion nodes over every field, as before);
- ``bool`` nodes NEST (ES's full grammar): a member of must/should/
  must_not may itself be a :class:`~sparkfts.querybuilder.Bool`; the
  kernel evaluates the tree bottom-up entirely in numpy;
- ``filter_expr``: JVM-evaluated docmap predicate cogrouped by shard
  into a per-request include mask (same machinery as ``bool.filter`` on
  the primary paths, query.py).

The reference pins the root shape at ElasticsearchToNeo4jSync.py:92-102
(fuzzy multi_match clauses over a field list AND-ed under
``bool.must``); everything else here is the ES surface a real user of
that query path hits next.
"""

from __future__ import annotations

from sparkfts.session import session_cores as _session_cores

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkfts.analysis import analysis_opts, tokenize_query
from sparkfts.stats import idf as idf_fn

# node spec (pickled into the kernel closure):
#   ("clause", mode, (group_key, ...))         leaf (single-field index)
#   ("clause", mode, (group_key, ...), specs)  leaf over ((field, boost),...)
#   ("terms_any", (term, ...))                 exact term-union (must_not)
#   ("bool", must, should, must_not)           nested tree; members = nodes
_FUZZY = "\x00f"    # fuzziness AUTO (the length ladder)
_EXACT = "\x00e"    # fuzziness 0 / exact
_PREFIX = "\x00p"   # Prefix leaf (dictionary range expansion)
_FUZZY1 = "\x001"   # FIXED max edit distance 1 (ES fixed fuzziness)
_FUZZY2 = "\x002"   # FIXED max edit distance 2
_WILD = "\x00w"     # Wildcard leaf (pattern expansion)
_REGEX = "\x00r"    # Regexp leaf (anchored-pattern expansion)
_FUZZ_TAG = {"AUTO": _FUZZY, "0": _EXACT, "1": _FUZZY1, "2": _FUZZY2}


def _to_node(obj, stopwords=None, multifield: bool = False,
             stemmer: str | None = None):
    """Clause | Bool -> node spec; group keys carry the fuzzy/exact tag.

    A node carrying an ES query-level ``boost != 1`` wraps as
    ``("boost", inner_spec, b)`` — the kernel multiplies the inner
    node's scores once after its own fold (the Lucene BoostQuery
    pin)."""
    from sparkfts.querybuilder import Bool, Clause

    def _boosted(spec: tuple, b) -> tuple:
        b = float(b)
        return spec if b == 1.0 else ("boost", spec, b)

    if isinstance(obj, Clause):
        terms = tokenize_query(obj.query, stopwords, stemmer)
        tag = _FUZZ_TAG.get(str(obj.fuzziness).upper())
        if tag is None:
            raise ValueError(
                f"fuzziness must be AUTO or 0/1/2, got {obj.fuzziness!r}"
            )
        keys = tuple(t + tag for t in terms)
        cb = float(getattr(obj, "boost", 1.0))
        if multifield:
            from sparkfts.multifield import parse_field_boosts

            specs = tuple(
                (f, float(b)) for f, b in parse_field_boosts(obj.fields)
            )
            return _boosted(
                (
                    "clause", obj.operator, keys, specs,
                    float(getattr(obj, "tie_breaker", 0.0)),
                ),
                cb,
            )
        return _boosted(("clause", obj.operator, keys), cb)
    from sparkfts.querybuilder import FuzzyTerm, Prefix, Regexp, Wildcard

    def _termlevel(keys: tuple, fields, leaf_boost=1.0) -> tuple:
        if multifield:
            from sparkfts.multifield import parse_field_boosts

            specs = tuple(
                (f, float(b)) for f, b in parse_field_boosts(fields)
            )
            return _boosted(("clause", "or", keys, specs, 0.0), leaf_boost)
        return _boosted(("clause", "or", keys), leaf_boost)

    if isinstance(obj, Prefix):
        # term-level: lowercase only, never analyzed (the prefix.py pin)
        p = obj.prefix.strip().lower()
        if not p:
            raise ValueError("empty prefix in bool tree")
        return _termlevel((p + _PREFIX,), obj.fields,
                          getattr(obj, "boost", 1.0))
    if isinstance(obj, Wildcard):
        p = obj.pattern.strip().lower()  # lower_patterns=True pin
        if not p.strip("*?"):
            raise ValueError("wildcard pattern needs a literal char")
        return _termlevel((p + _WILD,), obj.fields,
                          getattr(obj, "boost", 1.0))
    if isinstance(obj, Regexp):
        from sparkfts.prefix import validate_regexp

        p = obj.pattern.strip()  # case preserved (lower_patterns=False pin)
        validate_regexp(p)
        return _termlevel((p + _REGEX,), obj.fields,
                          getattr(obj, "boost", 1.0))
    if isinstance(obj, FuzzyTerm):
        tag = _FUZZ_TAG.get(str(obj.fuzziness).upper())
        if tag is None:
            raise ValueError(
                f"fuzziness must be AUTO or 0/1/2, got {obj.fuzziness!r}"
            )
        t = obj.term.strip().lower()  # term-level: never analyzed
        if not t:
            raise ValueError("empty fuzzy term in bool tree")
        return _termlevel((t + tag,), obj.fields,
                          getattr(obj, "boost", 1.0))
    from sparkfts.querybuilder import ConstFilter

    if isinstance(obj, ConstFilter):
        # ES constant_score(filter): score = boost for every doc the
        # predicate admits (same docset machinery, constant != 0)
        p = str(obj.predicate).strip()
        if not p:
            raise ValueError("empty constant_score predicate")
        return ("docset", p, float(obj.boost))
    if isinstance(obj, Bool):
        # nested bool.filter predicates become zero-scoring "docset"
        # must members: same match-constraint, no score (ES filter
        # context); the allowed doc sets ride the cogrouped frame
        # keyed by predicate id (resolved in bool_local)
        must_nodes = tuple(
            _to_node(c, stopwords, multifield, stemmer) for c in obj.must
        ) + tuple(
            ("docset", str(p)) for p in getattr(obj, "filter", ())
        )
        spec = (
            "bool",
            must_nodes,
            tuple(_to_node(c, stopwords, multifield, stemmer)
                  for c in obj.should),
            tuple(_to_node(c, stopwords, multifield, stemmer)
                  for c in obj.must_not),
        )
        msm = getattr(obj, "minimum_should_match", None)
        if msm is not None and obj.should:
            # resolve the ES value grammar against the should count now
            # (driver-side), so the kernel sees a plain int
            from sparkfts.wand import parse_minimum_should_match

            spec = spec + (
                parse_minimum_should_match(msm, len(obj.should)),
            )
        return _boosted(spec, getattr(obj, "boost", 1.0))
    from sparkfts.querybuilder import DisMax

    if isinstance(obj, DisMax):
        return _boosted(
            (
                "dismax",
                tuple(_to_node(c, stopwords, multifield, stemmer)
                      for c in obj.queries),
                float(obj.tie_breaker),
            ),
            getattr(obj, "boost", 1.0),
        )
    raise TypeError(f"unsupported bool-tree member: {type(obj)!r}")


def _walk_keys(node, keys: set, mn_terms: set) -> None:
    """Collect ``(field_or_None, group_key)`` pairs + must_not terms."""
    if node[0] == "docset":
        return
    if node[0] == "boost":
        _walk_keys(node[1], keys, mn_terms)
        return
    if node[0] == "clause":
        if len(node) >= 4:
            for fld, _b in node[3]:
                keys.update((fld, k) for k in node[2])
        else:
            keys.update((None, k) for k in node[2])
    elif node[0] == "terms_any":
        mn_terms.update(node[1])
    elif node[0] == "dismax":
        for child in node[1]:
            _walk_keys(child, keys, mn_terms)
    else:
        # bool: must/should/must_not member tuples only (slot 4, when
        # present, is the resolved minimum_should_match int)
        for part in node[1:4]:
            for child in part:
                _walk_keys(child, keys, mn_terms)


def _walk_preds(node, preds: set) -> None:
    """Collect nested-filter predicate strings ("docset" nodes)."""
    if node[0] == "docset":
        preds.add(node[1])
    elif node[0] == "boost":
        _walk_preds(node[1], preds)
    elif node[0] == "dismax":
        for child in node[1]:
            _walk_preds(child, preds)
    elif node[0] == "bool":
        for part in node[1:4]:
            for child in part:
                _walk_preds(child, preds)


def _make_bool_scorer(
    request_specs: list[tuple[int, tuple, int]],
    expansions: dict[tuple, tuple[tuple[str, float], ...]],
    avgdl_by_field: dict,
    exclude=None,
    filtered: bool = False,
    multifield: bool = False,
    all_matches: bool = False,
):
    """Kernel factory: evaluate every request's bool tree over ONE shard.

    ``request_specs``: per request ``(request_id, root_node, k)``.
    ``expansions``: ``(field_or_None, group_key)`` ->
    ((index_term, weight), ...) — driver-precomputed from the (per-field)
    term dictionary (weight = boost * idf, :mod:`oracle.fuzzy`); exact
    keys carry the single (term, idf) pair.
    ``avgdl_by_field``: field -> avgdl (key ``None`` for single-field).
    ``filtered=True`` switches to the cogrouped signature; the allowed
    frame carries (request_id, doc_id) rows for requests with a
    ``filter_expr`` (requests absent from it are unfiltered).
    """
    import numpy as np

    from sparkfts.query import _postings_reader
    from sparkfts.wand import (
        _topk,
        exclude_mask,
        fuzzy_group,
        match_grouped_all,
    )

    _empty = (np.empty(0, np.int64), np.empty(0, np.float64))

    def scorer(
        pdf_postings: pd.DataFrame, pdf_allowed: pd.DataFrame | None = None
    ) -> pd.DataFrame:
        out_rid: list[np.ndarray] = []
        out_doc: list[np.ndarray] = []
        out_score: list[np.ndarray] = []
        includes: dict[int, np.ndarray] = {}
        pred_includes: dict[int, np.ndarray] = {}
        if pdf_allowed is not None and len(pdf_allowed):
            if "pid" in pdf_allowed.columns:
                root_rows = pdf_allowed[pdf_allowed["pid"] < 0]
                pred_rows = pdf_allowed[pdf_allowed["pid"] >= 0]
            else:  # pragma: no cover - legacy two-column frame
                root_rows, pred_rows = pdf_allowed, None
            if filtered and len(root_rows):
                for rid, grp in root_rows.groupby("request_id"):
                    includes[int(rid)] = np.sort(
                        grp["doc_id"].to_numpy(np.int64)
                    )
            if pred_rows is not None and len(pred_rows):
                for pid, grp in pred_rows.groupby("pid"):
                    pred_includes[int(pid)] = np.sort(
                        grp["doc_id"].to_numpy(np.int64)
                    )
        if len(pdf_postings):
            # field -> (rows_by_term, postings_of); single-field = {None: ..}
            if multifield:
                readers = {
                    fld: _postings_reader(sub)
                    for fld, sub in pdf_postings.groupby("field")
                }
            else:
                readers = {None: _postings_reader(pdf_postings)}
            group_cache: dict[tuple, tuple] = {}

            def virtual(fld, key: str):
                ck = (fld, key)
                virt = group_cache.get(ck)
                if virt is None:
                    reader = readers.get(fld)
                    if reader is None:
                        virt = _empty
                    else:
                        rows_by_term, postings_of = reader
                        present = [
                            (postings_of(t), w)
                            for t, w in expansions.get(ck, ())
                            if t in rows_by_term
                        ]
                        virt = fuzzy_group(present, avgdl_by_field[fld])
                    group_cache[ck] = virt
                return virt

            def eval_clause(node):
                if len(node) >= 4:  # multifield best_fields / dis_max
                    tb = float(node[4]) if len(node) > 4 else 0.0
                    per_field = []
                    for fld, boost in node[3]:  # field-spec order
                        groups = [virtual(fld, key) for key in node[2]]
                        fids, fsc = match_grouped_all(groups, node[1])
                        if fids.size:
                            # same float op as the composed plan's
                            # score * lit(boost)
                            per_field.append((fids, fsc * float(boost)))
                    if not per_field:
                        return _empty
                    if len(per_field) == 1:
                        return per_field[0]
                    union = np.unique(
                        np.concatenate([p[0] for p in per_field])
                    )
                    best = np.full(union.size, -np.inf)
                    for fids, fsc in per_field:
                        np.maximum.at(
                            best, np.searchsorted(union, fids), fsc
                        )
                    if tb == 0.0:
                        return union, best
                    # ES dis_max: best + tie_breaker * sum(others);
                    # sum folds in field-spec order (deterministic)
                    total = np.zeros(union.size, np.float64)
                    for fids, fsc in per_field:
                        total[np.searchsorted(union, fids)] += fsc
                    return union, best + tb * (total - best)
                groups = [virtual(None, key) for key in node[2]]
                return match_grouped_all(groups, node[1])

            def eval_node(node):
                kind = node[0]
                if kind == "docset":
                    # this shard's allowed docs for the predicate:
                    # score 0 (nested bool.filter) or the constant
                    # (constant_score leaf, slot 2)
                    ids = pred_includes.get(node[1])
                    if ids is None:
                        return _empty
                    const = float(node[2]) if len(node) > 2 else 0.0
                    if const == 0.0:
                        return ids, np.zeros(ids.size, np.float64)
                    return ids, np.full(ids.size, const, np.float64)
                if kind == "boost":
                    # ES/Lucene BoostQuery: one multiply after the
                    # inner node's own fold (float64)
                    ids, sc = eval_node(node[1])
                    return ids, sc * node[2]
                if kind == "clause":
                    return eval_clause(node)
                if kind == "terms_any":
                    parts = []
                    for rows_by_term, postings_of in readers.values():
                        for t in node[1]:
                            if t in rows_by_term:
                                parts.append(postings_of(t)[0])
                    if not parts:
                        return _empty
                    ids = np.unique(np.concatenate(parts))
                    return ids, np.zeros(ids.size, np.float64)
                if kind == "dismax":
                    # ES dis_max: match = union of members; score = best
                    # member + tie_breaker * (sum of other matching
                    # members). Pinned fold: total accumulates in MEMBER
                    # order (float64); combined = best + tb*(total-best)
                    members = [eval_node(c) for c in node[1]]
                    members = [m for m in members if m[0].size]
                    if not members:
                        return _empty
                    if len(members) == 1:
                        return members[0]
                    ids = np.unique(
                        np.concatenate([m[0] for m in members])
                    )
                    best = np.full(ids.size, -np.inf)
                    total = np.zeros(ids.size, np.float64)
                    for mids, mscores in members:  # member order
                        pos = np.searchsorted(ids, mids)
                        np.maximum.at(best, pos, mscores)
                        total[pos] += mscores
                    tb = float(node[2])
                    if tb == 0.0:
                        return ids, best
                    return ids, best + tb * (total - best)
                # bool node (slot 4: resolved minimum_should_match)
                must, should, must_not = node[1], node[2], node[3]
                msm = node[4] if len(node) > 4 else None
                if must:
                    must_sets = [eval_node(c) for c in must]
                    if any(s[0].size == 0 for s in must_sets):
                        ids, scores = _empty
                    else:
                        order = np.argsort(
                            [s[0].size for s in must_sets], kind="stable"
                        )
                        ids = must_sets[order[0]][0]
                        for j in order[1:]:
                            if ids.size == 0:
                                break
                            other = must_sets[j][0]
                            pos = np.searchsorted(other, ids)
                            pos[pos >= other.size] = other.size - 1
                            ids = ids[other[pos] == ids]
                        scores = np.zeros(ids.size, np.float64)
                        for mids, mscores in must_sets:  # member order
                            scores = scores + mscores[
                                np.searchsorted(mids, ids)
                            ]
                    if should and ids.size:
                        # pure bonus, summed separately in member order
                        # then added ONCE (the composed path's
                        # score + coalesce(should_score) fold); with
                        # minimum_should_match set, should ALSO
                        # constrains: >= msm members must match (ES)
                        bonus = np.zeros(ids.size, np.float64)
                        nmatch = np.zeros(ids.size, np.int64)
                        for c in should:
                            sids, sscores = eval_node(c)
                            if not sids.size:
                                continue
                            pos = np.searchsorted(sids, ids)
                            pos_c = np.minimum(pos, sids.size - 1)
                            hit = sids[pos_c] == ids
                            bonus[hit] += sscores[pos_c[hit]]
                            nmatch[hit] += 1
                        scores = scores + bonus
                        if msm is not None:
                            keep = nmatch >= msm
                            ids, scores = ids[keep], scores[keep]
                    elif should and msm is not None:
                        # must matched nothing -> nothing can satisfy
                        pass
                elif should:
                    # default minimum_should_match=1: union, sum of
                    # matching; msm > 1 keeps docs matching >= msm
                    # members (resolved ES value grammar)
                    should_sets = [eval_node(c) for c in should]
                    nonempty = [s for s in should_sets if s[0].size]
                    if not nonempty:
                        ids, scores = _empty
                    else:
                        ids = np.unique(
                            np.concatenate([s[0] for s in nonempty])
                        )
                        scores = np.zeros(ids.size, np.float64)
                        counts = np.zeros(ids.size, np.int64)
                        for sids, sscores in nonempty:  # member order
                            pos = np.searchsorted(ids, sids)
                            scores[pos] += sscores
                            counts[pos] += 1
                        if msm is not None and msm > 1:
                            keep = counts >= msm
                            ids, scores = ids[keep], scores[keep]
                else:
                    ids, scores = _empty
                if must_not and ids.size:
                    parts = [
                        eval_node(c)[0] for c in must_not
                    ]
                    parts = [p for p in parts if p.size]
                    if parts:
                        excl = (
                            parts[0]
                            if len(parts) == 1
                            else np.unique(np.concatenate(parts))
                        )
                        keep = exclude_mask(ids, excl)
                        ids, scores = ids[keep], scores[keep]
                return ids, scores

            for rid, root, k in request_specs:
                ids, scores = eval_node(root)
                include = includes.get(rid) if filtered else None
                if filtered and include is None:
                    # request HAS a filter but no allowed docs landed in
                    # this shard -> nothing can match here
                    if rid in _filter_rids:
                        continue
                # all_matches: k = in-shard match count -> the selection
                # cut is a no-op and _topk degenerates to the same
                # include/exclude masking + (-score, doc_id) sort, so the
                # full-match-set path shares every tie/tombstone rule
                ids, scores = _topk(
                    ids, scores, int(ids.size) if all_matches else k,
                    exclude=exclude, include=include,
                )
                if ids.size:
                    out_rid.append(np.full(ids.size, rid, np.int32))
                    out_doc.append(ids)
                    out_score.append(scores)
        if not out_rid:
            return pd.DataFrame(
                {
                    "request_id": pd.Series([], dtype="int32"),
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        return pd.DataFrame(
            {
                "request_id": np.concatenate(out_rid),
                "doc_id": np.concatenate(out_doc),
                "score": np.concatenate(out_score),
            }
        )

    # request ids that carry a filter (an empty in-shard allowed set for
    # these means "no matches in this shard", not "unfiltered")
    _filter_rids: set[int] = set()
    scorer.filter_rids = _filter_rids
    return scorer


def _field_expansions(
    spark,
    fdir: str,
    fld,
    field_keys: set,
    n_docs: int,
    max_expansions: int | None,
) -> dict:
    """Expansions for ONE field's (or the single-field index's) keys."""
    from sparkfts.index import load_terms, read_meta, term_bucket
    from sparkfts.query import fuzzy_expand_index

    f_meta = read_meta(fdir)
    keys = {k for f, k in field_keys if f == fld}
    fuzzy_terms = sorted(k[:-2] for k in keys if k.endswith(_FUZZY))
    exact_terms = sorted(k[:-2] for k in keys if k.endswith(_EXACT))
    out: dict = {}
    # fixed-distance fuzzy classes (ES fixed fuzziness 1/2): same
    # expansion join as AUTO, maxd pinned per class
    for fixed, tag in (("1", _FUZZY1), ("2", _FUZZY2)):
        f_terms = sorted(k[:-2] for k in keys if k.endswith(tag))
        if not f_terms:
            continue
        from sparkfts.query import fuzzy_expand_index

        exp = fuzzy_expand_index(
            spark, fdir, [(0, f_terms, 0)], n_docs,
            f_meta["n_tbuckets"], max_expansions, fuzziness=fixed,
        )
        for t in f_terms:
            out[(fld, t + tag)] = tuple(exp.get((0, t), ()))
    # dictionary-expansion leaf classes share one treatment: expander
    # collect -> (pattern, weight) tuples under the tagged key
    _EXPANDERS = {
        _PREFIX: "expand_prefix",
        _WILD: "expand_wildcard",
        _REGEX: "expand_regexp",
    }
    for tag, fn_name in _EXPANDERS.items():
        pats = sorted(k[:-2] for k in keys if k.endswith(tag))
        if not pats:
            continue
        import sparkfts.prefix as _pfx

        exp = getattr(_pfx, fn_name)(
            spark, fdir, list(enumerate(pats)), n_docs, max_expansions,
        )
        for i, p in enumerate(pats):
            out[(fld, p + tag)] = tuple(exp.get(i, ()))
    if fuzzy_terms:
        exp = fuzzy_expand_index(
            spark, fdir, [(0, fuzzy_terms, 0)], n_docs,
            f_meta["n_tbuckets"], max_expansions,
        )
        for t in fuzzy_terms:
            out[(fld, t + _FUZZY)] = tuple(exp.get((0, t), ()))
    if exact_terms:
        ebuckets = sorted(
            {term_bucket(t, f_meta["n_tbuckets"]) for t in exact_terms}
        )
        df_rows = (
            load_terms(spark, fdir)
            .where(
                F.col("tbucket").isin(ebuckets)
                & F.col("term").isin(exact_terms)
            )
            .select("term", "df")
            .collect()
        )
        df_map = {r["term"]: int(r["df"]) for r in df_rows}
        for t in exact_terms:
            d = df_map.get(t, 0)
            out[(fld, t + _EXACT)] = (
                ((t, idf_fn(n_docs, d)),) if d else ()
            )
    return out


def bool_local(
    spark: SparkSession,
    index_dir: str,
    requests: list,
    max_expansions: int | None = None,
    multifield: bool = False,
    all_matches: bool = False,
) -> DataFrame | None:
    """Per-shard top-k stage of :func:`bool_topk_batch` ->
    DataFrame(request_id, doc_id, score) with <= n_shards * k rows per
    request (the behavior tests assert this bound — the global window
    never sees a complete match set). ``None`` when nothing can match."""
    from sparkfts.deletes import load_tombstones
    from sparkfts.index import (
        load_docmap,
        load_postings,
        read_meta,
        term_bucket,
    )
    from sparkfts.querybuilder import SearchRequest

    if multifield:
        from sparkfts.multifield import field_dir, read_mf_meta

        mf = read_mf_meta(index_dir)
        n_docs = mf["n_docs"]
        f0_dir = field_dir(index_dir, mf["fields"][0])
        f0_meta = read_meta(f0_dir)
        sw, stem = analysis_opts(f0_meta)
        avgdl_by_field = {
            f: mf["per_field"][f]["avgdl"] for f in mf["fields"]
        }
    else:
        meta = read_meta(index_dir)
        n_docs = meta["n_docs"]
        sw, stem = analysis_opts(meta)
        avgdl_by_field = {None: meta["avgdl"]}
    if n_docs == 0:
        return None

    # requests -> node specs; gather every leaf group key + must_not term
    request_specs: list[tuple[int, tuple, int]] = []
    filter_map: dict[int, str] = {}
    field_keys: set = set()
    mn_terms: set[str] = set()
    for rid, req in enumerate(requests):
        if not isinstance(req, SearchRequest):
            raise TypeError("bool_topk_batch takes SearchRequest objects")
        if req.is_match_all:
            raise ValueError("match-all request: use match_all_topk")
        root = (
            "bool",
            tuple(_to_node(c, sw, multifield, stem) for c in req.clauses),
            tuple(_to_node(c, sw, multifield, stem) for c in req.should),
            tuple(
                ("terms_any", tuple(tokenize_query(t, sw, stem)))
                for t in req.must_not
            ),
        )
        _walk_keys(root, field_keys, mn_terms)
        request_specs.append((rid, root, int(req.k)))
        if req.filter_expr:
            filter_map[rid] = req.filter_expr
    if not request_specs:
        return None

    # nested bool.filter predicates ("docset" nodes) -> predicate ids;
    # each distinct predicate's allowed doc set rides the cogrouped
    # frame ONCE no matter how many requests/nodes reference it
    preds: set = set()
    for _rid, root, _k in request_specs:
        _walk_preds(root, preds)
    pred_id = {p: i for i, p in enumerate(sorted(preds))}
    if pred_id:
        def _assign_pids(node):
            kind = node[0]
            if kind == "docset":
                return ("docset", pred_id[node[1]]) + tuple(node[2:])
            if kind == "boost":
                return ("boost", _assign_pids(node[1]), node[2])
            if kind == "dismax":
                return (
                    "dismax",
                    tuple(_assign_pids(c) for c in node[1]),
                    node[2],
                )
            if kind == "bool":
                return (
                    ("bool",)
                    + tuple(
                        tuple(_assign_pids(c) for c in part)
                        for part in node[1:4]
                    )
                    + tuple(node[4:])
                )
            return node

        request_specs = [
            (rid, _assign_pids(root), k) for rid, root, k in request_specs
        ]
    if multifield:
        unknown = {
            f for f, _k in field_keys if f is not None and f not in mf["fields"]
        }
        if unknown:
            raise ValueError(f"fields not in index: {sorted(unknown)}")

    # driver-side weights from the (per-field) term dictionaries (the
    # established interactive-path pattern: tiny pruned collects)
    expansions: dict = {}
    if multifield:
        for fld in mf["fields"]:
            if any(f == fld for f, _k in field_keys) :
                expansions.update(
                    _field_expansions(
                        spark, field_dir(index_dir, fld), fld,
                        field_keys, n_docs, max_expansions,
                    )
                )
    else:
        expansions.update(
            _field_expansions(
                spark, index_dir, None, field_keys, n_docs, max_expansions,
            )
        )

    # pruned postings scan(s): per field, only ITS needed terms (+ the
    # must_not terms on every field — exclusion spans all fields)
    import numpy as np

    def _pruned(src_dir: str, fld) -> tuple:
        terms = sorted(
            {
                t
                for (f, _k), exps in expansions.items()
                if f == fld
                for t, _w in exps
            }
            | mn_terms
        )
        if not terms:
            return None, None
        f_meta = read_meta(src_dir)
        buckets = sorted(
            {term_bucket(t, f_meta["n_tbuckets"]) for t in terms}
        )
        return terms, buckets

    tombs = []
    if multifield:
        parts = []
        for fld in mf["fields"]:
            fdir = field_dir(index_dir, fld)
            terms, buckets = _pruned(fdir, fld)
            if terms is None:
                continue
            from sparkfts.index import in_list

            parts.append(
                load_postings(spark, fdir)
                .where(in_list("tbucket", buckets) & in_list("term", terms))
                .withColumn("field", F.lit(fld))
            )
            t = load_tombstones(spark, fdir)
            if t is not None and t.size:
                tombs.append(t)
        if not parts:
            return None
        postings = parts[0]
        for p in parts[1:]:
            postings = postings.unionByName(p)
        exclude = np.unique(np.concatenate(tombs)) if tombs else None
    else:
        terms, buckets = _pruned(index_dir, None)
        if terms is None:
            return None
        from sparkfts.index import in_list

        postings = load_postings(spark, index_dir).where(
            in_list("tbucket", buckets) & in_list("term", terms)
        ).coalesce(_session_cores(spark))
        exclude = load_tombstones(spark, index_dir)

    scorer = _make_bool_scorer(
        request_specs,
        expansions,
        avgdl_by_field,
        exclude=exclude,
        filtered=bool(filter_map),
        multifield=multifield,
        all_matches=all_matches,
    )
    scorer.filter_rids.update(filter_map)
    result_schema = "request_id int, doc_id long, score double"
    if filter_map or pred_id:
        docmap = load_docmap(
            spark, field_dir(index_dir, mf["fields"][0]) if multifield
            else index_dir
        )
        allowed_parts = [
            docmap.where(F.expr(expr)).select(
                "shard",
                F.lit(rid).cast("int").alias("request_id"),
                F.lit(-1).cast("int").alias("pid"),
                "doc_id",
            )
            for rid, expr in filter_map.items()
        ] + [
            docmap.where(F.expr(p)).select(
                "shard",
                F.lit(-1).cast("int").alias("request_id"),
                F.lit(pid).cast("int").alias("pid"),
                "doc_id",
            )
            for p, pid in pred_id.items()
        ]
        allowed = allowed_parts[0]
        for p in allowed_parts[1:]:
            allowed = allowed.unionByName(p)
        allowed = allowed.coalesce(_session_cores(spark))
        local = (
            postings.groupby("shard")
            .cogroup(allowed.groupby("shard"))
            .applyInPandas(lambda l, r: scorer(l, r), result_schema)
        )
    else:
        local = postings.groupby("shard").applyInPandas(
            lambda pdf: scorer(pdf), result_schema
        )
    return local


def bool_matches_batch(
    spark: SparkSession,
    index_dir: str,
    requests: list,
    max_expansions: int | None = None,
    multifield: bool = False,
) -> DataFrame:
    """COMPLETE match sets for a batch of
    :class:`~sparkfts.querybuilder.SearchRequest` bool trees in ONE
    single-pass plan -> DataFrame(request_id, doc_id, score), no top-k,
    no global window (each request's ``k`` is ignored). Frames stay
    shard-partitioned (a doc lives in exactly one shard, so no dedup is
    needed) — the composition building block for phrase-bearing
    :mod:`sparkfts.simpleqs` trees, where the match sets are joined on
    ``doc_id`` rather than paged."""
    local = bool_local(
        spark, index_dir, requests, max_expansions, multifield,
        all_matches=True,
    )
    if local is None:
        return spark.createDataFrame(
            [], "request_id int, doc_id long, score double"
        )
    return local


def bool_topk_batch(
    spark: SparkSession,
    index_dir: str,
    requests: list,
    max_expansions: int | None = None,
    multifield: bool = False,
) -> DataFrame:
    """Execute a batch of :class:`~sparkfts.querybuilder.SearchRequest`
    bool trees in ONE single-pass plan -> DataFrame(request_id, rank,
    doc_id, score). ``multifield=True`` treats ``index_dir`` as a
    multi-field index and honors each clause's ``fields`` boost specs
    (best-fields combination inside the kernel). Match-all requests are
    not handled here (route via
    :func:`sparkfts.querybuilder.match_all_topk`)."""
    schema = "request_id int, rank int, doc_id long, score double"
    local = bool_local(
        spark, index_dir, requests, max_expansions, multifield
    )
    if local is None:
        return spark.createDataFrame([], schema)
    from sparkfts.index import lit_map

    k_map = lit_map((rid, int(req.k)) for rid, req in enumerate(requests))
    local = local.repartition(_session_cores(spark), "request_id")
    w = Window.partitionBy("request_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.element_at(k_map, F.col("request_id")))
        .select("request_id", F.col("rank").cast("int"), "doc_id", "score")
        .coalesce(1)
        .sortWithinPartitions("request_id", "rank")
    )
