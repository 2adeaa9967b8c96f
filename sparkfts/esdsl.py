"""ES query-DSL JSON -> typed IR parser (the last interop layer).

The reference's entire query plane is one JSON body handed to
``client.search`` (reference ElasticsearchHandler.py:52-74, built by
``elasticsearchQueryBuilder``, reference ElasticsearchToNeo4jSync.py:
89-102). Every other module here rebuilds what executes that JSON;
this module closes the dialect gap itself: :func:`parse_request`
lowers a request body onto the engine's typed IR
(:class:`~sparkfts.querybuilder.Clause` / ``Bool`` / ``DisMax`` /
``SearchRequest``) and the filter context onto a docmap SQL predicate,
so a stored ES query a reference user runs today executes on the
Spark engine unchanged (via :func:`sparkfts.booltree.bool_topk_batch`).

Supported — the documented fail-loud v1 subset, chosen to cover the
reference's emitted queries plus the standard bool composition around
them:

- scoring context: ``match``, ``multi_match`` (``best_fields``),
  ``match_all``, ``bool`` (must / should / must_not / filter),
  ``dis_max``, ``wrapper`` (base64-wrapped body, decoded and recursed),
  the term-level leaves ``prefix`` / ``wildcard`` / ``regexp`` /
  ``fuzzy`` (bool-tree expansion-group leaves —
  :class:`~sparkfts.querybuilder.Prefix` / ``Wildcard`` / ``Regexp`` /
  ``FuzzyTerm``; ``fuzzy`` is pinned plain-Levenshtein, the Damerau
  path stays on its dedicated surface), ``query_string`` and
  phrase-free ``simple_query_string`` (both lower through their own
  parsers onto the same Bool IR; ES ``a|b|c`` pipe flag syntax
  accepted; phrase-bearing simple_query_string points to its composed
  executor)
- filter context (root ``bool.filter``): ``term``, ``terms``,
  ``range`` (gt/gte/lt/lte), ``exists``, nested ``bool.filter``
- term-level queries in QUERY context: ``term`` / ``terms`` /
  ``range`` / ``exists`` / ``ids`` lower to constant-score leaves
  (score = ``boost``, Lucene's ConstantScore wrap for range/exists;
  pinned deviation: ES idf-scores a keyword ``term``)
- body keys: ``query``, ``size`` (:func:`parse_request`); the one-call
  runner :func:`run_request` adds ``from``, ``sort`` (one doc-value
  key), ``_source``, ``track_total_hits`` and ``aggs`` (10 agg kinds
  over doc-value fields, computed on the COMPLETE match set)

Anything else raises :class:`EsDslError` naming the unsupported key —
the repo-wide fail-loud contract: an unsupported ES feature must never
silently change result semantics. Specialist query types that have
dedicated engine surfaces (``match_phrase`` -> sparkfts.phrase,
``prefix``/``wildcard``/``regexp`` -> sparkfts.prefix, spans ->
sparkfts.spans, ``knn`` -> sparkfts.ops.similarity, ...) are rejected
here by name with a pointer, not half-executed.

Scale shape: pure driver-side parsing — the output IR executes in the
single-pass bool-tree shard kernel; the filter SQL predicate evaluates
JVM-side on the docmap exactly like ``SearchRequest.filter_expr``.
"""

from __future__ import annotations

import base64
import json
import re

from sparkfts.querybuilder import Bool, Clause, DisMax, SearchRequest

DEFAULT_FIELDS = ("text",)

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

_POINTERS = {
    "match_phrase": "sparkfts.phrase.phrase_topk_batch",
    "match_phrase_prefix": "sparkfts.phrase.phrase_prefix_batch",
    "span_near": "sparkfts.spans",
    "span_first": "sparkfts.spans",
    "span_or": "sparkfts.spans",
    "knn": "sparkfts.ops.similarity",
    "more_like_this": "sparkfts.mlt",
    "intervals": "sparkfts.intervals",
    "percolate": "sparkfts.percolate",
    "rank_feature": "sparkfts.scoring.rank_feature_topk",
    "function_score": "sparkfts.docvalues.function_score_topk",
    "script_score": "sparkfts.scripting",
    "pinned": "sparkfts.query.pinned_topk",
    "terms_set": "sparkfts.docvalues.terms_set_topk",
    "has_child": "sparkfts.parentjoin",
    "has_parent": "sparkfts.parentjoin",
    "nested": "sparkfts.nested",
    "geo_distance": "sparkfts.geo.geo_distance",
    "geo_bounding_box": "sparkfts.geo.geo_bounding_box",
    "distance_feature": "sparkfts.docvalues.distance_feature_topk",
    "sparse_vector": "sparkfts.sparsevec",
}


class EsDslError(ValueError):
    """An ES-DSL construct outside the documented subset."""


def _one_key(node: dict, ctx: str) -> tuple[str, object]:
    if not isinstance(node, dict) or len(node) != 1:
        raise EsDslError(
            f"{ctx}: expected a single-key query object, got "
            f"{type(node).__name__} with keys "
            f"{sorted(node) if isinstance(node, dict) else node!r}"
        )
    return next(iter(node.items()))


def _ident(name: str, ctx: str) -> str:
    if not isinstance(name, str) or not _IDENT.match(name):
        raise EsDslError(f"{ctx}: invalid field name {name!r}")
    return name


def _fuzziness(v, ctx: str) -> str:
    """AUTO (the auto_fuzz length ladder), or a FIXED edit distance
    0/1/2 — all four execute natively in the bool-tree kernel (fixed
    distances via the round-5 ``_FUZZY1``/``_FUZZY2`` expansion
    classes; before that, 1/2 silently lowered to an exact clause)."""
    if v is None:
        return "0"
    if isinstance(v, str) and v.upper() == "AUTO":
        return "AUTO"
    try:
        n = int(v)
    except (TypeError, ValueError):
        raise EsDslError(f"{ctx}: unsupported fuzziness {v!r}") from None
    if n in (0, 1, 2):
        return str(n)
    raise EsDslError(f"{ctx}: fuzziness must be AUTO or 0/1/2")


def _operator(v, ctx: str) -> str:
    op = (v or "or").lower()
    if op not in ("and", "or"):
        raise EsDslError(f"{ctx}: operator must be and/or, got {v!r}")
    return op


def _boost_val(spec: dict, ctx: str) -> float:
    b = spec.get("boost", 1.0)
    try:
        b = float(b)
    except (TypeError, ValueError):
        raise EsDslError(f"{ctx}: invalid boost {b!r}") from None
    if b < 0:
        raise EsDslError(f"{ctx}: negative boost")
    return b


def _check_keys(spec: dict, allowed: set, ctx: str) -> None:
    extra = set(spec) - allowed
    if extra:
        raise EsDslError(f"{ctx}: unsupported options {sorted(extra)}")


def _parse_match(body, ctx: str) -> Clause:
    field, spec = _one_key(body, ctx)
    field = _ident(field, ctx)
    if isinstance(spec, str):
        spec = {"query": spec}
    if not isinstance(spec, dict) or "query" not in spec:
        raise EsDslError(f"{ctx}: match needs a query string")
    _check_keys(spec, {"query", "operator", "fuzziness", "boost"}, ctx)
    return Clause(
        query=str(spec["query"]),
        fields=(field,),
        operator=_operator(spec.get("operator"), ctx),
        fuzziness=_fuzziness(spec.get("fuzziness"), ctx),
        boost=_boost_val(spec, ctx),
    )


def _parse_multi_match(spec, ctx: str) -> Clause:
    if not isinstance(spec, dict) or "query" not in spec:
        raise EsDslError(f"{ctx}: multi_match needs a query string")
    _check_keys(
        spec, {"query", "fields", "operator", "fuzziness", "type",
               "tie_breaker", "boost"}, ctx,
    )
    mm_type = spec.get("type", "best_fields")
    if mm_type != "best_fields":
        raise EsDslError(
            f"{ctx}: multi_match type {mm_type!r} unsupported here "
            "(most_fields -> sparkfts.multifield.bm25_most_fields_batch)"
        )
    fields = tuple(spec.get("fields") or DEFAULT_FIELDS)
    if not fields:
        raise EsDslError(f"{ctx}: multi_match fields must be non-empty")
    for f in fields:
        _ident(str(f).split("^", 1)[0], ctx)
    return Clause(
        query=str(spec["query"]),
        fields=fields,
        operator=_operator(spec.get("operator"), ctx),
        fuzziness=_fuzziness(spec.get("fuzziness"), ctx),
        tie_breaker=float(spec.get("tie_breaker", 0.0)),
        boost=_boost_val(spec, ctx),
    )


def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


def _unwrap(node: dict, ctx: str) -> dict:
    """Decode ``wrapper`` queries (base64 JSON) transparently."""
    depth = 0
    while isinstance(node, dict) and set(node) == {"wrapper"}:
        depth += 1
        if depth > 8:
            raise EsDslError(f"{ctx}: wrapper nesting too deep")
        spec = node["wrapper"]
        if not isinstance(spec, dict) or "query" not in spec:
            raise EsDslError(f"{ctx}: wrapper needs a base64 query")
        try:
            node = json.loads(base64.b64decode(spec["query"]))
        except Exception as e:  # noqa: BLE001 — rewrap, fail-loud
            raise EsDslError(f"{ctx}: wrapper does not decode: {e}")
    return node


def parse_query(node) -> Clause | Bool | DisMax:
    """Scoring-context ES query object -> IR node (fail-loud)."""
    kind, spec = _one_key(_unwrap(node, "query"), "query")
    ctx = f"query.{kind}"
    if kind == "match":
        return _parse_match(spec, ctx)
    if kind == "multi_match":
        return _parse_multi_match(spec, ctx)
    if kind == "bool":
        return _parse_bool(spec, ctx, allow_filter=False)[0]
    if kind == "dis_max":
        if not isinstance(spec, dict) or not spec.get("queries"):
            raise EsDslError(f"{ctx}: dis_max needs queries")
        _check_keys(spec, {"queries", "tie_breaker", "boost"}, ctx)
        return DisMax(
            queries=tuple(parse_query(q) for q in spec["queries"]),
            tie_breaker=float(spec.get("tie_breaker", 0.0)),
            boost=_boost_val(spec, ctx),
        )
    if kind == "match_bool_prefix":
        # ES search-as-you-type, non-positional: every analyzed term
        # but the last is a term clause, the last a Prefix leaf;
        # operator picks bool.should (or, the default) vs bool.must.
        # Analysis uses the DEFAULT pinned chain (no index meta at
        # parse time — stopword/stemmer-configured indexes should use
        # sparkfts.prefix.match_bool_prefix_batch, which reads meta).
        from sparkfts.analysis import tokenize
        from sparkfts.querybuilder import Prefix

        field, spec = _one_key(spec, ctx)
        field = _ident(field, ctx)
        if isinstance(spec, str):
            spec = {"query": spec}
        if not isinstance(spec, dict) or "query" not in spec:
            raise EsDslError(f"{ctx}: match_bool_prefix needs a query")
        _check_keys(spec, {"query", "operator", "boost"}, ctx)
        toks = tokenize(str(spec["query"]))
        if not toks:
            raise EsDslError(
                f"{ctx}: query analyzes to no terms"
            )
        members = tuple(
            Clause(query=t, fields=(field,), operator="and",
                   fuzziness="0")
            for t in toks[:-1]
        ) + (Prefix(prefix=toks[-1], fields=(field,)),)
        b = _boost_val(spec, ctx)
        if _operator(spec.get("operator"), ctx) == "or":
            return Bool(should=members, boost=b)
        return Bool(must=members, boost=b)
    if kind == "constant_score":
        from sparkfts.querybuilder import ConstFilter

        if not isinstance(spec, dict) or "filter" not in spec:
            raise EsDslError(f"{ctx}: constant_score needs a filter")
        _check_keys(spec, {"filter", "boost"}, ctx)
        try:
            pred = filter_sql(spec["filter"], f"{ctx}.filter")
        except EsDslError as e:
            raise EsDslError(
                f"{e} — text-query constant_score has its own surface: "
                "sparkfts.scoring.constant_score_topk"
            ) from None
        return ConstFilter(predicate=pred, boost=_boost_val(spec, ctx))
    if kind in ("prefix", "wildcard", "regexp", "fuzzy"):
        # term-level leaf queries (round-5: all four compose inside
        # bool via the kernel's expansion-group classes)
        from sparkfts.querybuilder import (
            FuzzyTerm,
            Prefix,
            Regexp,
            Wildcard,
        )

        field, spec = _one_key(spec, ctx)
        field = _ident(field, ctx)
        if isinstance(spec, str):
            spec = {"value": spec}
        if not isinstance(spec, dict) or "value" not in spec:
            raise EsDslError(f"{ctx}: {kind} needs a value")
        allowed = {"value", "boost"}
        if kind == "fuzzy":
            allowed |= {"fuzziness"}
        _check_keys(spec, allowed, ctx)
        lb = _boost_val(spec, ctx)
        val = str(spec["value"]).strip()
        if not val:
            raise EsDslError(f"{ctx}: empty {kind} value")
        try:
            if kind == "prefix":
                return Prefix(prefix=val.lower(), fields=(field,),
                              boost=lb)
            if kind == "wildcard":
                node = Wildcard(pattern=val.lower(), fields=(field,),
                                boost=lb)
            elif kind == "regexp":
                node = Regexp(pattern=val, fields=(field,), boost=lb)
            else:
                node = FuzzyTerm(
                    term=val.lower(),
                    fuzziness=_fuzziness(spec.get("fuzziness", "AUTO"), ctx),
                    fields=(field,),
                    boost=lb,
                )
            # validate eagerly (the bool-tree lowering would raise the
            # same errors at execution time; surface them at parse)
            from sparkfts.booltree import _to_node

            _to_node(node)
        except EsDslError:
            raise
        except ValueError as e:
            raise EsDslError(f"{ctx}: {e}") from None
        return node
    if kind == "query_string":
        from sparkfts.querystring import QueryStringError, parse_query_string

        if not isinstance(spec, dict) or "query" not in spec:
            raise EsDslError(f"{ctx}: query_string needs a query")
        _check_keys(spec, {"query", "default_operator", "fields"}, ctx)
        fields = tuple(
            _ident(f, ctx) for f in _as_list(spec.get("fields") or ["text"])
        )
        try:
            return parse_query_string(
                str(spec["query"]),
                _operator(spec.get("default_operator"), ctx),
                fields,
            )
        except QueryStringError as e:
            raise EsDslError(f"{ctx}: {e}") from None
    if kind == "simple_query_string":
        from sparkfts.simpleqs import (
            _has_phrase,
            _prune,
            parse_simple_query_string,
        )

        if not isinstance(spec, dict) or "query" not in spec:
            raise EsDslError(f"{ctx}: simple_query_string needs a query")
        _check_keys(
            spec, {"query", "default_operator", "flags", "fields"}, ctx
        )
        fields = tuple(
            _ident(f, ctx) for f in _as_list(spec.get("fields") or ["text"])
        )
        flags = spec.get("flags", "ALL")
        if isinstance(flags, str) and flags not in ("ALL", "NONE"):
            flags = [f for f in flags.split("|") if f]  # ES pipe syntax
        try:
            node = parse_simple_query_string(
                str(spec["query"]),
                _operator(spec.get("default_operator"), ctx),
                flags,
                fields,
            )
        except ValueError as e:
            raise EsDslError(f"{ctx}: {e}") from None
        if node is not None:
            # default-analyzer pruning (no index meta at parse time);
            # stopword/stemmer-configured indexes prune at the executor
            # instead — sparkfts.simpleqs.simple_query_string_topk_batch
            node = _prune(node, None, None)
        if node is None:
            raise EsDslError(
                f"{ctx}: no positive clause survives — ES semantics "
                "match NOTHING; handle the empty result client-side"
            )
        if _has_phrase(node):
            raise EsDslError(
                f"{ctx}: phrase-bearing simple_query_string needs the "
                "positions kernel: use sparkfts.simpleqs."
                "simple_query_string_topk_batch"
            )
        return node
    if kind in ("term", "terms", "range", "exists", "ids"):
        # Term-level queries in QUERY context (round 5). Lucene wraps
        # range/exists/ids in ConstantScore(boost); term/terms on the
        # engine's docvalue metadata fields are pinned the same way
        # (documented deviation: ES would idf-score a keyword term).
        from sparkfts.querybuilder import ConstFilter

        if not isinstance(spec, dict):
            raise EsDslError(f"{ctx}: {kind} needs an object body")
        spec, b = _strip_boost(kind, spec, ctx)
        pred = filter_sql({kind: spec}, ctx + ".as_filter")
        return ConstFilter(predicate=pred, boost=b)
    if kind in _POINTERS:
        raise EsDslError(
            f"{ctx}: use the dedicated surface: {_POINTERS[kind]}"
        )
    raise EsDslError(f"{ctx}: unsupported query type")


def _strip_boost(kind: str, spec: dict, ctx: str) -> tuple[dict, float]:
    """Remove ES's per-kind ``boost`` slot from a term-level query body
    so the remainder is a pure filter-context object; return (cleaned
    spec, boost).  Boost placement varies by kind in ES:

    - ``term``/``range``: inside the per-field object
      (``{"f": {"value": v, "boost": b}}`` / ``{"f": {"gte": .., "boost": b}}``)
    - ``terms``/``exists``/``ids``: sibling of the field/values key
    """
    b = 1.0
    if kind in ("terms", "exists", "ids"):
        if "boost" in spec:
            spec = dict(spec)
            b = _boost_val(spec, ctx)
            spec.pop("boost")
    else:  # term / range: per-field inner object
        field, inner = _one_key(spec, ctx)
        if isinstance(inner, dict) and "boost" in inner:
            inner = dict(inner)
            b = _boost_val(inner, ctx)
            inner.pop("boost")
            spec = {field: inner}
    return spec, b


def _sql_value(v, ctx: str) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise EsDslError(f"{ctx}: unsupported literal {v!r}")


_RANGE_OPS = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}


def filter_sql(node, ctx: str = "filter") -> str:
    """Filter-context ES query object -> docmap SQL predicate
    (``SearchRequest.filter_expr`` dialect, JVM-evaluated)."""
    kind, spec = _one_key(_unwrap(node, ctx), ctx)
    ctx = f"{ctx}.{kind}"
    if kind == "term":
        field, v = _one_key(spec, ctx)
        if isinstance(v, dict):
            _check_keys(v, {"value"}, ctx)
            v = v["value"]
        return f"{_ident(field, ctx)} = {_sql_value(v, ctx)}"
    if kind == "terms":
        field, vals = _one_key(spec, ctx)
        if not isinstance(vals, list) or not vals:
            raise EsDslError(f"{ctx}: terms needs a non-empty list")
        vs = ", ".join(_sql_value(v, ctx) for v in vals)
        return f"{_ident(field, ctx)} IN ({vs})"
    if kind == "range":
        field, bounds = _one_key(spec, ctx)
        field = _ident(field, ctx)
        if not isinstance(bounds, dict) or not bounds:
            raise EsDslError(f"{ctx}: range needs bounds")
        _check_keys(bounds, set(_RANGE_OPS), ctx)
        parts = [
            f"{field} {_RANGE_OPS[op]} {_sql_value(v, ctx)}"
            for op, v in sorted(bounds.items())
        ]
        return "(" + " AND ".join(parts) + ")"
    if kind == "exists":
        if not isinstance(spec, dict) or "field" not in spec:
            raise EsDslError(f"{ctx}: exists needs a field")
        return f"{_ident(spec['field'], ctx)} IS NOT NULL"
    if kind == "ids":
        # ES {"ids": {"values": [...]}} — doc ids are int64 here
        if not isinstance(spec, dict) or not spec.get("values"):
            raise EsDslError(f"{ctx}: ids needs a non-empty values list")
        _check_keys(spec, {"values"}, ctx)
        try:
            vals = sorted(int(v) for v in spec["values"])
        except (TypeError, ValueError):
            raise EsDslError(
                f"{ctx}: ids values must be integers (the engine's "
                "doc_id type)"
            ) from None
        return "doc_id IN (" + ", ".join(str(v) for v in vals) + ")"
    if kind == "bool":
        _check_keys(spec, {"filter", "must"}, ctx)
        subs = [
            filter_sql(f, ctx)
            for key in ("filter", "must")
            for f in _as_list(spec.get(key, []))
        ]
        if not subs:
            raise EsDslError(f"{ctx}: empty bool filter")
        return "(" + " AND ".join(subs) + ")"
    raise EsDslError(f"{ctx}: unsupported in filter context")


def _parse_bool(
    spec: dict, ctx: str, allow_filter: bool
) -> tuple[Bool, str | None]:
    if not isinstance(spec, dict):
        raise EsDslError(f"{ctx}: bool must be an object")
    _check_keys(
        spec,
        {"must", "should", "must_not", "filter", "boost",
         "minimum_should_match"},
        ctx,
    )
    msm = spec.get("minimum_should_match")
    if msm is not None and not isinstance(msm, (int, str)):
        raise EsDslError(
            f"{ctx}: minimum_should_match must be an int or the ES "
            f"value-grammar string, got {type(msm).__name__}"
        )
    nested_filters: tuple = ()
    if spec.get("filter") and not allow_filter:
        # NESTED bool.filter (round 5): each predicate lowers to a
        # zero-scoring docset constraint on this node (Bool.filter ->
        # booltree "docset" nodes); the ROOT filter keeps the
        # SearchRequest.filter_expr include-mask fast path
        nested_filters = tuple(
            filter_sql(f) for f in _as_list(spec["filter"])
        )
    node = Bool(
        must=tuple(parse_query(q) for q in _as_list(spec.get("must", []))),
        should=tuple(
            parse_query(q) for q in _as_list(spec.get("should", []))
        ),
        must_not=tuple(
            parse_query(q) for q in _as_list(spec.get("must_not", []))
        ),
        boost=_boost_val(spec, ctx),
        minimum_should_match=msm,
        filter=nested_filters,
    )
    if not node.must and not node.should and not nested_filters:
        raise EsDslError(
            f"{ctx}: bool needs at least one scoring clause "
            "(must or should)"
        )
    filt = None
    if allow_filter and spec.get("filter"):
        parts = [filter_sql(f) for f in _as_list(spec["filter"])]
        filt = " AND ".join(parts)
    return node, filt


def parse_request(body: dict, default_k: int = 10) -> SearchRequest:
    """Full ES search body -> :class:`SearchRequest` (fail-loud)."""
    if not isinstance(body, dict):
        raise EsDslError("request body must be a JSON object")
    _check_keys(body, {"query", "size"}, "body")
    k = int(body.get("size", default_k))
    if k < 1:
        raise EsDslError("size must be >= 1")
    q = body.get("query")
    if q is None:
        return SearchRequest(clauses=(), k=k)
    q = _unwrap(q, "query")
    kind, spec = _one_key(q, "query")
    if kind == "match_all":
        if spec not in ({}, None):
            raise EsDslError("query.match_all: boost unsupported")
        return SearchRequest(clauses=(), k=k)
    if kind == "bool":
        node, filt = _parse_bool(spec, "query.bool", allow_filter=True)
        return SearchRequest(clauses=(node,), k=k, filter_expr=filt)
    return SearchRequest(clauses=(parse_query(q),), k=k)


def parse_request_json(body_json: str, default_k: int = 10) -> SearchRequest:
    """JSON-string convenience wrapper (the CLI entry point)."""
    try:
        body = json.loads(body_json)
    except json.JSONDecodeError as e:
        raise EsDslError(f"request body is not valid JSON: {e}") from None
    return parse_request(body, default_k)


# ---------------------------------------------------------------------------
# aggregations in the request body (round 5): parse + one-call runner


_DSL_AGG_KINDS = {
    "terms", "stats", "avg", "min", "max", "sum", "value_count",
    "cardinality", "percentiles", "histogram",
}

_AGG_POINTERS = {
    "date_histogram": "sparkfts.aggs.date_histogram",
    "significant_terms": "sparkfts.aggs.significant_terms",
    "composite": "sparkfts.aggs.composite_agg",
    "top_hits": "sparkfts.docvalues.terms_top_hits",
    "filters": "sparkfts.aggs.filters_agg",
    "range": "sparkfts.aggs.range_agg",
    "missing": "sparkfts.aggs.missing_agg",
}


def parse_aggs(
    spec, ctx: str = "aggs"
) -> list[tuple[str, str, dict, list]]:
    """``body["aggs"]`` -> [(name, kind, options)] (fail-loud subset).

    Supported kinds (all over a docvalue field of the provided
    ``doc_values`` frame): ``terms`` (size, min_doc_count — pinned
    GLOBAL exact top-size, the sparkfts.aggs.terms_facet contract),
    ``stats`` / ``avg`` / ``min`` / ``max`` / ``sum`` /
    ``value_count``, ``cardinality`` (EXACT pin, the cardinality_agg
    contract), ``percentiles`` (exact percentile_cont), ``histogram``
    (fixed interval, min_doc_count>=1 buckets only). Sub-``aggs``
    nesting and the kinds with dedicated surfaces fail loud with
    pointers."""
    if not isinstance(spec, dict) or not spec:
        raise EsDslError(f"{ctx}: aggs must be a non-empty object")
    out: list[tuple[str, str, dict, list]] = []
    for name, obj in spec.items():
        actx = f"{ctx}.{name}"
        if not isinstance(name, str) or not name:
            raise EsDslError(f"{ctx}: agg names must be strings")
        if not isinstance(obj, dict):
            raise EsDslError(f"{actx}: must be an object")
        sub_spec = obj.get("aggs") or obj.get("aggregations")
        obj = {
            k: v for k, v in obj.items() if k not in ("aggs", "aggregations")
        }
        kind, opts = _one_key(obj, actx)
        subs: list[tuple[str, str, dict]] = []
        if sub_spec is not None:
            # ONE level of metric sub-aggs under a terms parent (the
            # dominant ES shape: buckets + per-bucket metrics, computed
            # in the SAME groupBy); anything deeper / non-terms parent
            # points at the dedicated surfaces
            if kind != "terms":
                raise EsDslError(
                    f"{actx}: sub-aggregations are supported under "
                    "`terms` parents only — deeper nesting has the "
                    "dedicated surfaces (sparkfts.aggs."
                    "terms_stats_nested, composite_agg, ...)"
                )
            if not isinstance(sub_spec, dict) or not sub_spec:
                raise EsDslError(f"{actx}.aggs: must be a non-empty object")
            for sname, sobj in sub_spec.items():
                sctx = f"{actx}.aggs.{sname}"
                if not isinstance(sobj, dict):
                    raise EsDslError(f"{sctx}: must be an object")
                if "aggs" in sobj or "aggregations" in sobj:
                    raise EsDslError(
                        f"{sctx}: only ONE sub-agg level is supported "
                        "here — use sparkfts.aggs.terms_stats_nested"
                    )
                skind, sopts = _one_key(sobj, sctx)
                if skind not in (
                    "avg", "min", "max", "sum", "value_count", "stats",
                    "cardinality",
                ):
                    raise EsDslError(
                        f"{sctx}: unsupported sub-agg type {skind!r} "
                        "(metric sub-aggs only)"
                    )
                if not isinstance(sopts, dict) or "field" not in sopts:
                    raise EsDslError(f"{sctx}: {skind} needs a field")
                _ident(str(sopts["field"]), sctx)
                _check_keys(sopts, {"field"}, sctx)
                subs.append((sname, skind, dict(sopts)))
        if kind in _AGG_POINTERS:
            raise EsDslError(
                f"{actx}: use the dedicated surface: {_AGG_POINTERS[kind]}"
            )
        if kind not in _DSL_AGG_KINDS:
            raise EsDslError(f"{actx}: unsupported agg type {kind!r}")
        if not isinstance(opts, dict) or "field" not in opts:
            raise EsDslError(f"{actx}: {kind} needs a field")
        _ident(str(opts["field"]), actx)
        allowed = {"field"}
        if kind == "terms":
            allowed |= {"size", "min_doc_count"}
        elif kind == "percentiles":
            allowed |= {"percents"}
        elif kind == "histogram":
            allowed |= {"interval"}
        _check_keys(opts, allowed, actx)
        if kind == "terms":
            if int(opts.get("size", 10)) < 1:
                raise EsDslError(f"{actx}: size must be >= 1")
        if kind == "histogram":
            if float(opts.get("interval", 0)) <= 0:
                raise EsDslError(f"{actx}: interval must be > 0")
        out.append((name, kind, dict(opts), subs))
    return out


def _parse_sort(spec, ctx: str = "sort") -> tuple[str, bool]:
    """``body["sort"]`` (one key, + the pinned doc_id tiebreak) ->
    ``(field, ascending)``. ES list-of-one shapes accepted:
    ``[{"f": {"order": "desc"}}]`` / ``[{"f": "desc"}]`` / ``["f"]`` /
    ``"f"``. Multi-key sorts are outside the subset (fail loud)."""
    if isinstance(spec, list):
        if len(spec) != 1:
            raise EsDslError(
                f"{ctx}: exactly ONE sort key in the pinned subset "
                "(doc_id is always the tiebreak)"
            )
        spec = spec[0]
    if isinstance(spec, str):
        return _ident(spec, ctx), True
    field, opts = _one_key(spec, ctx)
    field = _ident(field, ctx)
    if isinstance(opts, str):
        order = opts
    elif isinstance(opts, dict):
        _check_keys(opts, {"order"}, ctx)
        order = opts.get("order", "asc")
    else:
        raise EsDslError(f"{ctx}: bad sort spec for {field!r}")
    if order not in ("asc", "desc"):
        raise EsDslError(f"{ctx}: order must be asc/desc, got {order!r}")
    return field, order == "asc"


def run_request(
    spark,
    index_dir: str,
    body: dict,
    doc_values=None,
    default_k: int = 10,
):
    """Execute a full ES search body -> ``{"hits": DataFrame,
    "aggregations": {name: DataFrame}, "total": int | None}``.

    Body keys (the pinned one-call subset): ``query``, ``size``,
    ``from`` (page offset — cost O(from+size), the ES shallow-paging
    model), ``sort`` (ONE doc-value key + the pinned doc_id tiebreak;
    replaces relevance ranking, ES semantics), ``_source`` (doc-value
    columns joined into the hits page), ``track_total_hits`` (true ->
    exact match-set count in ``"total"``), ``aggs``.

    The ES contract pinned: aggregations (and the total) run over the
    COMPLETE match set (never just the hits page), computed once via
    :func:`sparkfts.booltree.bool_matches_batch` (filter_expr and
    tombstones included) and joined to the caller's ``doc_values``
    frame (doc_id + the agg/sort/_source fields). A match-all query
    ranks, counts and aggregates the live docs: tombstoned ids are
    masked out of the docmap and of ``doc_values``. Each agg lowers to
    plain grouped / scalar Catalyst aggregation on that scope —
    partial-agg shuffles only; the sorted page is a TakeOrdered over
    the scope (never a full sort)."""
    from pyspark.sql import Window, functions as F

    from sparkfts.booltree import bool_matches_batch, bool_topk_batch

    if not isinstance(body, dict):
        raise EsDslError("request body must be a JSON object")
    agg_spec = body.get("aggs") or body.get("aggregations")
    sort_spec = body.get("sort")
    source_spec = body.get("_source")
    track_total = bool(body.get("track_total_hits", False))
    offset = int(body.get("from", 0))
    if offset < 0:
        raise EsDslError("from must be >= 0")
    after = body.get("search_after")
    if after is not None:
        # ES: search_after needs a sort, excludes from, and the cursor
        # is (sort value, doc_id tiebreak) — the O(k)-per-page model
        if sort_spec is None:
            raise EsDslError("search_after requires sort")
        if offset:
            raise EsDslError("search_after and from are mutually "
                             "exclusive (ES)")
        if not isinstance(after, list) or len(after) != 2:
            raise EsDslError(
                "search_after must be [last sort value, last doc_id]"
            )
    q_body = {
        k: v
        for k, v in body.items()
        if k in ("query", "size")
    }
    extras = set(body) - {
        "query", "size", "aggs", "aggregations", "sort", "_source",
        "track_total_hits", "from", "search_after",
    }
    if extras:
        raise EsDslError(f"body: unsupported options {sorted(extras)}")
    req = parse_request(q_body, default_k)

    needs_dv = (
        agg_spec is not None or sort_spec is not None
        or source_spec is not None
    )
    if needs_dv and doc_values is None:
        raise EsDslError(
            "aggs/sort/_source need a doc_values frame (doc_id + fields)"
        )
    dv_fields: set = set()
    aggs = parse_aggs(agg_spec) if agg_spec is not None else []
    dv_fields |= {str(o["field"]) for _n, _k, o, _s in aggs}
    dv_fields |= {
        str(so["field"]) for _n, _k, _o, subs in aggs
        for _sn, _sk, so in subs
    }
    sort_key = _parse_sort(sort_spec) if sort_spec is not None else None
    if sort_key:
        dv_fields.add(sort_key[0])
    source_cols: list[str] = []
    if source_spec is not None:
        source_cols = (
            [source_spec] if isinstance(source_spec, str)
            else [str(c) for c in source_spec]
        )
        dv_fields |= set(source_cols)
    if doc_values is not None:
        missing = dv_fields - set(doc_values.columns)
        if missing:
            raise EsDslError(
                f"fields not in doc_values: {sorted(missing)}"
            )

    # the complete match set (computed once; aggs, sort, total share it)
    scope = None
    match = None
    if not req.is_match_all:
        match = (
            bool_matches_batch(spark, index_dir, [req])
            .select("doc_id", "score")
        )
    else:
        from sparkfts.deletes import load_tombstones
        from sparkfts.index import in_list, load_docmap

        tomb = load_tombstones(spark, index_dir)
        live = (
            None if tomb is None
            else ~in_list("doc_id", [int(d) for d in tomb])
        )

        def live_docs():
            docs = load_docmap(spark, index_dir)
            return docs if live is None else docs.where(live)

        if doc_values is not None and live is not None:
            doc_values = doc_values.where(live)
    if doc_values is not None:
        scope = (
            doc_values if req.is_match_all
            else doc_values.join(match.select("doc_id"), "doc_id")
        )

    page = int(req.k) + offset
    if sort_key is not None:
        field, asc = sort_key
        c = F.col(field)
        page_scope = scope  # aggs keep the FULL match set (ES contract)
        if after is not None:
            av, ad = after
            strict = (c > F.lit(av)) if asc else (c < F.lit(av))
            page_scope = scope.where(
                strict
                | ((c == F.lit(av)) & (F.col("doc_id") > F.lit(int(ad))))
            )
        ordered = page_scope.orderBy(
            c.asc() if asc else c.desc(), F.col("doc_id").asc()
        ).limit(page)
        w = Window.orderBy(
            c.asc() if asc else c.desc(), F.col("doc_id").asc()
        )
        hits = (
            ordered.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") > offset)
            .select(
                (F.col("rank") - offset).cast("int").alias("rank"),
                "doc_id",
                c.alias("sort_value"),
            )
        )
    elif req.is_match_all:
        from sparkfts.querybuilder import match_all_topk

        hits = (
            match_all_topk(live_docs(), k=page)
            .where(F.col("rank") > offset)
            .select(
                (F.col("rank") - offset).cast("int").alias("rank"),
                "doc_id", "score",
            )
        )
    else:
        import dataclasses

        paged = dataclasses.replace(req, k=page)
        hits = (
            bool_topk_batch(spark, index_dir, [paged])
            .drop("request_id")
            .where(F.col("rank") > offset)
            .select(
                (F.col("rank") - offset).cast("int").alias("rank"),
                "doc_id", "score",
            )
        )
    if source_cols:
        hits = hits.join(
            doc_values.select("doc_id", *source_cols), "doc_id", "left"
        ).orderBy("rank")

    out = {"hits": hits, "aggregations": {}, "total": None}
    if track_total:
        if req.is_match_all:
            out["total"] = live_docs().count()
        else:
            out["total"] = match.count()
    if not aggs:
        return out
    for name, kind, opts, subs in aggs:
        fld = str(opts["field"])
        c = F.col(fld)
        if kind == "terms":
            size = int(opts.get("size", 10))
            mdc = int(opts.get("min_doc_count", 1))
            # metric sub-aggs compute in the SAME groupBy (one shuffle
            # for buckets + all their metrics — the ES shard-fold shape)
            agg_exprs = [F.count("*").alias("doc_count")]
            for sname, skind, sopts in subs:
                sc2 = F.col(str(sopts["field"]))
                if skind == "stats":
                    agg_exprs += [
                        F.count(sc2).alias(f"{sname}_count"),
                        F.min(sc2).alias(f"{sname}_min"),
                        F.max(sc2).alias(f"{sname}_max"),
                        F.sum(sc2.cast("double")).alias(f"{sname}_sum"),
                        F.avg(sc2.cast("double")).alias(f"{sname}_avg"),
                    ]
                elif skind in ("avg", "sum"):
                    fn2 = {"avg": F.avg, "sum": F.sum}[skind]
                    agg_exprs.append(
                        fn2(sc2.cast("double")).alias(sname)
                    )
                elif skind in ("min", "max"):
                    fn2 = {"min": F.min, "max": F.max}[skind]
                    agg_exprs.append(fn2(sc2).alias(sname))
                elif skind == "value_count":
                    agg_exprs.append(F.count(sc2).alias(sname))
                else:  # cardinality (exact pin)
                    agg_exprs.append(F.countDistinct(sc2).alias(sname))
            frame = (
                scope.where(c.isNotNull())
                .groupBy(c.alias("key"))
                .agg(*agg_exprs)
                .where(F.col("doc_count") >= mdc)
                .orderBy(F.desc("doc_count"), F.asc("key"))
                .limit(size)
            )
        elif kind == "stats":
            frame = scope.agg(
                F.count(c).alias("count"),
                F.min(c).alias("min"),
                F.max(c).alias("max"),
                F.sum(c.cast("double")).alias("sum"),
                F.avg(c.cast("double")).alias("avg"),
            )
        elif kind in ("avg", "min", "max", "sum"):
            fn = {"avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum}[
                kind
            ]
            col = c.cast("double") if kind in ("avg", "sum") else c
            frame = scope.agg(fn(col).alias("value"))
        elif kind == "value_count":
            frame = scope.agg(F.count(c).alias("value"))
        elif kind == "cardinality":
            frame = scope.agg(F.countDistinct(c).alias("value"))
        elif kind == "percentiles":
            pcts = [
                float(p) for p in opts.get("percents", [25, 50, 75, 95])
            ]
            vals = scope.agg(
                F.percentile(
                    c.cast("double"),
                    F.array(*[F.lit(p / 100.0) for p in pcts]),
                ).alias("vals")
            )
            pct_arr = F.array(*[F.lit(p) for p in pcts])
            frame = vals.select(
                F.explode(
                    F.arrays_zip(
                        pct_arr.alias("pct"), F.col("vals").alias("value")
                    )
                ).alias("z")
            ).select(
                F.col("z.pct").alias("pct"), F.col("z.value").alias("value")
            )
        else:  # histogram
            interval = float(opts["interval"])
            frame = (
                scope.where(c.isNotNull())
                .groupBy(
                    (
                        F.floor(c.cast("double") / interval) * interval
                    ).alias("bucket")
                )
                .agg(F.count("*").alias("doc_count"))
                .orderBy("bucket")
            )
        out["aggregations"][name] = frame
    return out
