"""ES ``prefix`` term query: dictionary range expansion -> grouped top-k.

The reference's ES backend answers ``{"prefix": {"text": "spa"}}`` from
Lucene's sorted term dictionary (the DSL the reference emits never uses
it — same "backend surface a real user hits next" family as fuzzy /
phrase, reference ElasticsearchHandler.py:69). Here the terms table is
written sorted by term within each tbucket file
(sparkfts/index.py:_write_terms), so the ``startswith`` predicate prunes
parquet row groups via min/max term stats — a range scan, never a full
dictionary read. The dictionary stays distributed; only the (small)
matching expansion set is collected.

Pinned scoring (executable spec mirrored by the DuckDB oracle in
``__spark_entry__.fts_prefix_topk``): each matching dictionary term is an
expansion weighted by its own ``idf``; per document the BEST expansion
wins —

    score(d) = max over expansions t of idf(t) * tf_norm(t, d) * (k1+1)

i.e. the ``boost = 1.0`` case of the fuzzy grouped scorer
(:func:`sparkfts.wand.fuzzy_group`), which this module reuses verbatim.
``max`` over float64 is order-independent, so results are deterministic
regardless of expansion enumeration order. Ties break (-score, doc_id).

``max_expansions``: ES-style cap, first N expansions in sorted term
order (ES's multi-term rewrite cap). ``None`` = exhaustive — the
oracle-parity default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkfts.stats import idf as idf_fn


def expand_prefix(
    spark: SparkSession,
    index_dir: str,
    prefixes: list[tuple[int, str]],
    n_docs: int,
    max_expansions: int | None = None,
) -> dict[int, list[tuple[str, float]]]:
    """``query_id -> [(term, idf weight)]`` for each prefix, from the
    terms dictionary (row-group-pruned ``startswith`` range scan)."""
    from sparkfts.index import load_terms

    out: dict[int, list[tuple[str, float]]] = {qid: [] for qid, _ in prefixes}
    valid = [(qid, p) for qid, p in prefixes if p]
    if not valid:
        return out
    terms = load_terms(spark, index_dir)
    cond = None
    for _, p in valid:
        c = F.col("term").startswith(p)
        cond = c if cond is None else (cond | c)
    rows = terms.where(cond).select("term", "df").collect()
    for qid, p in valid:
        exps = sorted(
            (r["term"], int(r["df"])) for r in rows if r["term"].startswith(p)
        )
        if max_expansions is not None:
            exps = exps[:max_expansions]
        out[qid] = [(t, idf_fn(n_docs, df)) for t, df in exps]
    return out


def prefix_topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    max_expansions: int | None = None,
    offset: int = 0,
    filter_expr: str | None = None,
) -> DataFrame:
    """Answer a batch of prefix top-k queries -> (query_id, rank, doc_id,
    score). Plan: dictionary range expansion (small collect) -> postings
    pruned to the expansion set -> per-shard grouped kernel (same
    best-expansion-wins kernel as fuzzy) -> global window top-k."""
    return _expanded_topk_batch(
        spark, index_dir, queries, expand_prefix, max_expansions, offset,
        filter_expr,
    )


def _expanded_topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    expander,
    max_expansions: int | None = None,
    offset: int = 0,
    filter_expr: str | None = None,
    lower_patterns: bool = True,
) -> DataFrame:
    """Shared scoring tail for dictionary-expansion term queries
    (prefix / wildcard / regexp): expansion collect -> pruned postings
    -> grouped best-expansion-wins kernel -> global window top-k.
    ``lower_patterns=False`` for pattern syntaxes where case-folding
    changes meaning (regexp escapes: lower('\\D') = '\\d')."""
    from sparkfts.deletes import load_tombstones
    from sparkfts.index import load_postings, read_meta, term_bucket
    from sparkfts.query import _empty_results, _make_fuzzy_shard_scorer

    meta = read_meta(index_dir)
    queries = [
        (qid, p.strip().lower() if lower_patterns else p.strip(),
         k + int(offset))
        for qid, p, k in queries if p and p.strip()
    ]
    if not queries or meta["n_docs"] == 0:
        return _empty_results(spark)

    expansions = expander(
        spark, index_dir, [(qid, p) for qid, p, _ in queries],
        meta["n_docs"], max_expansions,
    )
    queries_grouped = [
        (qid, [(p, expansions.get(qid, []))], k) for qid, p, k in queries
    ]
    all_terms = sorted(
        {t for exps in expansions.values() for t, _ in exps}
    )
    if not all_terms:
        return _empty_results(spark)
    return _grouped_tail(
        spark, index_dir, meta, queries_grouped, all_terms,
        mode="or",  # single group per query: and/or coincide
        offset=offset, filter_expr=filter_expr,
    )


def _grouped_tail(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    queries_grouped,
    all_terms: list[str],
    mode: str,
    offset: int = 0,
    filter_expr: str | None = None,
) -> DataFrame:
    """Grouped-scorer execution tail shared by prefix / wildcard /
    match_bool_prefix: pruned postings -> per-shard grouped kernel ->
    global window top-k."""
    from sparkfts.deletes import load_tombstones
    from sparkfts.index import load_postings, term_bucket
    from sparkfts.query import _make_fuzzy_shard_scorer

    buckets = sorted({term_bucket(t, meta["n_tbuckets"]) for t in all_terms})
    postings = load_postings(spark, index_dir).where(
        F.col("tbucket").isin(buckets) & F.col("term").isin(all_terms)
    )
    scorer = _make_fuzzy_shard_scorer(
        queries_grouped,
        meta["avgdl"],
        mode,
        exclude=load_tombstones(spark, index_dir),
        filtered=filter_expr is not None,
    )
    result_schema = "query_id int, doc_id long, score double"
    if filter_expr is not None:
        from sparkfts.index import load_docmap

        allowed = (
            load_docmap(spark, index_dir)
            .where(F.expr(filter_expr))
            .select("shard", "doc_id")
        )
        local = (
            postings.groupby("shard")
            .cogroup(allowed.groupby("shard"))
            .applyInPandas(lambda l, r: scorer(l, r), result_schema)
        )
    else:
        local = postings.groupby("shard").applyInPandas(
            lambda pdf: scorer(pdf), result_schema
        )
    from sparkfts.index import lit_map

    k_map = lit_map((qid, k) for qid, _, k in queries_grouped)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(
            (F.col("rank") <= F.element_at(k_map, F.col("query_id")))
            & (F.col("rank") > F.lit(int(offset)))
        )
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
        .orderBy("query_id", "rank")
    )


def match_bool_prefix_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    mode: str = "or",
    max_expansions: int | None = None,
    offset: int = 0,
    filter_expr: str | None = None,
) -> DataFrame:
    """ES ``match_bool_prefix`` (search-as-you-type, non-positional):
    every term but the last is a plain term clause, the last is a
    ``prefix`` clause; clauses combine as ``bool.should`` (``mode='or'``,
    the ES default) or ``bool.must`` (``mode='and'``, ES
    ``operator: and``).

    Pinned scoring stays consistent with the engine's prefix query:
    each clause is a group scored ``idf * tf_norm * (k1+1)``; the
    prefix group's expansions each carry their OWN idf and the best
    expansion wins per doc (prefix.py module docstring) — the same
    grouped kernel as fuzzy/prefix, one pruned postings pass,
    per-shard top-k, ``<= n_shards * k`` rows to the global window.
    """
    from sparkfts.analysis import analysis_opts, tokenize
    from sparkfts.index import df_map_for, read_meta
    from sparkfts.query import _empty_results

    meta = read_meta(index_dir)
    sw, stem = analysis_opts(meta)
    analyzed = []
    for qid, text, k in queries:
        toks = tokenize(text, sw, stem)
        if toks:
            analyzed.append((qid, toks, k + int(offset)))
    if not analyzed or meta["n_docs"] == 0:
        return _empty_results(spark)

    fixed_terms = sorted(
        {t for _, toks, _ in analyzed for t in toks[:-1]}
    )
    df_map = df_map_for(spark, index_dir, fixed_terms)
    prefixes = sorted({(qid, toks[-1]) for qid, toks, _ in analyzed})
    expansions = expand_prefix(
        spark, index_dir, list(prefixes), meta["n_docs"], max_expansions
    )
    queries_grouped = []
    all_terms: set[str] = set()
    for qid, toks, k in analyzed:
        groups = []
        for t in toks[:-1]:
            w = idf_fn(meta["n_docs"], df_map.get(t, 0))
            groups.append((t, [(t, w)] if df_map.get(t, 0) else []))
            if df_map.get(t, 0):
                all_terms.add(t)
        exps = expansions.get(qid, [])
        groups.append((f"{toks[-1]}*", exps))
        all_terms.update(t for t, _ in exps)
        queries_grouped.append((qid, groups, k))
    if not all_terms:
        return _empty_results(spark)
    return _grouped_tail(
        spark, index_dir, meta, queries_grouped, sorted(all_terms),
        mode=mode, offset=offset, filter_expr=filter_expr,
    )


def prefix_topk(
    spark: SparkSession, index_dir: str, prefix: str, k: int = 10, **kw
) -> DataFrame:
    """Single-prefix wrapper -> DataFrame(rank, doc_id, score)."""
    return prefix_topk_batch(
        spark, index_dir, [(0, prefix, k)], **kw
    ).select("rank", "doc_id", "score")


def _pattern_to_regex(pattern: str) -> str:
    """ES wildcard pattern -> anchored regex: ``*`` = any run, ``?`` =
    one char; everything else literal."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append("[a-z0-9]*")
        elif ch == "?":
            out.append("[a-z0-9]")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def expand_wildcard(
    spark: SparkSession,
    index_dir: str,
    patterns: list[tuple[int, str]],
    n_docs: int,
    max_expansions: int | None = None,
) -> dict[int, list[tuple[str, float]]]:
    """``query_id -> [(term, idf weight)]`` for each wildcard pattern.

    Like Lucene's WildcardQuery, the literal prefix before the first
    wildcard narrows the dictionary scan to a ``startswith`` range
    (row-group pruned); the full pattern then matches as an anchored
    regex. A leading-wildcard pattern scans the whole (tiny relative to
    postings) dictionary — same caveat ES documents for ``*foo``.
    """
    from sparkfts.index import load_terms

    out: dict[int, list[tuple[str, float]]] = {
        qid: [] for qid, _ in patterns
    }
    valid = [(qid, p) for qid, p in patterns if p and p.strip("*?")]
    if not valid:
        return out
    terms = load_terms(spark, index_dir)
    cond = None
    for _, p in valid:
        lit = p.split("*")[0].split("?")[0]
        c = F.col("term").rlike(_pattern_to_regex(p))
        if lit:  # range pre-filter for row-group pruning
            c = F.col("term").startswith(lit) & c
        cond = c if cond is None else (cond | c)
    rows = terms.where(cond).select("term", "df").collect()
    import re as _re

    for qid, p in valid:
        rx = _re.compile(_pattern_to_regex(p))
        exps = sorted(
            (r["term"], int(r["df"])) for r in rows if rx.match(r["term"])
        )
        if max_expansions is not None:
            exps = exps[:max_expansions]
        out[qid] = [(t, idf_fn(n_docs, df)) for t, df in exps]
    return out


def wildcard_topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    max_expansions: int | None = None,
    offset: int = 0,
    filter_expr: str | None = None,
) -> DataFrame:
    """ES ``wildcard`` query top-k — same pinned best-expansion-wins
    scoring as :func:`prefix_topk_batch`, expansion set from
    :func:`expand_wildcard`."""
    return _expanded_topk_batch(
        spark, index_dir, queries, expand_wildcard, max_expansions, offset,
        filter_expr,
    )


# ES `regexp` query — the last member of the multi-term query family
# (term / prefix / wildcard / fuzzy / regexp). Syntax is pinned to the
# Java-regex / RE2 common subset (the same portability rule as
# ops/textclean.py's PII chain) so the Spark JVM `rlike`, the Python
# validator, and the DuckDB oracle all agree; Lucene's OPTIONAL
# operators (`~` complement, `@` any-string, `#` empty, `&`
# intersection, `<n-m>` numeric range) are rejected fail-loud, matching
# an ES index with `regexp` flags set to NONE.

_LUCENE_ONLY_OPS = "~@#&<>"


def validate_regexp(pattern: str) -> None:
    """Fail-loud syntax gate: compiles under Python `re` AND contains
    no unescaped Lucene-optional operator / backreference."""
    import re as _re

    if not pattern:
        raise ValueError("regexp pattern must be non-empty")
    prev_backslash = False
    for ch in pattern:
        if prev_backslash:
            if ch.isdigit():
                raise ValueError(
                    "backreferences are not supported in regexp queries"
                )
            prev_backslash = False
            continue
        if ch == "\\":
            prev_backslash = True
            continue
        if ch in _LUCENE_ONLY_OPS:
            raise ValueError(
                f"Lucene optional operator {ch!r} is not supported "
                "(flags=NONE semantics); escape it with a backslash "
                "to match literally"
            )
    try:
        _re.compile(pattern)
    except _re.error as e:
        raise ValueError(f"invalid regexp pattern {pattern!r}: {e}") from e


def regexp_literal_prefix(pattern: str) -> str:
    """Leading literal run of an (anchored) regexp — the Lucene trick
    that turns `spa.*k` into a `startswith('spa')` dictionary range
    scan. A char is literal only if it is not a metachar and not
    followed by a quantifier (in `ab*`, only `a` is guaranteed)."""
    meta = set(".?*+[]{}()|\\^$")
    lit = []
    for i, ch in enumerate(pattern):
        if ch in meta:
            break
        if i + 1 < len(pattern) and pattern[i + 1] in "*+?{":
            break
        lit.append(ch)
    return "".join(lit)


def expand_regexp(
    spark: SparkSession,
    index_dir: str,
    patterns: list[tuple[int, str]],
    n_docs: int,
    max_expansions: int | None = None,
) -> dict[int, list[tuple[str, float]]]:
    """``query_id -> [(term, idf weight)]`` for each regexp pattern.

    ES `regexp` is implicitly anchored (the pattern must match the
    WHOLE term); the literal prefix narrows the dictionary scan to a
    row-group-pruned `startswith` range when the pattern has one, else
    the scan covers the (postings-relative tiny) dictionary — the same
    caveat ES documents for `.*foo`-shaped patterns.
    """
    import re as _re

    from sparkfts.index import load_terms

    out: dict[int, list[tuple[str, float]]] = {
        qid: [] for qid, _ in patterns
    }
    valid = [(qid, p) for qid, p in patterns if p]
    for _, p in valid:
        validate_regexp(p)
    if not valid:
        return out
    terms = load_terms(spark, index_dir)
    cond = None
    for _, p in valid:
        c = F.col("term").rlike(f"^(?:{p})$")
        lit = regexp_literal_prefix(p)
        if lit:
            c = F.col("term").startswith(lit) & c
        cond = c if cond is None else (cond | c)
    rows = terms.where(cond).select("term", "df").collect()
    for qid, p in valid:
        rx = _re.compile(f"(?:{p})\\Z")
        exps = sorted(
            (r["term"], int(r["df"])) for r in rows if rx.match(r["term"])
        )
        if max_expansions is not None:
            exps = exps[:max_expansions]
        out[qid] = [(t, idf_fn(n_docs, df)) for t, df in exps]
    return out


def regexp_topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    max_expansions: int | None = None,
    offset: int = 0,
    filter_expr: str | None = None,
) -> DataFrame:
    """ES ``regexp`` query top-k — same pinned best-expansion-wins
    scoring as prefix/wildcard, expansion set from
    :func:`expand_regexp`."""
    return _expanded_topk_batch(
        spark, index_dir, queries, expand_regexp, max_expansions, offset,
        filter_expr, lower_patterns=False,
    )
