"""Command-line entry points — the ``spark-submit --py-files`` surface.

Usage (local sandbox; on a cluster replace ``python -m`` with
``spark-submit --py-files dist/sparkfts.zip sparkfts/cli.py ...``):

  python -m sparkfts.cli synth  --out /tmp/pages.parquet --docs 5000
  python -m sparkfts.cli build  --input /tmp/pages.parquet --index /tmp/idx \
      --shards 8 [--resume] [--cores 32]
  python -m sparkfts.cli query  --index /tmp/idx --query "hello world" \
      [--k 10] [--mode and|or]
  python -m sparkfts.cli bench  --input /tmp/pages.parquet --index /tmp/idx \
      --cores 8,32

The reference's equivalent surface is env-var configured ``startProcess``
(reference ElasticsearchToNeo4jSync.py:305-344, README.md:60-88); here
everything is explicit CLI args — no secrets, no network.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(cores: str, app: str):
    from sparkfts.session import get_spark

    return get_spark(cores=cores, app_name=app)


def cmd_synth(args: argparse.Namespace) -> None:
    from sparkfts.synth import write_corpus

    t0 = time.time()
    tbl = write_corpus(args.out, args.docs, seed=args.seed)
    print(
        json.dumps(
            {"docs": tbl.num_rows, "path": args.out, "sec": round(time.time() - t0, 2)}
        )
    )


def cmd_build(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-build")
    t0 = time.time()
    pages = spark.read.parquet(args.input)
    if args.fields:
        if args.resume:
            raise SystemExit("--resume is per-field; rerun without --fields")
        if args.routing_col:
            raise SystemExit(
                "--routing-col is not supported with --fields"
            )
        if args.expander:
            raise SystemExit("--expander is not supported with --fields")
        from sparkfts.multifield import build_multifield_index

        mf = build_multifield_index(
            pages,
            args.index,
            fields=tuple(args.fields.split(",")),
            n_shards=args.shards,
            n_tbuckets=args.tbuckets,
            validate_extraction=args.validate,
            stopwords=(
                args.stopwords.split(",") if args.stopwords else None
            ),
            stemmer=args.stemmer,
        )
        sec = time.time() - t0
        print(
            json.dumps(
                {
                    "n_docs": mf["n_docs"],
                    "fields": mf["fields"],
                    "sec": round(sec, 2),
                    "docs_per_sec": (
                        round(mf["n_docs"] / sec, 1) if sec else None
                    ),
                    "index": args.index,
                }
            )
        )
        return
    if args.resume:
        if args.routing_col:
            raise SystemExit("--routing-col is not supported with --resume")
        if args.stopwords or args.stemmer or args.expander:
            # resumable builds pin global stats up front; analyzer-aware
            # stats aren't threaded there yet — fail loudly, never drop
            raise SystemExit(
                "--stopwords/--stemmer/--expander are not supported "
                "with --resume"
            )
        from sparkfts.checkpoint import resumable_build

        meta = resumable_build(
            pages,
            args.index,
            n_shards=args.shards,
            n_tbuckets=args.tbuckets,
            shards_per_job=args.shards_per_job,
            validate_extraction=args.validate,
        )
    else:
        from sparkfts.index import build_index

        meta = build_index(
            pages,
            args.index,
            n_shards=args.shards,
            n_tbuckets=args.tbuckets,
            validate_extraction=args.validate,
            docvalue_cols=(
                args.docvalues.split(",") if args.docvalues else None
            ),
            stopwords=(
                args.stopwords.split(",") if args.stopwords else None
            ),
            stemmer=args.stemmer,
            routing_col=args.routing_col,
            expander=args.expander,
        )
    sec = time.time() - t0
    print(
        json.dumps(
            {
                "n_docs": meta["n_docs"],
                "avgdl": round(meta["avgdl"], 4),
                "sec": round(sec, 2),
                "docs_per_sec": round(meta["n_docs"] / sec, 1) if sec else None,
                "index": args.index,
            }
        )
    )


def cmd_query(args: argparse.Namespace) -> None:
    # --search-after and --min-should-match are only threaded through the
    # plain-query path; fail loudly rather than silently ignoring them
    # (checked before any Spark session spins up).
    if args.syntax == "query_string":
        bad = [
            flag
            for flag, on in (
                ("--phrase", args.phrase),
                ("--prefix", args.prefix),
                ("--wildcard", args.wildcard),
                ("--regexp", args.regexp),
                ("--fuzzy", args.fuzzy),
                ("--fields", args.fields),
                ("--synonyms", args.synonyms),
                ("--filter", args.filter),
                ("--must-not", args.must_not),
                ("--search-after", args.search_after),
                ("--offset", args.offset),
                ("--slop", args.slop),
                ("--transpositions", args.transpositions),
                ("--min-should-match", args.min_should_match != 1),
                ("--routing", args.routing is not None),
                ("--fuzzy-prefix-length", bool(args.fuzzy_prefix_length)),
                ("--scroll", bool(args.scroll)),
            )
            if on
        ]
        if bad:
            raise SystemExit(
                f"{' / '.join(bad)} not supported with --syntax "
                "query_string (the syntax carries fuzziness/negation/"
                "grouping itself)"
            )
        spark = _spark(args.cores, "sparkfts-query")
        from sparkfts.index import load_docmap
        from sparkfts.querystring import query_string_topk_batch

        t0 = time.time()
        res = query_string_topk_batch(
            spark, args.index, [(0, args.query, args.k)],
            default_operator=args.default_operator,
            max_expansions=args.max_expansions,
        )
        urls = load_docmap(spark, args.index).select("doc_id", "url")
        rows = (
            res.join(urls, "doc_id", "left")
            .select("rank", "doc_id", "url", "score")
            .orderBy("rank")
            .collect()
        )
        _print_hits(rows, time.time() - t0, min_score=args.min_score)
        return
    if args.syntax == "simple_query_string":
        bad = [
            flag
            for flag, on in (
                ("--phrase", args.phrase),
                ("--prefix", args.prefix),
                ("--wildcard", args.wildcard),
                ("--regexp", args.regexp),
                ("--fuzzy", args.fuzzy),
                ("--fields", args.fields),
                ("--synonyms", args.synonyms),
                ("--filter", args.filter),
                ("--must-not", args.must_not),
                ("--search-after", args.search_after),
                ("--offset", args.offset),
                ("--slop", args.slop),
                ("--transpositions", args.transpositions),
                ("--min-should-match", args.min_should_match != 1),
                ("--routing", args.routing is not None),
                ("--fuzzy-prefix-length", bool(args.fuzzy_prefix_length)),
                ("--scroll", bool(args.scroll)),
            )
            if on
        ]
        if bad:
            raise SystemExit(
                f"{' / '.join(bad)} not supported with --syntax "
                "simple_query_string (the syntax carries phrase/prefix/"
                "fuzziness/negation/grouping itself)"
            )
        flags = (
            args.flags
            if args.flags in ("ALL", "NONE")
            else [f for f in args.flags.split(",") if f]
        )
        spark = _spark(args.cores, "sparkfts-query")
        from sparkfts.index import load_docmap
        from sparkfts.simpleqs import simple_query_string_topk_batch

        t0 = time.time()
        res = simple_query_string_topk_batch(
            spark, args.index, [(0, args.query, args.k)],
            default_operator=args.default_operator,
            flags=flags,
            max_expansions=args.max_expansions,
        )
        urls = load_docmap(spark, args.index).select("doc_id", "url")
        rows = (
            res.join(urls, "doc_id", "left")
            .select("rank", "doc_id", "url", "score")
            .orderBy("rank")
            .collect()
        )
        _print_hits(rows, time.time() - t0, min_score=args.min_score)
        return
    new_modes = [
        ("--span-near", args.span_near),
        ("--span-first", args.span_first is not None),
        ("--span-or", args.span_or),
        ("--span-not", args.span_not is not None),
        ("--span-containing", args.span_containing is not None),
        ("--span-multi", args.span_multi is not None),
        ("--ids", args.ids is not None),
        ("--exists", args.exists is not None),
        ("--terms-lookup", args.terms_lookup is not None),
        ("--boosting", args.boosting is not None),
        ("--constant-score", args.constant_score is not None),
        ("--rank-feature", args.rank_feature is not None),
        ("--script-score", args.script_score is not None),
        ("--decay", args.decay is not None),
    ]
    active_new = [f for f, on in new_modes if on]
    if len(active_new) > 1:
        raise SystemExit(
            f"{' / '.join(active_new)} are mutually exclusive"
        )
    if active_new:
        flag = active_new[0]
        # each mode's supported companions: --k/--cores (+ --mode for
        # the scoring modes, + --slop for --span-near); everything else
        # fails loudly — never silently dropped
        bad = [
            f
            for f, on in (
                ("--phrase", args.phrase),
                ("--prefix", args.prefix),
                ("--wildcard", args.wildcard),
                ("--regexp", args.regexp),
                ("--fuzzy", args.fuzzy),
                ("--fields", args.fields),
                ("--synonyms", args.synonyms),
                ("--filter", args.filter),
                ("--must-not", args.must_not),
                ("--search-after", args.search_after),
                ("--offset", args.offset),
                ("--min-should-match", args.min_should_match != 1),
                ("--max-expansions", args.max_expansions is not None
                 and flag != "--span-multi"),
                ("--transpositions", args.transpositions),
                ("--slop", args.slop and flag not in
                 ("--span-near", "--span-containing")),
                ("--routing", args.routing is not None),
                ("--fuzzy-prefix-length", bool(args.fuzzy_prefix_length)),
                ("--scroll", bool(args.scroll)),
            )
            if on
        ]
        if bad:
            raise SystemExit(
                f"{' / '.join(bad)} not supported with {flag}"
            )
        spark = _spark(args.cores, "sparkfts-query")
        from sparkfts.index import load_docmap

        t0 = time.time()
        if flag == "--span-near":
            if not os.path.isdir(os.path.join(args.index, "positions")):
                raise SystemExit(
                    "no positions table; run `positions --input ... "
                    "--index ...`"
                )
            from sparkfts.spans import span_near_batch

            res = span_near_batch(
                spark, args.index, [(0, args.query, args.k)],
                slop=args.slop, in_order=False,
            )
        elif flag == "--span-first":
            if not os.path.isdir(os.path.join(args.index, "positions")):
                raise SystemExit(
                    "no positions table; run `positions --input ... "
                    "--index ...`"
                )
            from sparkfts.spans import span_first_batch

            res = span_first_batch(
                spark, args.index,
                [(0, args.query, args.span_first, args.k)],
            )
        elif flag in ("--span-or", "--span-not", "--span-containing"):
            if not os.path.isdir(os.path.join(args.index, "positions")):
                raise SystemExit(
                    "no positions table; run `positions --input ... "
                    "--index ...`"
                )
            if flag == "--span-or":
                from sparkfts.spans import span_or_batch

                res = span_or_batch(
                    spark, args.index, [(0, args.query, args.k)]
                )
            elif flag == "--span-not":
                from sparkfts.spans import span_not_batch

                try:
                    res = span_not_batch(
                        spark, args.index,
                        [(0, args.query, args.span_not, args.k)],
                        pre=args.span_pre, post=args.span_post,
                    )
                except ValueError as e:
                    raise SystemExit(str(e)) from e
            else:
                from sparkfts.spans import span_containing_batch

                try:
                    res = span_containing_batch(
                        spark, args.index,
                        [(0, args.query, args.span_containing, args.k)],
                        slop=args.slop or 0,
                    )
                except ValueError as e:
                    raise SystemExit(str(e)) from e
        elif flag == "--span-multi":
            if not os.path.isdir(os.path.join(args.index, "positions")):
                raise SystemExit(
                    "no positions table; run `positions --input ... "
                    "--index ...`"
                )
            from sparkfts.spans import span_multi_batch

            res = span_multi_batch(
                spark, args.index, [(0, args.query, args.k)],
                kind=args.span_multi,
                max_expansions=args.max_expansions,
            )
        elif flag == "--ids":
            from sparkfts.index import load_docmap
            from sparkfts.querybuilder import ids_topk

            try:
                id_list = [int(x) for x in args.ids.split(",") if x]
            except ValueError as e:
                raise SystemExit(f"--ids must be integers: {e}") from e
            if args.query:
                raise SystemExit("--ids replaces QUERY; pass ''")
            try:
                res = ids_topk(
                    load_docmap(spark, args.index), id_list, k=args.k
                )
            except ValueError as e:
                raise SystemExit(str(e)) from e
        elif flag == "--exists":
            from sparkfts.index import load_docmap
            from sparkfts.querybuilder import exists_topk

            if args.query:
                raise SystemExit("--exists replaces QUERY; pass ''")
            dm = load_docmap(spark, args.index)
            if args.exists not in dm.columns:
                raise SystemExit(
                    f"docmap has no doc value {args.exists!r}; "
                    f"available: {sorted(dm.columns)}"
                )
            res = exists_topk(dm, args.exists, k=args.k)
        elif flag == "--terms-lookup":
            from sparkfts.lifecycle import (
                terms_lookup_expr,
                terms_lookup_values,
            )
            from sparkfts.query import bm25_index_batch

            parts = args.terms_lookup.split(":")
            if len(parts) != 3:
                raise SystemExit(
                    "--terms-lookup format: FIELD:DOC_ID:PATH (the "
                    "terms query's index/id/path lookup form)"
                )
            try:
                vals = terms_lookup_values(
                    spark, args.index, int(parts[1]), parts[2]
                )
                res = bm25_index_batch(
                    spark, args.index, [(0, args.query, args.k)],
                    mode=args.mode,
                    filter_expr=terms_lookup_expr(parts[0], vals),
                )
            except ValueError as e:
                raise SystemExit(str(e)) from e
        elif flag == "--boosting":
            from sparkfts.scoring import boosting_batch

            res = boosting_batch(
                spark, args.index,
                [(0, args.query, args.boosting, args.k)],
                negative_boost=args.negative_boost, mode=args.mode,
            )
        elif flag == "--constant-score":
            from sparkfts.scoring import constant_score_batch

            res = constant_score_batch(
                spark, args.index, [(0, args.query, args.k)],
                boost=args.constant_score, mode=args.mode,
            )
        elif flag == "--script-score":
            from sparkfts.docvalues import script_score_batch

            parts = args.script_score.split(":", 1)
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise SystemExit(
                    "--script-score format: FIELD:SCRIPT (script over "
                    "_score and value, e.g. n_chars:'_score * "
                    "log1p(value)')"
                )
            try:
                res = script_score_batch(
                    spark, args.index, [(0, args.query, args.k)],
                    parts[0], parts[1], mode=args.mode,
                )
            except ValueError as e:
                raise SystemExit(str(e)) from e
        elif flag == "--rank-feature":
            from sparkfts.scoring import rank_feature_batch

            parts = args.rank_feature.split(":")
            if len(parts) not in (2, 3):
                raise SystemExit(
                    "--rank-feature format: FIELD:FUNC[:PIVOT] "
                    "(FUNC: saturation|log|sigmoid)"
                )
            field, func = parts[0], parts[1]
            pivot = float(parts[2]) if len(parts) == 3 else 1.0
            res = rank_feature_batch(
                spark, args.index, [(0, args.query, args.k)],
                field, func, pivot=pivot, scaling=pivot,
                mode=args.mode,
            )
        else:  # --decay
            from sparkfts.scoring import decay_score_batch

            parts = args.decay.split(":")
            if len(parts) not in (4, 5, 6):
                raise SystemExit(
                    "--decay format: FIELD:FUNC:ORIGIN:SCALE"
                    "[:OFFSET[:DECAY]] (FUNC: gauss|exp|linear)"
                )
            res = decay_score_batch(
                spark, args.index, [(0, args.query, args.k)],
                parts[0], parts[1],
                origin=float(parts[2]), scale=float(parts[3]),
                offset=float(parts[4]) if len(parts) > 4 else 0.0,
                decay=float(parts[5]) if len(parts) > 5 else 0.5,
                mode=args.mode,
            )
        urls = load_docmap(spark, args.index).select("doc_id", "url")
        rows = (
            res.join(urls, "doc_id", "left")
            .select("rank", "doc_id", "url", "score")
            .orderBy("rank")
            .collect()
        )
        _print_hits(rows, time.time() - t0, min_score=args.min_score)
        return
    if args.routing is not None and (
        args.phrase or args.fields or args.fuzzy or args.prefix
        or args.wildcard or args.regexp or args.synonyms
    ):
        raise SystemExit(
            "--routing is supported on the plain query path only"
        )
    n_expq = sum(map(bool, (args.prefix, args.wildcard, args.regexp)))
    if n_expq and (args.phrase or args.fields or args.fuzzy or n_expq > 1):
        raise SystemExit(
            "--prefix/--wildcard/--regexp are exclusive of each other "
            "and of --phrase/--fields/--fuzzy"
        )
    if n_expq and (
        args.search_after or args.min_should_match != 1
        or args.must_not or args.slop or args.scroll
    ):
        raise SystemExit(
            "--prefix/--wildcard/--regexp support only "
            "--k/--offset/--max-expansions/--filter"
        )
    if args.phrase or args.fields or args.fuzzy:
        unsupported = []
        if args.search_after:
            unsupported.append("--search-after")
        if args.min_should_match != 1:  # 1 is the no-op default
            unsupported.append("--min-should-match")
        if args.filter and args.fields and args.fuzzy:
            unsupported.append("--filter")  # mf-fuzzy path lacks it
        if args.must_not:
            unsupported.append("--must-not")
        if args.slop and not args.phrase:
            unsupported.append("--slop")
        if args.max_expansions is not None and not args.fuzzy:
            # fuzzy paths thread it through (below); phrase / plain
            # multifield have no expansion set to cap
            unsupported.append("--max-expansions")
        if args.transpositions and not args.fuzzy:
            unsupported.append("--transpositions")
        if args.synonyms:
            unsupported.append("--synonyms")
        if args.scroll:
            unsupported.append("--scroll")
        if unsupported:
            mode_flag = (
                "--phrase" if args.phrase
                else "--fields" if args.fields
                else "--fuzzy"
            )
            raise SystemExit(
                f"{' / '.join(unsupported)} not supported with {mode_flag}"
            )
    elif args.slop:
        raise SystemExit("--slop requires --phrase")
    elif args.max_expansions is not None and not n_expq:
        raise SystemExit(
            "--max-expansions requires --fuzzy/--prefix/--wildcard/--regexp"
        )
    elif args.transpositions:
        raise SystemExit("--transpositions requires --fuzzy")
    if args.fuzzy_prefix_length and not args.fuzzy:
        raise SystemExit("--fuzzy-prefix-length requires --fuzzy")
    if args.fuzzy_prefix_length and args.fields:
        raise SystemExit(
            "--fuzzy-prefix-length is not threaded through --fields yet"
        )
    if args.synonyms and n_expq:
        raise SystemExit(
            "--synonyms not supported with --prefix/--wildcard/--regexp"
        )
    spark = _spark(args.cores, "sparkfts-query")
    from sparkfts.query import bm25_index_batch, bm25_index_fuzzy_batch

    t0 = time.time()
    if n_expq:
        from sparkfts.index import load_docmap
        from sparkfts.prefix import (
            prefix_topk_batch,
            regexp_topk_batch,
            wildcard_topk_batch,
        )

        fn = (
            wildcard_topk_batch if args.wildcard
            else regexp_topk_batch if args.regexp
            else prefix_topk_batch
        )
        res = fn(
            spark, args.index, [(0, args.query, args.k)],
            max_expansions=args.max_expansions, offset=args.offset,
            filter_expr=args.filter,
        )
        urls = load_docmap(spark, args.index).select("doc_id", "url")
        rows = (
            res.join(urls, "doc_id", "left")
            .select("rank", "doc_id", "url", "score")
            .orderBy("rank")
            .collect()
        )
    elif args.phrase:
        from sparkfts.index import load_docmap
        from sparkfts.phrase import match_phrase_batch

        if not os.path.isdir(os.path.join(args.index, "positions")):
            raise SystemExit(
                "no positions table; run `positions --input ... --index ...`"
            )
        res = match_phrase_batch(
            spark, args.index, [(0, args.query, args.k)],
            offset=args.offset, slop=args.slop, filter_expr=args.filter,
        )
        urls = load_docmap(spark, args.index).select("doc_id", "url")
        rows = (
            res.join(urls, "doc_id", "left")
            .select("rank", "doc_id", "url", "score")
            .orderBy("rank")
            .collect()
        )
    elif args.fields:
        from sparkfts.index import load_docmap
        from sparkfts.multifield import (
            bm25_multifield_batch,
            bm25_multifield_fuzzy_batch,
            field_dir,
            parse_field_boosts,
        )

        if args.fuzzy:
            res = bm25_multifield_fuzzy_batch(
                spark,
                args.index,
                [(0, args.query, args.k)],
                fields=args.fields.split(","),
                mode=args.mode,
                max_expansions=args.max_expansions,
                offset=args.offset,
                transpositions=args.transpositions,
            )
        else:
            res = bm25_multifield_batch(
                spark,
                args.index,
                [(0, args.query, args.k)],
                fields=args.fields.split(","),
                mode=args.mode,
                offset=args.offset,
                filter_expr=args.filter,
            )
        first_field = parse_field_boosts(args.fields.split(","))[0][0]
        urls = load_docmap(
            spark, field_dir(args.index, first_field)
        ).select("doc_id", "url")
        rows = (
            res.join(urls, "doc_id", "left")
            .select("rank", "doc_id", "url", "score")
            .orderBy("rank")
            .collect()
        )
    elif args.fuzzy:
        from sparkfts.index import load_docmap

        res = bm25_index_fuzzy_batch(
            spark,
            args.index,
            [(0, args.query, args.k)],
            mode=args.mode,
            max_expansions=args.max_expansions,
            offset=args.offset,
            filter_expr=args.filter,
            transpositions=args.transpositions,
            prefix_length=args.fuzzy_prefix_length,
        )
        urls = load_docmap(spark, args.index).select("doc_id", "url")
        rows = (
            res.join(urls, "doc_id", "left")
            .select("rank", "doc_id", "url", "score")
            .orderBy("rank")
            .collect()
        )
    elif args.synonyms:
        from sparkfts.index import load_docmap
        from sparkfts.query import bm25_index_synonym_batch

        if (args.search_after or args.min_should_match != 1
                or args.must_not or args.scroll):
            raise SystemExit(
                "--synonyms supports only --k/--offset/--filter/--mode"
            )
        syn_map: dict[str, list[str]] = {}
        for part in args.synonyms.split(","):
            term, _, syns = part.partition(":")
            if not term or not syns:
                raise SystemExit(
                    "--synonyms format: 'term:syn1|syn2,term2:syn3'"
                )
            syn_map[term.strip()] = [s for s in syns.split("|") if s]
        res = bm25_index_synonym_batch(
            spark,
            args.index,
            [(0, args.query, args.k)],
            synonyms=syn_map,
            mode=args.mode,
            offset=args.offset,
            filter_expr=args.filter,
        )
        urls = load_docmap(spark, args.index).select("doc_id", "url")
        rows = (
            res.join(urls, "doc_id", "left")
            .select("rank", "doc_id", "url", "score")
            .orderBy("rank")
            .collect()
        )
    elif args.scroll:
        # ES _search?scroll: stream the FULL match set in O(size) pages
        bad = [
            flag
            for flag, on in (
                ("--offset", args.offset),
                ("--search-after", args.search_after),
                ("--min-should-match", args.min_should_match != 1),
                ("--must-not", args.must_not),
                ("--filter", args.filter),
                ("--routing", args.routing is not None),
            )
            if on
        ]
        if bad:
            raise SystemExit(
                f"{' / '.join(bad)} not supported with --scroll "
                "(a scroll IS the cursor)"
            )
        from sparkfts.searcher import Searcher

        s = Searcher(spark, args.index)
        n = 0
        for page in s.scroll(args.query, size=args.scroll,
                             mode=args.mode):
            for rank, doc_id, score in page:
                print(json.dumps(
                    {"rank": rank, "doc_id": doc_id, "score": score}
                ))
                n += 1
        print(
            json.dumps({"hits": n, "sec": round(time.time() - t0, 3)}),
            file=sys.stderr,
        )
        return
    else:
        search_after = None
        if args.search_after:
            s, _, d = args.search_after.partition(",")
            search_after = {0: (float(s), int(d))}
        rows = bm25_index_batch(
            spark,
            args.index,
            [(0, args.query, args.k)],
            mode=args.mode,
            resolve_urls=True,
            offset=args.offset,
            search_after=search_after,
            min_should_match=args.min_should_match,
            filter_expr=args.filter,
            must_not={0: args.must_not} if args.must_not else None,
            routing=args.routing,
        ).collect()
    _print_hits(rows, time.time() - t0, min_score=args.min_score)


def _print_hits(rows, sec: float, min_score: float | None = None) -> None:
    if min_score is not None:
        # exact: a score floor commutes with score-descending top-k
        rows = [r for r in rows if r["score"] >= min_score]
    for r in rows:
        print(
            json.dumps(
                {
                    "rank": r["rank"],
                    "doc_id": r["doc_id"],
                    "url": r["url"],
                    "score": r["score"],
                }
            )
        )
    print(json.dumps({"hits": len(rows), "sec": round(sec, 3)}), file=sys.stderr)


def cmd_positions(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-positions")
    from sparkfts.phrase import build_positions

    t0 = time.time()
    pages = spark.read.parquet(args.input)
    build_positions(pages, args.index)
    print(json.dumps({"sec": round(time.time() - t0, 2), "index": args.index}))


def cmd_sorted(args: argparse.Namespace) -> None:
    """ES index.sort: build the sort sidecar and/or query it with
    early termination (O(k) reads per scan split)."""
    spark = _spark(args.cores, "sparkfts-sorted")
    from sparkfts.sortedindex import sorted_topk, write_sorted_docvalues

    t0 = time.time()
    if args.build:
        out = write_sorted_docvalues(
            spark, args.index, args.field, ascending=args.asc
        )
        print(json.dumps(
            {"sidecar": out, "sec": round(time.time() - t0, 2)}
        ))
        if not args.k:
            return
        t0 = time.time()
    if args.k:
        rows = sorted_topk(
            spark, args.index, args.field, k=args.k,
            ascending=args.asc, filter_expr=args.filter,
        ).collect()
        for r in rows:
            print(json.dumps(
                {"rank": r["rank"], "doc_id": r["doc_id"],
                 "sort_value": r["sort_value"]}
            ))
        print(
            json.dumps(
                {"hits": len(rows), "sec": round(time.time() - t0, 3)}
            ),
            file=sys.stderr,
        )
    elif not args.build:
        raise SystemExit("nothing to do: pass --build and/or --k")


def cmd_sparse(args: argparse.Namespace) -> None:
    """ES sparse_vector query over a built sparse index."""
    spark = _spark(args.cores, "sparkfts-sparse")
    from sparkfts.sparsevec import (
        sparse_vector_topk,
        tf_sparse_vectors,
        write_sparse_index,
    )

    t0 = time.time()
    if args.build_from:
        pages = spark.read.parquet(args.build_from)
        if "doc_id" not in pages.columns:
            # webtext corpus: sha1 doc ids from url (the build contract)
            from sparkfts.tokens import prepare_pages

            pages = prepare_pages(pages)
        docs = pages.select("doc_id", "text")
        out = write_sparse_index(
            tf_sparse_vectors(docs, top_m=args.top_m), args.index,
            n_tbuckets=args.tbuckets,
        )
        print(json.dumps(
            {"sparse_index": out, "sec": round(time.time() - t0, 2)}
        ))
        if not args.weights:
            return
        t0 = time.time()
    if not args.weights:
        raise SystemExit("nothing to do: pass --build-from and/or "
                         "--weights 'term:w,term:w'")
    qw: dict[str, float] = {}
    for part in args.weights.split(","):
        term, _, w = part.partition(":")
        if not term or not w:
            raise SystemExit("--weights format: 'term:w,term2:w2'")
        qw[term.strip()] = float(w)
    rows = sparse_vector_topk(
        spark, args.index, qw, k=args.k, n_tbuckets=args.tbuckets
    ).collect()
    for r in rows:
        print(json.dumps(
            {"rank": r["rank"], "doc_id": r["doc_id"], "dot": r["dot"]}
        ))
    print(
        json.dumps({"hits": len(rows), "sec": round(time.time() - t0, 3)}),
        file=sys.stderr,
    )


def cmd_reindex(args: argparse.Namespace) -> None:
    """ES _reindex: rebuild from stored _source with new options."""
    spark = _spark(args.cores, "sparkfts-reindex")
    from sparkfts.lifecycle import reindex

    t0 = time.time()
    meta = reindex(
        spark, args.index, args.dest,
        n_shards=args.shards, n_tbuckets=args.tbuckets,
        stopwords=args.stopwords.split(",") if args.stopwords else None,
        stemmer=args.stemmer,
    )
    print(json.dumps(
        {"n_docs": meta["n_docs"], "n_shards": meta["n_shards"],
         "sec": round(time.time() - t0, 2), "index": args.dest}
    ))


def cmd_shrink(args: argparse.Namespace) -> None:
    """ES _shrink/_split: reshard (divisibility enforced)."""
    spark = _spark(args.cores, "sparkfts-shrink")
    from sparkfts.lifecycle import shrink

    t0 = time.time()
    meta = shrink(spark, args.index, args.dest, n_shards=args.shards)
    print(json.dumps(
        {"n_docs": meta["n_docs"], "n_shards": meta["n_shards"],
         "sec": round(time.time() - t0, 2), "index": args.dest}
    ))


def cmd_update_by_query(args: argparse.Namespace) -> None:
    """ES _update_by_query: pipeline rewrite of matching docs."""
    spark = _spark(args.cores, "sparkfts-ubq")
    from sparkfts.lifecycle import update_by_query

    try:
        processors = json.loads(args.pipeline)
    except json.JSONDecodeError as e:
        raise SystemExit(f"--pipeline must be a JSON processor list: {e}")
    if not isinstance(processors, list):
        raise SystemExit("--pipeline must be a JSON LIST of processors")
    t0 = time.time()
    res = update_by_query(
        spark, args.index, args.query, processors, mode=args.mode
    )
    res["sec"] = round(time.time() - t0, 2)
    print(json.dumps(res))


def cmd_field_caps(args: argparse.Namespace) -> None:
    """ES _field_caps: per-field capabilities across indexes."""
    spark = _spark(args.cores, "sparkfts-field-caps")
    from sparkfts.lifecycle import field_caps

    print(json.dumps(field_caps(spark, args.index.split(","))))


def cmd_msearch(args: argparse.Namespace) -> None:
    """ES _msearch: a JSONL file of queries -> ONE batched Spark plan
    (the serving shape: per-shard kernels score every query in one
    postings pass; one action for the whole file)."""
    spark = _spark(args.cores, "sparkfts-msearch")
    from sparkfts.query import bm25_index_batch

    reqs = []
    with open(args.file) as f:
        for i, line in enumerate(f):
            line = line.strip()
            if not line:
                continue
            try:
                body = json.loads(line)
                q = body["query"]
            except (json.JSONDecodeError, KeyError, TypeError) as e:
                raise SystemExit(
                    f"{args.file}:{i + 1}: each line needs "
                    f'{{"query": ..., "k"?: ...}} ({e})'
                )
            reqs.append((i, str(q), int(body.get("k", args.k))))
    if not reqs:
        raise SystemExit(f"{args.file}: no queries")
    t0 = time.time()
    rows = bm25_index_batch(
        spark, args.index, reqs, mode=args.mode, resolve_urls=True
    ).collect()
    for r in rows:
        print(json.dumps(
            {"query_id": r["query_id"], "rank": r["rank"],
             "doc_id": r["doc_id"], "url": r["url"],
             "score": r["score"]}
        ))
    print(
        json.dumps(
            {"queries": len(reqs), "hits": len(rows),
             "sec": round(time.time() - t0, 3)}
        ),
        file=sys.stderr,
    )


def cmd_search_dsl(args: argparse.Namespace) -> None:
    """ES search with a raw query-DSL JSON body (the exact payload the
    reference hands to client.search): parse via sparkfts.esdsl, run in
    the single-pass bool-tree kernel. Bodies with ``aggs`` or ``sort``
    run through :func:`sparkfts.esdsl.run_request`; a sorted hit prints
    its ``sort_value`` instead of a score. Other match-all bodies are
    rejected here (use `query` with no terms / mget instead) —
    fail-loud."""
    from sparkfts.booltree import bool_topk_batch
    from sparkfts.esdsl import EsDslError, parse_request_json

    if (args.body is None) == (args.body_file is None):
        raise SystemExit("search-dsl: give exactly one of --body/--body-file")
    body = args.body
    if body is None:
        with open(args.body_file) as f:
            body = f.read()
    try:
        body_obj = json.loads(body)
    except json.JSONDecodeError as e:
        raise SystemExit(f"search-dsl: request body is not valid JSON: {e}")
    if isinstance(body_obj, dict) and (
        {"aggs", "aggregations", "sort"} & set(body_obj)
    ):
        # query + aggs / sort in one request: run_request over the
        # indexed docvalues (the docmap carries the --docvalues columns)
        from sparkfts.esdsl import run_request
        from sparkfts.index import load_docmap

        spark = _spark(args.cores, "sparkfts-search-dsl")
        t0 = time.time()
        try:
            out = run_request(
                spark, args.index, body_obj,
                doc_values=load_docmap(spark, args.index),
                default_k=args.k,
            )
        except EsDslError as e:
            raise SystemExit(f"search-dsl: {e}")
        rows = out["hits"].collect()
        value = "sort_value" if "sort_value" in out["hits"].columns else "score"
        for r in rows:
            print(json.dumps(
                {"rank": r["rank"], "doc_id": r["doc_id"], value: r[value]},
                default=str,  # sort values may be dates
            ))
        for name, frame in out["aggregations"].items():
            print(json.dumps({
                "agg": name,
                "buckets": [row.asDict() for row in frame.collect()],
            }))
        print(
            json.dumps(
                {"hits": len(rows), "sec": round(time.time() - t0, 3)}
            ),
            file=sys.stderr,
        )
        return
    try:
        req = parse_request_json(body, default_k=args.k)
    except EsDslError as e:
        raise SystemExit(f"search-dsl: {e}")
    if req.is_match_all:
        raise SystemExit(
            "search-dsl: match_all has no relevance ranking here; "
            "use the mget/count subcommands"
        )
    spark = _spark(args.cores, "sparkfts-search-dsl")
    t0 = time.time()
    rows = bool_topk_batch(spark, args.index, [req]).collect()
    for r in rows:
        print(json.dumps(
            {"rank": r["rank"], "doc_id": r["doc_id"],
             "score": r["score"]}
        ))
    print(
        json.dumps({"hits": len(rows), "sec": round(time.time() - t0, 3)}),
        file=sys.stderr,
    )


def cmd_stats(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-stats")
    from sparkfts.index import index_stats

    print(json.dumps(index_stats(spark, args.index)))


def cmd_suggest(args: argparse.Namespace) -> None:
    if args.phrase and args.complete:
        raise SystemExit("--phrase and --complete are exclusive")
    spark = _spark(args.cores, "sparkfts-suggest")
    t0 = time.time()
    if args.complete:
        from sparkfts.complete import complete

        if not os.path.isdir(os.path.join(args.index, "lm")):
            raise SystemExit(
                "no LM sidecar; run `lm --input ... --index ...` first"
            )
        rows = complete(
            spark, args.index, args.query, size=args.size,
            fuzziness=args.fuzziness,
        ).collect()
        for r in rows:
            print(json.dumps({
                "entry": r["entry"], "weight": r["weight"],
                "rank": r["rank"],
            }))
        print(
            json.dumps({"suggestions": len(rows),
                        "sec": round(time.time() - t0, 3)}),
            file=sys.stderr,
        )
        return
    if args.phrase:
        from sparkfts.phrasesuggest import suggest_phrase

        if not os.path.isdir(os.path.join(args.index, "lm")):
            raise SystemExit(
                "no LM sidecar; run `lm --input ... --index ...` first"
            )
        rows = suggest_phrase(
            spark, args.index, args.query, size=args.size,
            max_candidates=args.max_candidates,
        ).collect()
        for r in rows:
            print(json.dumps({
                "phrase": r["phrase"],
                "score_ln": round(r["score_ln"], 6),
                "rank": r["rank"],
            }))
        print(
            json.dumps({"suggestions": len(rows),
                        "sec": round(time.time() - t0, 3)}),
            file=sys.stderr,
        )
        return
    from sparkfts.suggest import suggest_terms

    rows = suggest_terms(
        spark, args.index, args.query, size=args.size
    ).collect()
    for r in rows:
        print(json.dumps({
            "input_term": r["input_term"], "suggestion": r["suggestion"],
            "dist": r["dist"], "df": r["df"], "rank": r["rank"],
        }))
    print(
        json.dumps({"suggestions": len(rows),
                    "sec": round(time.time() - t0, 3)}),
        file=sys.stderr,
    )


def cmd_analyze(args: argparse.Namespace) -> None:
    """ES _analyze: show the token stream the analysis chain produces
    (no Spark session needed — the analyzer is pure Python shared with
    the oracle)."""
    from sparkfts.analysis import tokenize

    sw = args.stopwords.split(",") if args.stopwords else None
    stem = args.stemmer
    if args.index:
        from sparkfts.index import read_meta

        meta = read_meta(args.index)
        if sw is None:
            sw = meta.get("stopwords") or None
        if stem is None:
            stem = meta.get("stemmer") or None
    toks = tokenize(args.text, frozenset(sw) if sw else None, stem)
    print(json.dumps({
        "tokens": toks,
        "n": len(toks),
        "stopwords": sorted(sw) if sw else [],
        "stemmer": stem or None,
    }))


def cmd_delete_by_query(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-delete")
    from sparkfts.deletes import delete_by_query

    t0 = time.time()
    n = delete_by_query(spark, args.index, args.query, mode=args.mode)
    print(json.dumps({"deleted": n, "sec": round(time.time() - t0, 3)}))


def cmd_mget(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-mget")
    from sparkfts.lifecycle import mget

    try:
        ids = [int(x) for x in args.ids.split(",") if x.strip()]
    except ValueError as e:
        raise SystemExit(f"--ids must be comma-separated integers: {e}")
    t0 = time.time()
    rows = mget(spark, args.index, ids, with_source=args.source).collect()
    for r in rows:
        out = {"doc_id": r["doc_id"], "found": r["found"],
               "url": r["url"], "doclen": r["doclen"]}
        if args.source:
            out["text"] = r["text"]
        print(json.dumps(out))
    print(json.dumps({"requested": len(ids),
                      "found": sum(1 for r in rows if r["found"]),
                      "sec": round(time.time() - t0, 3)}),
          file=sys.stderr)


def cmd_snapshot(args: argparse.Namespace) -> None:
    from sparkfts.lifecycle import list_snapshots, snapshot

    if args.list:
        for s in list_snapshots(args.repo):
            print(json.dumps(s))
        return
    if not args.index or not args.name:
        raise SystemExit("snapshot needs --index and --name (or --list)")
    print(json.dumps(snapshot(args.index, args.repo, args.name)))


def cmd_restore(args: argparse.Namespace) -> None:
    from sparkfts.lifecycle import restore_snapshot

    print(json.dumps(
        restore_snapshot(args.repo, args.name, args.target)
    ))


def cmd_count(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-count")
    from sparkfts.aggs import count_matches

    t0 = time.time()
    rows = count_matches(
        spark, args.index, [(0, args.query)], mode=args.mode
    ).collect()
    print(json.dumps({
        "count": rows[0]["doc_count"] if rows else 0,
        "sec": round(time.time() - t0, 3),
    }))


def cmd_lm(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-lm")
    from sparkfts.phrasesuggest import build_bigram_model

    t0 = time.time()
    pages = spark.read.parquet(args.input)
    build_bigram_model(pages, args.index)
    print(json.dumps({"sec": round(time.time() - t0, 2),
                      "index": args.index}))


def cmd_tokenizer(args: argparse.Namespace) -> None:
    """Train a subword tokenizer on the corpus and report segmentation
    stats (docs, words, subword tokens, compression vs chars)."""
    spark = _spark(args.cores, "sparkfts-tokenizer")
    from pyspark.sql import functions as F

    t0 = time.time()
    pages = spark.read.parquet(args.input)
    docs = pages.select(
        F.crc32(F.col("url")).cast("long").alias("doc_id"), "text"
    ) if "doc_id" not in pages.columns else pages
    if args.family == "bpe":
        from sparkfts.ops.bpe import apply_bpe, learn_bpe

        merges = learn_bpe(docs, n_merges=args.size,
                           max_words=args.max_words)
        seg = apply_bpe(docs, merges)
        n_vocab = len(merges)
        tok_col = "n_bpe_tokens"
    else:
        from sparkfts.ops.unigram import apply_unigram, learn_unigram

        vocab = learn_unigram(docs, vocab_size=args.size,
                              max_words=args.max_words,
                              em_iters=args.em_iters)
        seg = apply_unigram(docs, vocab)
        n_vocab = len(vocab)
        tok_col = "n_unigram_tokens"
    row = seg.agg(
        F.count("*").alias("docs"),
        F.sum("n_words").alias("words"),
        F.sum(tok_col).alias("subword_tokens"),
    ).collect()[0]
    print(json.dumps({
        "family": args.family,
        "vocab": n_vocab,
        "docs": int(row["docs"]),
        "words": int(row["words"] or 0),
        "subword_tokens": int(row["subword_tokens"] or 0),
        "tokens_per_word": round(
            row["subword_tokens"] / row["words"], 4
        ) if row["words"] else None,
        "sec": round(time.time() - t0, 2),
    }))


def cmd_quality_clf(args: argparse.Namespace) -> None:
    """Model-based quality filter (ops/qualityclf.py): score a corpus
    under pinned or trained weights; --train learns a logistic model
    from a labeled parquet first (label column 0/1) and scores with
    it. Prints keep-rate + prob summary, one JSON line."""
    spark = _spark(args.cores, "sparkfts-quality-clf")
    from pyspark.sql import functions as F

    from sparkfts.ops.qualityclf import (
        clf_scores,
        pinned_weights,
        train_logreg,
    )

    t0 = time.time()
    pages = spark.read.parquet(args.input)
    docs = pages.select(
        F.crc32(F.col("url")).cast("long").alias("doc_id"), "text"
    ) if "doc_id" not in pages.columns else pages
    if args.train:
        labeled = spark.read.parquet(args.train)
        if "label" not in labeled.columns:
            raise SystemExit("quality-clf: --train parquet needs a "
                             "0/1 'label' column")
        w, b = train_logreg(
            labeled, dim=args.dim, iters=args.iters, lr=args.lr
        )
        source = "trained"
    else:
        w, b = pinned_weights(args.dim), 0.0
        source = "pinned"
    scored = clf_scores(
        docs, w, intercept=b, threshold=args.threshold
    )
    row = scored.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("kept").cast("long")).alias("kept"),
        F.avg("prob").alias("avg_prob"),
    ).collect()[0]
    print(json.dumps({
        "weights": source,
        "dim": args.dim,
        "docs": int(row["docs"]),
        "kept": int(row["kept"] or 0),
        "keep_rate": round((row["kept"] or 0) / row["docs"], 4)
        if row["docs"] else None,
        "avg_prob": round(float(row["avg_prob"]), 6)
        if row["avg_prob"] is not None else None,
        "sec": round(time.time() - t0, 2),
    }))


def cmd_termvectors(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-termvectors")
    from sparkfts.termvectors import termvectors

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    ids = [int(x) for x in args.ids.split(",")]
    rows = termvectors(
        spark, args.index, docs, ids,
        id_col=args.id_col, text_col=args.text_col,
        term_statistics=args.term_statistics,
    ).collect()
    for r in rows:
        out = {
            "doc_id": r["doc_id"], "term": r["term"],
            "term_freq": r["term_freq"], "doclen": r["doclen"],
            "doc_freq": r["doc_freq"],
        }
        if args.term_statistics:
            out["ttf"] = r["ttf"]
        print(json.dumps(out))
    print(
        json.dumps({"terms": len(rows),
                    "sec": round(time.time() - t0, 3)}),
        file=sys.stderr,
    )


def cmd_percolate(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-percolate")
    from sparkfts.percolate import percolate

    queries = []
    for part in args.queries.split(";"):
        qid, _, rest = part.partition(":")
        mode, _, text = rest.partition(":")
        if not qid or not mode or not text:
            raise SystemExit(
                "--queries format: 'ID:MODE:text;ID:MODE:text' "
                "(MODE: and | or | msm:N — use msm.N here)"
            )
        queries.append(
            (int(qid), text, mode.replace("msm.", "msm:"))
        )
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    rows = (
        percolate(
            spark, docs, queries,
            id_col=args.id_col, text_col=args.text_col,
        )
        .orderBy("doc_id", "query_id")
        .collect()
    )
    for r in rows:
        print(json.dumps({"doc_id": r["doc_id"],
                          "query_id": r["query_id"]}))
    print(
        json.dumps({"matches": len(rows),
                    "sec": round(time.time() - t0, 3)}),
        file=sys.stderr,
    )


def cmd_explain(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-explain")
    from sparkfts.query import explain_score

    t0 = time.time()
    rows = explain_score(
        spark, args.index, args.query, int(args.doc_id), mode=args.mode
    ).collect()
    total = sum(r["contribution"] for r in rows)
    for r in rows:
        print(json.dumps({
            "term": r["term"], "tf": r["tf"], "df": r["df"],
            "doclen": r["doclen"], "idf": round(r["idf"], 6),
            "tf_norm": round(r["tf_norm"], 6),
            "contribution": r["contribution"],
        }))
    print(
        json.dumps({
            "matched": bool(rows), "score": total,
            "sec": round(time.time() - t0, 3),
        }),
        file=sys.stderr,
    )


def cmd_facet(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-facet")
    from sparkfts.aggs import terms_facet

    t0 = time.time()
    dv = spark.read.parquet(args.values).select("doc_id", args.field)
    rows = terms_facet(
        spark, args.index, args.query, dv, args.field,
        mode=args.mode, size=args.size,
    ).collect()
    for r in rows:
        print(json.dumps({"value": r["value"], "doc_count": r["doc_count"]}))
    print(
        json.dumps({"buckets": len(rows), "sec": round(time.time() - t0, 3)}),
        file=sys.stderr,
    )


def cmd_delete(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-delete")
    from sparkfts.deletes import delete_docs

    t0 = time.time()
    ids = [int(x) for x in args.ids.split(",")]
    total = delete_docs(spark, args.index, ids)
    print(
        json.dumps(
            {
                "deleted": len(ids),
                "tombstones_total": total,
                "sec": round(time.time() - t0, 2),
                "note": "physical reclaim + stats recompute at next merge",
            }
        )
    )


def cmd_merge(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-merge")
    from sparkfts.merge import merge_segments

    t0 = time.time()
    meta = merge_segments(spark, args.index)
    print(
        json.dumps(
            {
                "n_docs": meta["n_docs"],
                "segments_remaining": len(meta.get("segments", [])),
                "sec": round(time.time() - t0, 2),
                "index": args.index,
            }
        )
    )


def cmd_ingest(args: argparse.Namespace) -> None:
    spark = _spark(args.cores, "sparkfts-ingest")
    from sparkfts.index import read_meta
    from sparkfts.streaming import start_incremental_index

    t0 = time.time()
    start_incremental_index(
        spark,
        args.input,
        args.index,
        args.checkpoint,
        n_shards=args.shards,
        n_tbuckets=args.tbuckets,
        available_now=not args.follow,
        dedup=args.dedup,
        positions=args.positions,
    )
    meta = read_meta(args.index)
    print(
        json.dumps(
            {
                "n_docs": meta["n_docs"],
                "avgdl": round(meta["avgdl"], 4),
                "sec": round(time.time() - t0, 2),
                "index": args.index,
            }
        )
    )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="sparkfts")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="generate deterministic webtext corpus")
    s.add_argument("--out", required=True)
    s.add_argument("--docs", type=int, default=5000)
    s.add_argument("--seed", type=int, default=42)
    s.set_defaults(fn=cmd_synth)

    b = sub.add_parser("build", help="build inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--shards", type=int, default=8)
    b.add_argument("--tbuckets", type=int, default=16)
    b.add_argument("--cores", default="*")
    b.add_argument("--resume", action="store_true",
                   help="resumable build with per-shard checkpoints")
    b.add_argument("--shards-per-job", type=int, default=2)
    b.add_argument("--validate", action="store_true",
                   help="assert extract_text(html) == text per url")
    b.add_argument("--fields", default=None,
                   help="comma list of page columns to index as separate "
                        "fields (multi-field index), e.g. title,text")
    b.add_argument("--docvalues", default=None,
                   help="comma list of page columns stored in the docmap "
                        "(facet/aggregation doc values), e.g. lang")
    b.add_argument("--stopwords", default=None,
                   help="comma list of index-time stopwords (stored in "
                        "meta; query analysis drops them automatically)")
    b.add_argument("--stemmer", default=None,
                   help="index-time analysis chain applied after the "
                        "stop filter: 'porter', 'asciifold', "
                        "'syn:lhs=rhs,...' (index-time synonyms) or "
                        "'+'-combinations — re-applied at query "
                        "analysis from meta")
    b.add_argument("--expander", default=None,
                   help="index-time-ONLY token expander: 'edge:MIN-MAX' "
                        "(autocomplete edge n-grams) or "
                        "'shingle:MIN-MAX'; query analysis stays "
                        "standard (ES search_analyzer split)")
    b.add_argument("--routing-col", default=None,
                   help="ES custom routing: shard by the md5 hash of "
                        "this column instead of the doc_id salt; "
                        "queries with --routing VALUE then scan one "
                        "shard (list non-canonical columns in "
                        "--docvalues too)")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="BM25 top-k over a built index")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode", choices=["and", "or"], default="and")
    q.add_argument("--offset", type=int, default=0,
                   help="deep pagination: return ranks offset+1..offset+k")
    q.add_argument("--search-after", default=None, metavar="SCORE,DOC_ID",
                   help="cursor pagination: the previous page's last "
                        "(score, doc_id); O(k) pages at any depth")
    q.add_argument("--min-should-match", type=int, default=1,
                   help="OR mode: require >= N distinct query terms")
    q.add_argument("--phrase", action="store_true",
                   help="match_phrase over the positions table")
    q.add_argument("--slop", type=int, default=0,
                   help="match_phrase slop: ordered window tolerance "
                        "(total inserted gap <= slop; 0 = exact)")
    q.add_argument("--prefix", action="store_true",
                   help="ES prefix query: treat QUERY as a term prefix "
                        "(dictionary range expansion)")
    q.add_argument("--wildcard", action="store_true",
                   help="ES wildcard query: QUERY uses * and ? over the "
                        "term dictionary")
    q.add_argument("--regexp", action="store_true",
                   help="ES regexp query: QUERY is an anchored regex "
                        "(Java/RE2 common subset, flags=NONE) over the "
                        "term dictionary")
    q.add_argument("--max-expansions", type=int, default=None,
                   help="cap prefix expansions (sorted term order)")
    q.add_argument("--fuzzy", action="store_true",
                   help="fuzziness:AUTO term expansion (oracle.fuzzy semantics)")
    q.add_argument("--scroll", type=int, default=0, metavar="SIZE",
                   help="ES _search?scroll: stream the FULL match set "
                        "in SIZE-row pages (O(SIZE) per page); plain "
                        "query path only")
    q.add_argument("--fuzzy-prefix-length", type=int, default=0,
                   help="ES fuzzy prefix_length: candidates must share "
                        "the query term's first N chars exactly (also "
                        "prunes the dictionary scan)")
    q.add_argument("--transpositions", action="store_true",
                   help="ES fuzzy_transpositions: Damerau distance "
                        "(a transposition = one edit); requires --fuzzy")
    q.add_argument("--synonyms", default=None,
                   help="query-time synonym expansion, "
                        "'term:syn1|syn2,term2:syn3' (best-member-wins "
                        "group scoring, idf weights)")
    q.add_argument("--fields", default=None,
                   help="ES-style multi_match field specs over a "
                        "multi-field index, e.g. 'title^2,text'")
    q.add_argument("--filter", default=None, metavar="SQL_PREDICATE",
                   help="bool.filter: docmap predicate, e.g. \"lang = 'en'\" "
                        "(needs an index built with --docvalues)")
    q.add_argument("--syntax",
                   choices=["dsl", "query_string", "simple_query_string"],
                   default="dsl",
                   help="query_string parses Lucene syntax "
                        "(AND/OR/NOT, parens, +/-, term~, field:term; "
                        "FAILS LOUD on anything else); "
                        "simple_query_string is the lenient search-box "
                        "syntax (+|/-, \"phrase\"~N, term*, term~, "
                        "parens; invalid parts are discarded)")
    q.add_argument("--default-operator", choices=["and", "or"],
                   default="or",
                   help="query_string / simple_query_string combinator "
                        "for bare adjacent terms")
    q.add_argument("--flags", default="ALL",
                   help="simple_query_string feature flags: ALL, NONE, "
                        "or comma-list of AND,OR,NOT,PREFIX,PHRASE,"
                        "PRECEDENCE,ESCAPE,FUZZY,NEAR")
    q.add_argument("--must-not", default=None, metavar="QUERY",
                   help="bool.must_not: exclude docs matching this query")
    q.add_argument("--span-near", action="store_true",
                   help="ES span_near in_order=false: unordered "
                        "proximity within --slop (ordered proximity is "
                        "--phrase --slop)")
    q.add_argument("--span-first", type=int, default=None, metavar="END",
                   help="ES span_first: single term restricted to the "
                        "first END positions")
    q.add_argument("--span-or", action="store_true",
                   help="ES span_or: union of the query's single-term "
                        "clauses (tfp = distinct positions of any term)")
    q.add_argument("--span-not", default=None, metavar="EXCLUDE_TERM",
                   help="ES span_not: query term occurrences with no "
                        "EXCLUDE_TERM in [p - --span-pre, p + "
                        "--span-post]")
    q.add_argument("--span-pre", type=int, default=0)
    q.add_argument("--span-post", type=int, default=0)
    q.add_argument("--span-containing", default=None,
                   metavar="LITTLE_TERM",
                   help="ES span_containing: unordered windows of the "
                        "query terms (--slop) that also contain "
                        "LITTLE_TERM")
    q.add_argument("--span-multi", default=None,
                   choices=["prefix", "wildcard"],
                   help="ES span_multi: treat QUERY as a prefix or "
                        "wildcard pattern and span-rewrite it to a "
                        "span_or over the dictionary expansions "
                        "(--max-expansions caps)")
    q.add_argument("--ids", default=None, metavar="ID[,ID...]",
                   help="ES ids query: fetch these doc_ids "
                        "(filter context, score 1.0, doc-order page)")
    q.add_argument("--exists", default=None, metavar="FIELD",
                   help="ES exists query: docs with a non-null doc "
                        "value for FIELD (needs an index built with "
                        "that docvalue column)")
    q.add_argument("--terms-lookup", default=None,
                   metavar="FIELD:DOC_ID:PATH",
                   help="ES terms lookup: filter FIELD by the value(s) "
                        "of PATH on document DOC_ID (PATH 'text' = "
                        "analyzed token list of the stored _source)")
    q.add_argument("--boosting", default=None, metavar="NEG_QUERY",
                   help="ES boosting query: demote docs matching "
                        "NEG_QUERY by --negative-boost")
    q.add_argument("--negative-boost", type=float, default=0.5,
                   help="boosting query demotion factor (default 0.5)")
    q.add_argument("--constant-score", type=float, default=None,
                   metavar="BOOST",
                   help="ES constant_score: every match scores BOOST; "
                        "page = k smallest matching doc_ids")
    q.add_argument("--rank-feature", default=None,
                   metavar="FIELD:FUNC[:PARAM]",
                   help="ES rank_feature in bool.should: BM25 + "
                        "f(doc value); FUNC saturation|log|sigmoid, "
                        "PARAM = pivot (saturation/sigmoid) or "
                        "scaling (log)")
    q.add_argument("--script-score", default=None,
                   metavar="FIELD:SCRIPT",
                   help="ES script_score: final = SCRIPT(_score, "
                        "value) with value = FIELD doc value; pinned "
                        "arithmetic DSL (+-*/, log, log1p, sqrt, abs, "
                        "exp, min, max, pow)")
    q.add_argument("--decay", default=None,
                   metavar="FIELD:FUNC:ORIGIN:SCALE[:OFFSET[:DECAY]]",
                   help="ES function_score decay (gauss|exp|linear) "
                        "on a numeric doc value, boost_mode multiply")
    q.add_argument("--routing", default=None,
                   help="ES custom routing value: prune the search to "
                        "the single shard owning this routing value "
                        "(index must be built with routing_col)")
    q.add_argument("--min-score", type=float, default=None,
                   help="ES min_score: drop hits scoring below the "
                        "floor (exact post-filter on the ranked page)")

    pp = sub.add_parser(
        "positions", help="build the positions table for phrase queries"
    )
    pp.add_argument("--input", required=True)
    pp.add_argument("--index", required=True)
    pp.add_argument("--cores", default="*")
    pp.set_defaults(fn=cmd_positions)

    fa = sub.add_parser(
        "facet", help="terms aggregation over the full match set"
    )
    fa.add_argument("--index", required=True)
    fa.add_argument("--query", required=True)
    fa.add_argument("--values", required=True,
                    help="parquet with (doc_id, <field>) doc values")
    fa.add_argument("--field", required=True)
    fa.add_argument("--mode", choices=["and", "or"], default="and")
    fa.add_argument("--size", type=int, default=10)
    fa.add_argument("--cores", default="*")
    fa.set_defaults(fn=cmd_facet)

    so = sub.add_parser("sorted", help="ES index.sort: sort sidecar "
                                       "build + early-terminated top-k")
    so.add_argument("--index", required=True)
    so.add_argument("--field", required=True,
                    help="docvalue column to sort by")
    so.add_argument("--build", action="store_true",
                    help="(re)build the sort sidecar first")
    so.add_argument("--k", type=int, default=0,
                    help="query the top-k (0 = build only)")
    so.add_argument("--asc", action="store_true",
                    help="ascending order (default: descending)")
    so.add_argument("--filter", default=None,
                    help="doc-value predicate pushed into the scan")
    so.add_argument("--cores", default="*")
    so.set_defaults(fn=cmd_sorted)

    sv = sub.add_parser("sparse", help="ES sparse_vector: learned-"
                                       "sparse dot-product retrieval")
    sv.add_argument("--index", required=True)
    sv.add_argument("--build-from", default=None,
                    help="pages parquet to derive tf sparse vectors "
                         "from (stand-in for a model export)")
    sv.add_argument("--weights", default=None,
                    help="query term weights: 'term:w,term2:w2'")
    sv.add_argument("--k", type=int, default=10)
    sv.add_argument("--top-m", type=int, default=32,
                    help="terms kept per doc at build")
    sv.add_argument("--tbuckets", type=int, default=16)
    sv.add_argument("--cores", default="*")
    sv.set_defaults(fn=cmd_sparse)

    ri = sub.add_parser("reindex", help="ES _reindex: rebuild from "
                                        "stored _source with new options")
    ri.add_argument("--index", required=True)
    ri.add_argument("--dest", required=True)
    ri.add_argument("--shards", type=int, default=None)
    ri.add_argument("--tbuckets", type=int, default=None)
    ri.add_argument("--stopwords", default=None)
    ri.add_argument("--stemmer", default=None)
    ri.add_argument("--cores", default="*")
    ri.set_defaults(fn=cmd_reindex)

    sh = sub.add_parser("shrink", help="ES _shrink/_split: reshard")
    sh.add_argument("--index", required=True)
    sh.add_argument("--dest", required=True)
    sh.add_argument("--shards", type=int, required=True)
    sh.add_argument("--cores", default="*")
    sh.set_defaults(fn=cmd_shrink)

    ub = sub.add_parser("update-by-query", help="ES _update_by_query: "
                                                "pipeline rewrite of "
                                                "matching docs")
    ub.add_argument("--index", required=True)
    ub.add_argument("--query", required=True)
    ub.add_argument("--pipeline", required=True,
                    help='JSON processor list, e.g. '
                         '\'[{"lowercase": {"field": "text"}}]\'')
    ub.add_argument("--mode", choices=["and", "or"], default="and")
    ub.add_argument("--cores", default="*")
    ub.set_defaults(fn=cmd_update_by_query)

    fc = sub.add_parser("field-caps", help="ES _field_caps: per-field "
                                           "capabilities across indexes")
    fc.add_argument("--index", required=True,
                    help="comma-separated index dirs")
    fc.add_argument("--cores", default="*")
    fc.set_defaults(fn=cmd_field_caps)

    ms = sub.add_parser("msearch", help="ES _msearch: JSONL query file "
                                        "-> one batched plan")
    ms.add_argument("--index", required=True)
    ms.add_argument("--file", required=True,
                    help='JSONL: {"query": ..., "k"?: ...} per line')
    ms.add_argument("--k", type=int, default=10,
                    help="default k for lines without one")
    ms.add_argument("--mode", choices=["and", "or"], default="and")
    ms.add_argument("--cores", default="*")
    ms.set_defaults(fn=cmd_msearch)

    sd = sub.add_parser(
        "search-dsl",
        help="ES _search with a raw query-DSL JSON body "
        "(bool/match/multi_match/dis_max/filter/wrapper subset)",
    )
    sd.add_argument("--index", required=True)
    sd.add_argument("--body", help="inline JSON request body")
    sd.add_argument("--body-file", help="path to a JSON request body")
    sd.add_argument("--k", type=int, default=10,
                    help="default size when the body has none")
    sd.add_argument("--cores", type=int, default=None)
    sd.set_defaults(fn=cmd_search_dsl)

    st = sub.add_parser("stats", help="index introspection (_stats)")
    st.add_argument("--index", required=True)
    st.add_argument("--cores", default="*")
    st.set_defaults(fn=cmd_stats)

    sg = sub.add_parser("suggest", help="term / phrase suggester "
                                        "(did-you-mean)")
    sg.add_argument("--index", required=True)
    sg.add_argument("--query", required=True)
    sg.add_argument("--size", type=int, default=5)
    sg.add_argument("--phrase", action="store_true",
                    help="phrase suggester: whole-query correction "
                         "re-ranked by the bigram LM (needs `lm`)")
    sg.add_argument("--max-candidates", type=int, default=3,
                    help="phrase suggester per-slot candidate cap")
    sg.add_argument("--complete", action="store_true",
                    help="completion suggester: extend QUERY as a "
                         "prefix from weighted corpus n-gram entries "
                         "(needs `lm`)")
    sg.add_argument("--fuzziness", type=int, default=0,
                    help="completion suggester prefix edit budget "
                         "(first char exact)")
    sg.add_argument("--cores", default="*")
    sg.set_defaults(fn=cmd_suggest)

    an = sub.add_parser("analyze", help="ES _analyze: run the analysis "
                                        "chain on a text (optionally "
                                        "with an index's meta options)")
    an.add_argument("--text", required=True)
    an.add_argument("--index", default=None,
                    help="inherit stopwords/stemmer from this index")
    an.add_argument("--stopwords", default=None)
    an.add_argument("--stemmer", default=None)
    an.set_defaults(fn=cmd_analyze)

    dbq = sub.add_parser("delete-by-query",
                         help="ES _delete_by_query: tombstone every "
                              "matching doc (distributed write, no "
                              "driver collect)")
    dbq.add_argument("--index", required=True)
    dbq.add_argument("--query", required=True)
    dbq.add_argument("--mode", choices=["and", "or"], default="and")
    dbq.add_argument("--cores", default="*")
    dbq.set_defaults(fn=cmd_delete_by_query)

    mg = sub.add_parser("mget", help="ES _mget: fetch docs by id "
                                     "(request order, found flags)")
    mg.add_argument("--index", required=True)
    mg.add_argument("--ids", required=True,
                    help="comma-separated doc ids")
    mg.add_argument("--source", action="store_true",
                    help="include stored _source text (needs "
                         "store_source build)")
    mg.add_argument("--cores", default="*")
    mg.set_defaults(fn=cmd_mget)

    sn = sub.add_parser("snapshot", help="ES _snapshot: point-in-time "
                                         "incremental index snapshot")
    sn.add_argument("--repo", required=True)
    sn.add_argument("--index", default=None)
    sn.add_argument("--name", default=None)
    sn.add_argument("--list", action="store_true",
                    help="list committed snapshots in the repo")
    sn.set_defaults(fn=cmd_snapshot)

    rs = sub.add_parser("restore", help="restore a snapshot into a NEW "
                                        "index dir")
    rs.add_argument("--repo", required=True)
    rs.add_argument("--name", required=True)
    rs.add_argument("--target", required=True)
    rs.set_defaults(fn=cmd_restore)

    cnt = sub.add_parser("count", help="ES _count: matching-doc count, "
                                       "no scoring or page")
    cnt.add_argument("--index", required=True)
    cnt.add_argument("--query", required=True)
    cnt.add_argument("--mode", choices=["and", "or"], default="and")
    cnt.add_argument("--cores", default="*")
    cnt.set_defaults(fn=cmd_count)

    lm = sub.add_parser("lm", help="build the phrase-suggester bigram "
                                   "LM sidecar")
    lm.add_argument("--input", required=True)
    lm.add_argument("--index", required=True)
    lm.add_argument("--cores", default="*")
    lm.set_defaults(fn=cmd_lm)

    tk = sub.add_parser("tokenizer", help="train a subword tokenizer "
                                          "(BPE or unigram-LM) and "
                                          "report segmentation stats")
    tk.add_argument("--input", required=True)
    tk.add_argument("--family", choices=("bpe", "unigram"),
                    default="bpe")
    tk.add_argument("--size", type=int, default=500,
                    help="n_merges (bpe) / vocab_size (unigram)")
    tk.add_argument("--max-words", type=int, default=50_000,
                    help="word-frequency table prune (the one "
                         "corpus-scale stage)")
    tk.add_argument("--em-iters", type=int, default=4,
                    help="unigram hard-EM rounds")
    tk.add_argument("--cores", default="*")
    tk.set_defaults(fn=cmd_tokenizer)

    qc = sub.add_parser("quality-clf", help="model-based quality "
                        "filter: hashed-feature linear scorer "
                        "(+ optional distributed logistic training)")
    qc.add_argument("--input", required=True)
    qc.add_argument("--train", default=None,
                    help="labeled parquet (doc_id, text, label 0/1) "
                         "to train on; omit for the pinned weights")
    qc.add_argument("--dim", type=int, default=1024)
    qc.add_argument("--iters", type=int, default=30)
    qc.add_argument("--lr", type=float, default=1.0)
    qc.add_argument("--threshold", type=float, default=None,
                    help="keep prob >= threshold (default: prob >= 0.5)")
    qc.add_argument("--cores", default="*")
    qc.set_defaults(fn=cmd_quality_clf)

    tv = sub.add_parser("termvectors", help="per-doc term statistics "
                                            "(_termvectors)")
    tv.add_argument("--index", required=True)
    tv.add_argument("--input", required=True,
                    help="parquet with the documents' text")
    tv.add_argument("--ids", required=True, help="comma-separated doc ids")
    tv.add_argument("--id-col", default="doc_id")
    tv.add_argument("--text-col", default="text")
    tv.add_argument("--term-statistics", action="store_true",
                    help="also compute corpus ttf per term")
    tv.add_argument("--cores", default="*")
    tv.set_defaults(fn=cmd_termvectors)

    pc = sub.add_parser("percolate", help="reverse search: which "
                                          "registered queries match "
                                          "each doc")
    pc.add_argument("--input", required=True,
                    help="parquet with the documents to percolate")
    pc.add_argument("--queries", required=True,
                    help="'ID:MODE:text;ID:MODE:text' "
                         "(MODE: and | or | msm.N)")
    pc.add_argument("--id-col", default="doc_id")
    pc.add_argument("--text-col", default="text")
    pc.add_argument("--cores", default="*")
    pc.set_defaults(fn=cmd_percolate)

    ex = sub.add_parser("explain", help="per-term BM25 score breakdown "
                                        "for one (query, doc) pair")
    ex.add_argument("--index", required=True)
    ex.add_argument("--query", required=True)
    ex.add_argument("--doc-id", required=True)
    ex.add_argument("--mode", choices=["and", "or"], default="and")
    ex.add_argument("--cores", default="*")
    ex.set_defaults(fn=cmd_explain)

    de = sub.add_parser(
        "delete", help="tombstone documents (reclaimed at next merge)"
    )
    de.add_argument("--index", required=True)
    de.add_argument("--ids", required=True,
                    help="comma list of doc_ids to delete")
    de.add_argument("--cores", default="*")
    de.set_defaults(fn=cmd_delete)

    m = sub.add_parser(
        "merge", help="idempotent compaction of index segments into root"
    )
    m.add_argument("--index", required=True)
    m.add_argument("--cores", default="*")
    m.set_defaults(fn=cmd_merge)

    i = sub.add_parser(
        "ingest",
        help="incremental ingest: stream a page directory into segments",
    )
    i.add_argument("--input", required=True,
                   help="parquet directory watched by readStream")
    i.add_argument("--index", required=True)
    i.add_argument("--checkpoint", required=True,
                   help="streaming checkpoint dir (exactly-once batch ids)")
    i.add_argument("--shards", type=int, default=8)
    i.add_argument("--tbuckets", type=int, default=16)
    i.add_argument("--cores", default="*")
    i.add_argument("--follow", action="store_true",
                   help="keep running and index new files as they land "
                        "(default: drain what's present, then exit)")
    i.add_argument("--dedup", action="store_true",
                   help="drop exact-content duplicates across batches "
                        "(seen-hash anti-join, replay-idempotent)")
    i.add_argument("--positions", action="store_true",
                   help="also write per-segment positions tables "
                        "(phrase queries over the streamed index)")
    i.set_defaults(fn=cmd_ingest)
    q.add_argument("--cores", default="*")
    q.set_defaults(fn=cmd_query)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
