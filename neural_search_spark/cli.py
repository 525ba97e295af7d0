"""spark-submit entrypoints (the north rule's cluster launch surface).

Package the library and submit:

    cd /root/repo && zip -r /tmp/nss.zip neural_search_spark
    spark-submit --py-files /tmp/nss.zip -m neural_search_spark.cli ...

or equivalently with this file as the main script:

    spark-submit --py-files /tmp/nss.zip neural_search_spark/cli.py \
        build --input /data/transcripts --output /data/index \
        --n-shards 512 [--resume]

    spark-submit --py-files /tmp/nss.zip neural_search_spark/cli.py \
        query --index /data/index --query "spark join window" --k 10

    spark-submit --py-files /tmp/nss.zip neural_search_spark/cli.py \
        query-batch --index /data/index --queries /data/queries.parquet \
        --output /data/results

On a real cluster, drop the ``local[N]`` master (the SparkSession builder
honors the cluster's ``--master``); locally the SPARK_GRAFT_CPUS default
applies. All jobs are idempotent: ``build --resume`` restarts from the
lineage checkpoint, skipping complete term_buckets.
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_session(args):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = SparkSession.builder.appName("neural_search_spark")
    if args.local_cpus:
        builder = builder.master(f"local[{args.local_cpus}]")
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def cmd_build(args) -> None:
    from .index.build import IndexBuilder
    from .sources import load_transcripts

    spark = _get_session(args)
    tr = load_transcripts(spark, args.input, snapshot_id=args.snapshot_id)
    info = IndexBuilder(
        spark,
        args.output,
        n_shards=args.n_shards,
        block_size=args.block_size,
    ).build(tr, resume=args.resume)
    if getattr(args, "positions", False):
        from .index.positions import build_positions

        info["positions"] = build_positions(spark, args.output, tr)
    print(json.dumps(info))


def cmd_merge(args) -> None:
    from .index.merge import merge_indexes

    spark = _get_session(args)
    dels = (
        spark.read.parquet(args.deletes).select("doc_id")
        if args.deletes
        else None
    )
    info = merge_indexes(
        spark,
        args.inputs,
        args.output,
        target_postings_per_task=args.target_postings_per_task,
        deletes=dels,
    )
    print(json.dumps(info))


def cmd_query(args) -> None:
    from .query.bm25 import BM25Index, bm25_topk

    spark = _get_session(args)
    idx = BM25Index(spark, args.index)
    if args.deletes:
        idx.with_deletes(spark.read.parquet(args.deletes).select("doc_id"))
    if args.fuzziness is not None:
        from .query.fuzzy import fuzzy_match_topk

        out = fuzzy_match_topk(
            idx,
            args.query,
            k=args.k,
            fuzziness=args.fuzziness,
            prefix_length=args.fuzzy_prefix_length,
            transpositions=not args.no_fuzzy_transpositions,
        )
    else:
        out = bm25_topk(
            idx,
            args.query,
            k=args.k,
            merge=args.merge,
            operator=args.operator,
            minimum_should_match=args.minimum_should_match,
        )
    for row in out.collect():
        print(json.dumps(row.asDict()))


def cmd_phrase(args) -> None:
    from .query.bm25 import BM25Index
    from .query.phrase import phrase_topk

    spark = _get_session(args)
    idx = BM25Index(spark, args.index)
    if args.deletes:
        idx.with_deletes(spark.read.parquet(args.deletes).select("doc_id"))
    if args.prefix:
        from .query.phrase import phrase_prefix_topk

        out = phrase_prefix_topk(
            idx,
            args.phrase,
            k=args.k,
            max_expansions=args.max_expansions,
            mode=args.mode,
        )
    else:
        out = phrase_topk(
            idx, args.phrase, k=args.k, mode=args.mode, slop=args.slop
        )
    for row in out.collect():
        print(json.dumps(row.asDict()))


def cmd_suggest(args) -> None:
    from .query.bm25 import BM25Index
    from .query.suggest import term_suggest

    spark = _get_session(args)
    idx = BM25Index(spark, args.index)
    out = term_suggest(
        idx,
        args.text,
        size=args.size,
        suggest_mode=args.mode,
        sort=args.sort,
    )
    print(
        json.dumps(
            {
                tok: [
                    {"term": s.term, "score": round(s.score, 4), "freq": s.freq}
                    for s in opts
                ]
                for tok, opts in out.items()
            }
        )
    )


def cmd_query_batch(args) -> None:
    from .query.bm25 import BM25Index, bm25_topk_batch

    spark = _get_session(args)
    idx = BM25Index(spark, args.index)
    if args.deletes:
        idx.with_deletes(spark.read.parquet(args.deletes).select("doc_id"))
    qdf = spark.read.parquet(args.queries).select("query_id", "query_text")
    pairs = [(r["query_id"], r["query_text"]) for r in qdf.collect()]
    out = bm25_topk_batch(idx, pairs, k=args.k)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"queries": len(pairs), "output": args.output}))


def _load_ann_store(spark, path: str):
    """Open an on-disk ANN store, dispatching on its marker file."""
    import os

    if os.path.exists(os.path.join(path, "lsh_config.json")):
        from .extras.similarity import LshAnnIndex

        return LshAnnIndex.load(spark, path)
    if os.path.exists(os.path.join(path, "hnsw_config.json")):
        from .extras.hnsw import HnswAnnIndex

        return HnswAnnIndex.load(spark, path)
    # pq_config.json must win over centroids.parquet: the IVF-PQ store
    # carries centroids too
    if os.path.exists(os.path.join(path, "pq_config.json")):
        from .extras.pq import PqAnnIndex

        return PqAnnIndex.load(spark, path)
    if os.path.exists(os.path.join(path, "centroids.parquet")):
        from .extras.similarity import IvfAnnIndex

        return IvfAnnIndex.load(spark, path)
    raise SystemExit(
        f"--ann-index {path}: no lsh_config.json / hnsw_config.json / "
        "pq_config.json / centroids.parquet marker — not an ANN store"
    )


def _load_corpus(spark, path):
    if not path:
        return None
    corpus = spark.read.parquet(path)
    if "doc_id" not in corpus.columns:
        if {"conv_id", "turn_idx"} <= set(corpus.columns):
            # transcripts-shaped corpus: derive the stable doc id the
            # index build uses, so corpus plans and index plans agree
            from .index.build import doc_id_col

            corpus = corpus.withColumn("doc_id", doc_id_col())
        else:
            raise SystemExit(
                "--corpus table needs a doc_id column (or conv_id + "
                "turn_idx to derive one)"
            )
    return corpus


def _parse_kv(items, flag: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for kv in items or []:
        name, sep, path = kv.partition("=")
        if not sep or not name or not path:
            raise SystemExit(f"{flag} wants NAME=DIR, got {kv!r}")
        out[name] = path
    return out


def _lookup_tables(spark, args):
    kvs = _parse_kv(getattr(args, "lookup_table", []), "--lookup-table")
    return {n: spark.read.parquet(p) for n, p in kvs.items()} or None


def cmd_search(args) -> None:
    """Engine.search() front door: routes a JSON QuerySpec/HybridSpec tree
    to the attached indexes / corpus (HybridQueryPhaseSearcher analog)."""
    from .engine import Engine
    from .index.sparse import SparseIndex
    from .query.bm25 import BM25Index

    if not args.spec and not args.spec_json:
        raise SystemExit("search: provide --spec FILE or --spec-json JSON")
    spark = _get_session(args)
    if args.spec_json:
        spec = args.spec_json
    else:
        with open(args.spec) as f:
            spec = f.read()
    ann = None
    if args.ann_index:
        ann = _load_ann_store(spark, args.ann_index)
    corpus = _load_corpus(spark, args.corpus)
    field_indexes = {
        name: BM25Index(spark, path)
        for name, path in _parse_kv(
            getattr(args, "field_index", []), "--field-index"
        ).items()
    }
    eng = Engine(
        spark,
        corpus=corpus,
        bm25_index=BM25Index(spark, args.index) if args.index else None,
        sparse_index=(
            SparseIndex(spark, args.sparse_index) if args.sparse_index else None
        ),
        ann_index=ann,
        field_indexes=field_indexes or None,
        lookup_tables=_lookup_tables(spark, args),
    )
    parsed = json.loads(spec)
    rescore = json.loads(args.rescore_json) if args.rescore_json else None
    aggs = json.loads(args.aggs_json) if args.aggs_json else None
    hl = (
        json.loads(args.highlight_json)
        if getattr(args, "highlight_json", None)
        else None
    )
    if args.batch:
        # {query_id: spec} → one msearch job (match specs batched together)
        if rescore is not None:
            raise SystemExit("search: --rescore-json not supported with --batch")
        if aggs is not None:
            raise SystemExit("search: --aggs-json not supported with --batch")
        if hl is not None:
            raise SystemExit(
                "search: --highlight-json not supported with --batch"
            )
        out = eng.msearch(parsed, k=args.k)
    elif aggs is not None:
        if hl is not None:
            raise SystemExit(
                "search: --highlight-json not supported with --aggs-json"
            )
        out, agg_frames = eng.search_with_aggs(
            parsed, aggs, k=args.k, rescore=rescore
        )
        for path, frame in agg_frames.items():
            for row in frame.collect():
                print(json.dumps({"agg": path, **row.asDict()}, default=str))
    else:
        out = eng.search(parsed, k=args.k, rescore=rescore, highlight=hl)
    for row in out.collect():
        print(json.dumps(row.asDict(), default=str))
    if getattr(args, "explain_ids", None):
        ids = [int(x) for x in args.explain_ids.split(",") if x.strip()]
        for row in eng.explain_score(parsed, ids).collect():
            print(json.dumps({"explain": True, **row.asDict()}))


def cmd_complete(args) -> None:
    from .index.completion import CompletionIndex

    spark = _get_session(args)
    cidx = CompletionIndex(spark, args.completion_index)
    got = cidx.complete(
        args.prefix,
        size=args.size,
        skip_duplicates=args.skip_duplicates,
        fuzzy=({} if args.fuzzy else None),
        contexts=(
            [c.strip() for c in args.contexts.split(",") if c.strip()]
            if getattr(args, "contexts", None)
            else None
        ),
    )
    print(
        json.dumps(
            [
                {
                    "text": c.text,
                    "weight": c.weight,
                    "doc_id": c.doc_id,
                    "distance": c.distance,
                }
                for c in got
            ]
        )
    )


def cmd_terms_enum(args) -> None:
    from .engine import Engine
    from .query.bm25 import BM25Index

    spark = _get_session(args)
    eng = Engine(spark, bm25_index=BM25Index(spark, args.index))
    print(
        json.dumps(
            eng.terms_enum(
                args.prefix, size=args.size, search_after=args.search_after
            )
        )
    )


def _spec_arg(args) -> str:
    if not args.spec and not args.spec_json:
        raise SystemExit(f"{args.cmd}: provide --spec FILE or --spec-json JSON")
    if args.spec_json:
        return args.spec_json
    with open(args.spec) as f:
        return f.read()


def cmd_analyze(args) -> None:
    # pure-Python tokenization — no reason to pay SparkSession startup
    from .tokenizer import tokenize_py

    print(json.dumps(tokenize_py(args.text)))


def cmd_count(args) -> None:
    from .engine import Engine

    spark = _get_session(args)
    eng = Engine(
        spark,
        corpus=_load_corpus(spark, args.corpus),
        lookup_tables=_lookup_tables(spark, args),
    )
    print(json.dumps(eng.count(json.loads(_spec_arg(args)))))


def cmd_mget(args) -> None:
    from .engine import Engine

    spark = _get_session(args)
    eng = Engine(spark, corpus=_load_corpus(spark, args.corpus))
    ids = [int(x) for x in args.ids.split(",") if x.strip()]
    for row in eng.mget(ids).collect():
        print(json.dumps(row.asDict(), default=str))


def cmd_update_by_query(args) -> None:
    from .engine import STALE_INDEX_UPDATE, Engine
    from .query.bm25 import BM25Index

    if args.index and not args.out and not args.dry_run:
        raise SystemExit(STALE_INDEX_UPDATE)
    spark = _get_session(args)
    eng = Engine(
        spark,
        corpus=_load_corpus(spark, args.corpus),
        bm25_index=BM25Index(spark, args.index) if args.index else None,
        lookup_tables=_lookup_tables(spark, args),
    )
    set_exprs = dict(
        kv.split("=", 1) for kv in (args.set or []) if "=" in kv
    )
    rep = eng.update_by_query(
        json.loads(_spec_arg(args)),
        set_exprs,
        out_dir=args.out,
        dry_run=args.dry_run,
    )
    print(json.dumps(rep))


def cmd_termvectors(args) -> None:
    from .engine import Engine
    from .query.bm25 import BM25Index

    spark = _get_session(args)
    eng = Engine(
        spark,
        corpus=_load_corpus(spark, args.corpus),
        bm25_index=BM25Index(spark, args.index) if args.index else None,
    )
    ids = [int(x) for x in args.ids.split(",") if x.strip()]
    resp = eng.termvectors(
        ids,
        term_statistics=args.term_statistics,
        field_statistics=args.field_statistics,
    )
    # JSON object keys are strings; keep the host's id-keyed shape
    print(json.dumps({str(k): v for k, v in resp.items()}))


def cmd_delete_by_query(args) -> None:
    """Tombstone report only: the CLI process exits after printing, so
    the attached liveDocs are demonstrated by the (deleted, total)
    counts; a durable delete is `merge` with --deletes."""
    from .engine import Engine
    from .query.bm25 import BM25Index

    spark = _get_session(args)
    eng = Engine(
        spark,
        corpus=_load_corpus(spark, args.corpus),
        bm25_index=BM25Index(spark, args.index),
        lookup_tables=_lookup_tables(spark, args),
    )
    rep = eng.delete_by_query(
        json.loads(_spec_arg(args)), dry_run=args.dry_run
    )
    print(json.dumps(rep))


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="neural_search_spark")
    p.add_argument("--local-cpus", type=int, default=None,
                   help="run on local[N] (omit on a cluster)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--n-shards", type=int, default=32)
    b.add_argument("--block-size", type=int, default=4096)
    b.add_argument("--resume", action="store_true",
                   help="resume from lineage checkpoint")
    b.add_argument("--positions", action="store_true",
                   help="also write the positions sidecar (enables phrase)")
    b.add_argument("--snapshot-id", type=int, default=None,
                   help="Iceberg snapshot id to pin (iceberg: sources)")
    b.set_defaults(fn=cmd_build)

    m = sub.add_parser(
        "merge",
        help="merge built indexes over disjoint doc sets (segment-merge "
        "analog: no re-tokenize; avgdl/max_tfnorm recomputed)",
    )
    m.add_argument("--inputs", nargs="+", required=True,
                   help="two or more source index dirs")
    m.add_argument("--output", required=True)
    m.add_argument("--target-postings-per-task", type=int, default=500_000)
    m.add_argument("--deletes", default=None,
                   help="parquet with a doc_id column: expunge these docs "
                   "during the merge (forceMergeDeletes analog)")
    m.set_defaults(fn=cmd_merge)

    q = sub.add_parser("query", help="top-k BM25 query")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--merge", default="takeOrdered",
                   choices=["takeOrdered", "treeAggregate"])
    q.add_argument("--deletes", default=None,
                   help="parquet with a doc_id column: query-time tombstones "
                   "(liveDocs analog — stats stay stale until a merge)")
    q.add_argument("--operator", default="or", choices=["or", "and"],
                   help="'and' requires every distinct query term")
    q.add_argument("--min-should-match", default=None,
                   dest="minimum_should_match",
                   help="term-coverage bar: int, negative int, or 'N%%'")
    q.add_argument("--fuzziness", default=None,
                   help="fuzzy expansion: 'AUTO' or 0..2 edits")
    q.add_argument("--fuzzy-prefix-length", type=int, default=0,
                   dest="fuzzy_prefix_length",
                   help="expansion terms must share this exact prefix")
    q.add_argument("--no-fuzzy-transpositions", action="store_true",
                   help="plain Levenshtein instead of the OSA distance")
    q.set_defaults(fn=cmd_query)

    ph = sub.add_parser(
        "phrase", help="top-k exact-phrase query (positions sidecar)"
    )
    ph.add_argument("--index", required=True)
    ph.add_argument("--phrase", required=True)
    ph.add_argument("--k", type=int, default=10)
    ph.add_argument("--mode", default="auto",
                    choices=["auto", "driver", "distributed"])
    ph.add_argument("--deletes", default=None,
                    help="parquet of doc_id tombstones to exclude")
    ph.add_argument("--slop", type=int, default=0,
                    help="sloppy-phrase tolerance (Lucene SloppyPhraseScorer"
                    "; 0 = exact; distinct-term phrases only)")
    ph.add_argument("--prefix", action="store_true",
                    help="match_phrase_prefix: treat the last token as a "
                    "prefix expanded against the index dictionary")
    ph.add_argument("--max-expansions", type=int, default=50,
                    dest="max_expansions",
                    help="dictionary-expansion cap for --prefix (default 50)")
    ph.set_defaults(fn=cmd_phrase)

    sg = sub.add_parser(
        "suggest", help="term suggester (did-you-mean) from the dictionary"
    )
    sg.add_argument("--index", required=True)
    sg.add_argument("--text", required=True)
    sg.add_argument("--size", type=int, default=5)
    sg.add_argument("--mode", default="missing",
                    choices=["missing", "popular", "always"])
    sg.add_argument("--sort", default="score",
                    choices=["score", "frequency"])
    sg.set_defaults(fn=cmd_suggest)

    ce = sub.add_parser(
        "complete", help="completion suggester (prefix autocomplete)"
    )
    ce.add_argument("--completion-index", required=True)
    ce.add_argument("--prefix", required=True)
    ce.add_argument("--size", type=int, default=5)
    ce.add_argument("--skip-duplicates", action="store_true")
    ce.add_argument("--fuzzy", action="store_true",
                    help="FuzzyCompletionQuery mode (AUTO fuzziness)")
    ce.add_argument(
        "--contexts",
        help="comma-separated category contexts (mandatory for a "
        "context-built index, refused otherwise)",
    )
    ce.set_defaults(fn=cmd_complete)

    te = sub.add_parser(
        "terms-enum", help="_terms_enum: index terms matching a prefix"
    )
    te.add_argument("--index", required=True)
    te.add_argument("--prefix", required=True)
    te.add_argument("--size", type=int, default=10)
    te.add_argument("--search-after", default=None)
    te.set_defaults(fn=cmd_terms_enum)

    qb = sub.add_parser("query-batch", help="batched top-k BM25")
    qb.add_argument("--index", required=True)
    qb.add_argument("--queries", required=True,
                    help="parquet with (query_id, query_text)")
    qb.add_argument("--output", required=True)
    qb.add_argument("--k", type=int, default=10)
    qb.add_argument("--deletes", default=None,
                   help="parquet with a doc_id column: query-time tombstones")
    qb.set_defaults(fn=cmd_query_batch)

    s = sub.add_parser(
        "search", help="Engine.search(): JSON QuerySpec/HybridSpec front door"
    )
    s.add_argument("--spec", help="path to a JSON query spec file")
    s.add_argument("--spec-json", help="inline JSON query spec")
    s.add_argument(
        "--aggs-json",
        help="inline JSON aggs tree (OpenSearch DSL); computed over the "
        "query's full matched set, emitted as one JSON line per bucket "
        "before the hits (needs --corpus)",
    )
    s.add_argument(
        "--explain-ids",
        help="comma-separated doc ids: after the hits, print the "
        "per-term BM25 Explanation breakdown (match specs only)",
    )
    s.add_argument("--index", help="BM25 block index dir (match queries)")
    s.add_argument(
        "--field-index",
        action="append",
        default=[],
        metavar="FIELD=DIR",
        help="per-field BM25 block index for multi_match index serving "
        "(repeatable, e.g. --field-index text=/d/text --field-index "
        "tool=/d/tool)",
    )
    s.add_argument("--sparse-index", help="sparse postings index dir")
    s.add_argument(
        "--ann-index",
        help="on-disk ANN store for neural/neural_knn queries; the kind is "
        "auto-detected from the store's marker (lsh_config.json → LSH "
        "bucket store, hnsw_config.json → per-partition HNSW graphs, "
        "pq_config.json → IVF-PQ codes, centroids.parquet → IVF lists)",
    )
    s.add_argument(
        "--corpus",
        help="corpus parquet for the no-index routes; must carry doc_id "
        "plus the queried fields (text for match, an embedding array for "
        "neural, a MapType features column for neural_sparse fallback)",
    )
    s.add_argument("--k", type=int, default=10)
    s.add_argument(
        "--highlight-json",
        help="host-shaped highlight block applied to the final top-k "
        '(e.g. \'{"fields": {"text": {"fragment_size": 80}}}\')',
    )
    s.add_argument(
        "--rescore-json",
        help='rescore window, e.g. \'{"window_size": 50, "query": '
        '{"match": {"query_text": "..."}}, "score_mode": "total"}\' '
        "(needs --corpus for the second-pass scoring)",
    )
    s.add_argument(
        "--batch",
        action="store_true",
        help="spec is {query_id: spec}; runs Engine.msearch (one batched "
        "job for the match specs)",
    )
    s.add_argument(
        "--lookup-table",
        action="append",
        default=[],
        metavar="NAME=DIR",
        help="terms-lookup source table (repeatable): parquet DIR "
        "registered as NAME for {'terms': {'lookup': {'index': NAME, "
        "...}}} specs",
    )
    s.set_defaults(fn=cmd_search)

    an = sub.add_parser("analyze", help="_analyze: the token stream of a value")
    an.add_argument("--text", required=True)
    an.set_defaults(fn=cmd_analyze)

    ct = sub.add_parser(
        "count", help="_count: exact matched-doc count for a spec"
    )
    ct.add_argument("--spec", help="path to a JSON query spec file")
    ct.add_argument("--spec-json", help="inline JSON query spec")
    ct.add_argument("--corpus", required=True)
    ct.add_argument(
        "--lookup-table", action="append", default=[], metavar="NAME=DIR"
    )
    ct.set_defaults(fn=cmd_count)

    mg = sub.add_parser("mget", help="_mget: corpus rows by id")
    mg.add_argument("--corpus", required=True)
    mg.add_argument("--ids", required=True, help="comma-separated doc ids")
    mg.set_defaults(fn=cmd_mget)

    ub = sub.add_parser(
        "update-by-query",
        help="_update_by_query: apply --set COL=SQL_EXPR to the matched "
        "set; --out incrementally reindexes (segment + scoped merge)",
    )
    ub.add_argument("--spec", help="path to a JSON query spec file")
    ub.add_argument("--spec-json", help="inline JSON query spec")
    ub.add_argument("--corpus", required=True)
    ub.add_argument("--index", help="bm25 index dir (needed with --out)")
    ub.add_argument("--out", help="merged index output dir")
    ub.add_argument(
        "--set", action="append", default=[], metavar="COL=SQL_EXPR",
        help="column update expression (repeatable)",
    )
    ub.add_argument("--dry-run", action="store_true")
    ub.add_argument(
        "--lookup-table", action="append", default=[], metavar="NAME=DIR"
    )
    ub.set_defaults(fn=cmd_update_by_query)

    tv = sub.add_parser(
        "termvectors",
        help="_termvectors: re-analyzed per-doc term vectors; "
        "--term-statistics/--field-statistics read df/ttf from --index",
    )
    tv.add_argument("--corpus", required=True)
    tv.add_argument("--ids", required=True, help="comma-separated doc ids")
    tv.add_argument("--index", help="bm25 index dir (for statistics)")
    tv.add_argument("--term-statistics", action="store_true")
    tv.add_argument("--field-statistics", action="store_true")
    tv.set_defaults(fn=cmd_termvectors)

    dq = sub.add_parser(
        "delete-by-query",
        help="_delete_by_query: report the tombstone counts for a spec "
        "(durable delete = the merge command's --deletes)",
    )
    dq.add_argument("--spec", help="path to a JSON query spec file")
    dq.add_argument("--spec-json", help="inline JSON query spec")
    dq.add_argument("--corpus", required=True)
    dq.add_argument("--index", required=True)
    dq.add_argument("--dry-run", action="store_true")
    dq.add_argument(
        "--lookup-table", action="append", default=[], metavar="NAME=DIR"
    )
    dq.set_defaults(fn=cmd_delete_by_query)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    if __package__ in (None, ""):
        # spark-submit runs this FILE as __main__ with no package context,
        # so the commands' relative imports would fail; re-enter through
        # the package module (shipped via --py-files, or on sys.path when
        # launched from the repo root)
        from neural_search_spark.cli import main as _pkg_main

        _pkg_main()
    else:
        main()
