"""Float-hex page dump of every index-route query family, for comparing
two checkouts hit by hit.

Builds a fixed corpus (``generate_transcripts(N, seed=42)``) and its
indexes — ``text`` and ``tag`` per-field BM25 indexes with positions, a
sparse index of term-frequency weights and a 2-gram search_as_you_type
index, each with 4 shards and block 64 — then runs every index-route
family on the driver route and on the forced-distributed route
(``bm25.DRIVER_MAX_POSTINGS = -1``), as single searches and as msearch
batches, each case cold (empty driver caches) and then warm. It writes
one tab-separated row per hit: ``case, route, rank, doc_id,
score.hex()``.

Usage:
    PYTHONPATH=<checkout> python scripts/page_dump.py --out A.tsv
    PYTHONPATH=<other>    python scripts/page_dump.py --out B.tsv
    python scripts/page_dump.py --diff A.tsv B.tsv

``--diff`` reports every (case, route) whose pages differ: in score bits
only (same doc order), or in doc order. It exits 1 when a doc order
differs or a case is missing on one side.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import defaultdict

K = 10
MATCH = "tool call w0005"
HOT = "the tool"
MM = "tool conv00000001 call"
BODIES = {
    "match_or": {"match": {"query_text": MATCH}},
    "match_hot": {"match": {"query_text": HOT}},
    "match_and": {"match": {"query_text": "tool call", "operator": "and"}},
    "match_msm": {
        "match": {"query_text": MATCH, "minimum_should_match": 2}
    },
    "match_absent": {"match": {"query_text": "zzzz qqqq"}},
    "match_fuzzy": {"match": {"query_text": "tol cal", "fuzziness": 1}},
    "fuzzy": {"fuzzy": {"value": "cal"}},
    "term": {"term": {"value": "tool"}},
    "prefix": {"prefix": {"value": "w00"}},
    "wildcard": {"wildcard": {"value": "w00?1"}},
    "terms": {"terms": {"values": ["tool", "call", "w0005"]}},
    "match_phrase": {"match_phrase": {"query_text": "the call"}},
    "match_phrase_prefix": {"match_phrase_prefix": {"query_text": "the ca"}},
    "match_bool_prefix": {"match_bool_prefix": {"query_text": "the tool ca"}},
    "match_bool_prefix_1": {"match_bool_prefix": {"query_text": "w00"}},
    "sqs_flat": {"simple_query_string": {"query": "tool call"}},
    "neural_sparse": {"neural_sparse": {"query_text": MATCH}},
    "span_near": {
        "span_near": {
            "clauses": [
                {"span_term": {"value": "tool"}},
                {"span_term": {"value": "call"}},
            ],
            "slop": 2,
        }
    },
}
MULTI = {
    "mm_best": {"query_text": MM, "fields": ["text", "tag^2.5"]},
    "mm_best_tb": {
        "query_text": MM, "fields": ["text", "tag"], "tie_breaker": 0.3,
    },
    "mm_most": {
        "query_text": MM, "fields": ["text^1.5", "tag"],
        "match_type": "most_fields",
    },
    "mm_cross": {
        "query_text": MM, "fields": ["text", "tag^2"],
        "match_type": "cross_fields",
    },
    "mm_cross_tb": {
        "query_text": "the conv00000002 tool", "fields": ["text", "tag"],
        "match_type": "cross_fields", "tie_breaker": 0.5,
    },
    "mm_phrase": {
        "query_text": "the call", "fields": ["text", "tag^2"],
        "match_type": "phrase",
    },
    "mm_bool_prefix": {
        "query_text": "tool ca", "fields": ["text", "tag^2"],
        "match_type": "bool_prefix",
    },
}
BODIES.update({n: {"multi_match": b} for n, b in MULTI.items()})
MSEARCH = {
    "all": sorted(BODIES),
    "match": [n for n in BODIES if n.startswith("match_")],
    "multi_match": ["mm_best", "mm_best_tb", "mm_most", "mm_cross"],
    "multi_match_one": ["mm_cross"],
    "bool_prefix": ["match_bool_prefix", "match_bool_prefix_1"],
}


def build(spark, work: str, n_convs: int):
    """The engine over the fixed corpus, and the SAYT indexes."""
    from pyspark.sql import functions as F

    from neural_search_spark.engine import Engine
    from neural_search_spark.index.build import IndexBuilder, doc_id_col
    from neural_search_spark.index.positions import build_positions
    from neural_search_spark.index.sparse import SparseIndex, SparseIndexBuilder
    from neural_search_spark.query.bm25 import BM25Index
    from neural_search_spark.query.sayt import build_sayt_indexes
    from neural_search_spark.tokenizer import tokenize_expr
    from neural_search_spark.transcripts import generate_transcripts

    src = os.path.join(work, "transcripts.parquet")
    generate_transcripts(n_convs, seed=42).to_parquet(src, index=False)
    tr = spark.read.parquet(src)
    dirs = {n: os.path.join(work, n) for n in ("text", "tag", "sparse", "sayt")}
    IndexBuilder(spark, dirs["text"], n_shards=4, block_size=64).build(tr)
    build_positions(spark, dirs["text"], tr)
    tag_src = tr.select("conv_id", "turn_idx", F.col("conv_id").alias("text"))
    IndexBuilder(spark, dirs["tag"], n_shards=4, block_size=64).build(tag_src)
    build_positions(spark, dirs["tag"], tag_src)
    corpus = tr.withColumn("doc_id", doc_id_col())
    tall = (
        corpus.select("doc_id", F.explode(tokenize_expr("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("float").alias("weight"))
    )
    SparseIndexBuilder(spark, dirs["sparse"], n_shards=4, block_size=64).build(
        tall
    )
    text = BM25Index(spark, dirs["text"])
    eng = Engine(
        spark,
        corpus=corpus,
        bm25_index=text,
        sparse_index=SparseIndex(spark, dirs["sparse"]),
        field_indexes={"text": text, "tag": BM25Index(spark, dirs["tag"])},
    )
    sayt = build_sayt_indexes(
        spark, dirs["sayt"], tr, grams=(2,), n_shards=4, block_size=64
    )
    sayt[1] = text
    return eng, sayt


def cases(eng, sayt):
    """(case name, route-independent callable → rows of (query_id,
    doc_id, score)) for every case; ``mode`` is passed to the kernels
    that take it."""
    from neural_search_spark.index.sparse import sparse_index_topk_two_phase
    from neural_search_spark.query.bm25 import (
        BM25Index,
        bm25_topk,
        weighted_term_topk,
    )
    from neural_search_spark.query.multimatch import multi_match_index_topk
    from neural_search_spark.query.multiterm import match_bool_prefix_topk
    from neural_search_spark.query.sayt import search_as_you_type_topk

    def rows(page, qid=""):
        return [
            (getattr(r, "query_id", qid), r["doc_id"], r["score"])
            for r in page.collect()
        ]

    out = {}
    for name, body in BODIES.items():
        out[f"search:{name}"] = lambda mode, b=body: rows(eng.search(b, k=K))
    for mix, names in MSEARCH.items():
        out[f"msearch:{mix}"] = lambda mode, ns=names: rows(
            eng.msearch({n: BODIES[n] for n in ns}, k=K)
        )
    text = eng.bm25_index
    sp = eng.sparse_index
    out["weighted_term"] = lambda mode: rows(
        weighted_term_topk(
            text, {"tool": 1.5, "call": 0.7, "the": 0.2}, k=K, mode=mode
        )
    )
    out["tree_aggregate"] = lambda mode: rows(
        bm25_topk(text, MATCH, k=K, merge="treeAggregate", mode=mode)
    )
    for q in ("tool call", "the tool w0005 call"):
        out[f"sparse_two_phase:{q}"] = lambda mode, q=q: rows(
            sparse_index_topk_two_phase(
                sp, {t: 1.0 + i for i, t in enumerate(q.split())}, k=K,
                expansion_rate=2.0, mode=mode,
            )
        )
    out["sayt"] = lambda mode: rows(
        search_as_you_type_topk(sayt, "tool ca", k=K, mode=mode)
    )
    # tombstones: a second handle on the text index with deletes
    dead = BM25Index(eng.spark, text.path).with_deletes(
        eng.corpus.filter("turn_idx % 3 = 0").select("doc_id")
    )
    fields = {"text": dead, "tag": eng.field_indexes["tag"]}
    out["deleted:match"] = lambda mode: rows(
        bm25_topk(dead, HOT, k=K, mode=mode)
    )
    out["deleted:bool_prefix"] = lambda mode: rows(
        match_bool_prefix_topk(dead, "the tool ca", k=K, mode=mode)
    )
    for mt in ("best_fields", "cross_fields"):
        out[f"deleted:mm_{mt}"] = lambda mode, mt=mt: rows(
            multi_match_index_topk(
                fields, MM, ["text", "tag^2"], match_type=mt, k=K, mode=mode
            )
        )
    return out, [text, sp, dead, *eng.field_indexes.values(), *sayt.values()]


def dump(args) -> None:
    import neural_search_spark.query.bm25 as bm25_mod
    from neural_search_spark.index.cache import DriverCache
    from neural_search_spark.session import get_spark

    spark = get_spark(
        cpus=4, shuffle_partitions=4, app_name="page-dump",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    os.makedirs(args.work, exist_ok=True)
    eng, sayt = build(spark, args.work, args.convs)
    table, handles = cases(eng, sayt)
    gate = bm25_mod.DRIVER_MAX_POSTINGS
    with open(args.out, "w") as fh:
        for route, limit, mode in (
            ("driver", gate, "auto"), ("distributed", -1, "distributed")
        ):
            bm25_mod.DRIVER_MAX_POSTINGS = limit
            for name, run in table.items():
                for ix in handles:
                    ix._driver_cache = DriverCache()
                for temp in ("cold", "warm"):
                    got = run(mode)
                    rank = defaultdict(int)
                    for qid, doc, score in got:
                        rank[qid] += 1
                        case = f"{name}:{qid}" if qid else name
                        fh.write(
                            f"{case}\t{route}/{temp}\t{rank[qid]}\t{doc}\t"
                            f"{float(score).hex()}\n"
                        )
                    if not got:
                        fh.write(f"{name}\t{route}/{temp}\t0\t-\t-\n")
        bm25_mod.DRIVER_MAX_POSTINGS = gate
    spark.stop()


def load(path: str) -> dict:
    pages = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            case, route, rank, doc, score = line.rstrip("\n").split("\t")
            pages[case, route].append((int(rank), doc, score))
    return {key: sorted(rows) for key, rows in pages.items()}


def diff(a_path: str, b_path: str) -> int:
    a, b = load(a_path), load(b_path)
    bad = 0
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            print("MISSING", "A" if key not in a else "B", *key)
            bad += 1
            continue
        ra, rb = a[key], b[key]
        if [r[:2] for r in ra] != [r[:2] for r in rb]:
            print("ORDER", *key, f"{len(ra)} vs {len(rb)} rows")
            bad += 1
        elif ra != rb:
            n = sum(x != y for x, y in zip(ra, rb))
            print("BITS", *key, f"{n}/{len(ra)} scores differ")
    n_rows = sum(len(v) for v in a.values())
    print(f"{len(a)} cases, {n_rows} rows in A; {bad} order/missing differences")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", help="write the dump here")
    ap.add_argument("--work", default="/tmp/page_dump", help="index directory")
    ap.add_argument("--convs", type=int, default=300, help="corpus conversations")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.diff:
        return diff(*args.diff)
    if not args.out:
        ap.error("--out or --diff is required")
    dump(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
