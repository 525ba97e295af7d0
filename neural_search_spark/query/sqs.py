"""simple_query_string: a lenient query-string surface over the engine's
leaf scorers.

Reference host behavior (OpenSearch SimpleQueryStringBuilder → Lucene
SimpleQueryParser): a forgiving grammar that never throws —

* bare words            → match clauses (BM25), joined by the default
                          operator ('or' → union-sum, 'and' → must)
* ``+`` / ``|``         → explicit AND / OR between clauses
* ``-clause``           → exclusion (MUST_NOT)
* ``"quoted phrase"``   → match_phrase; ``"..."~N`` adds slop
* ``word*``             → prefix query (constant score)
* ``word~N``            → fuzzy match with N edits
* ``( ... )``           → grouping

Precedence parity with Lucene's ``SimpleQueryParser`` state machine
(``parseSubQuery`` + ``buildQueryTree``):

* one flat BooleanQuery per RUN of one operator; an operator change
  wraps the accumulated tree as the first clause of a new level — the
  left-associative fold below produces membership- and score-identical
  results because OR levels sum over matching clauses and AND levels
  gate on all-present with summed scores, both associative;
* between two clauses the FIRST written operator wins (``+ |`` keeps
  MUST — Lucene only latches ``currentOperation`` when none is pending)
  and operators before the first clause are ignored (no ``top`` yet);
* ``-`` toggles (``state.not++`` with a ``not % 2`` check), and a
  negated branch becomes a ``MUST_NOT branch + SHOULD MatchAllDocs``
  wrapper added AT ITS POSITION with the surrounding operator — the
  documented SimpleQueryParser quirk: ``foo -bar`` (default OR) matches
  docs with foo OR docs without bar, each docless-branch hit scoring
  the MatchAllDocs 1.0, and a pure-negative query matches the corpus
  minus the negated docs rather than nothing.

Lenient like the reference: dangling operators and unbalanced
quotes/parens degrade to terms or are ignored, never raised.

Scoring contract matches `bool`: every leaf scores the FULL scoped
corpus with its own stats (filters gate collection, never change
surviving scores); AND keeps docs present in both sides with scores
summed, OR sums scores over matching sides. All combinators are
doc_id-keyed Catalyst aggregates — at scale each leaf is one corpus
pass and each fold one keyed shuffle; a negation wrapper is one
anti-join against the scoped id projection (the MatchAllDocs analog:
column-pruned, never wider than one id column).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ranking import local_page
from ..tokenizer import tokenize_py

# ---------------------------------------------------------------------------
# AST + parser
# ---------------------------------------------------------------------------


@dataclass
class Leaf:
    kind: str  # 'match' | 'phrase' | 'prefix' | 'fuzzy'
    text: str
    slop: int = 0
    fuzziness: int = 0
    negated: bool = False


@dataclass
class Group:
    children: list = field(default_factory=list)  # [(op, node)]
    negated: bool = False


_WORD = re.compile(r"[^\s()|+\-\"]+")


def parse_sqs(query: str) -> Group:
    """Lenient recursive-descent parse → Group of (op, node) pairs where
    op ∈ {'default', 'and', 'or'} is the operator WRITTEN BEFORE the
    node ('default' for plain whitespace)."""
    pos = 0
    n = len(query)

    def parse_group(depth: int) -> Group:
        nonlocal pos
        g = Group()
        op = "default"
        neg = False
        while pos < n:
            ch = query[pos]
            if ch.isspace():
                pos += 1
                continue
            if ch == ")":
                if depth > 0:
                    pos += 1
                    return g
                pos += 1  # stray ')' at top level: ignore (lenient)
                continue
            if ch == "+":
                if op == "default":  # first operator between clauses wins
                    op = "and"
                pos += 1
                continue
            if ch == "|":
                if op == "default":
                    op = "or"
                pos += 1
                continue
            if ch == "-":
                neg = not neg  # state.not++ / not % 2: '--foo' un-negates
                pos += 1
                continue
            if ch == "(":
                pos += 1
                sub = parse_group(depth + 1)
                sub.negated = neg
                if sub.children:
                    g.children.append((op, sub))
                op, neg = "default", False
                continue
            if ch == '"':
                end = query.find('"', pos + 1)
                if end < 0:  # unbalanced quote: treat rest as words
                    body, pos_next = query[pos + 1 :], n
                else:
                    body, pos_next = query[pos + 1 : end], end + 1
                pos = pos_next
                slop = 0
                m = re.match(r"~(\d+)", query[pos:])
                if m:
                    slop = int(m.group(1))
                    pos += m.end()
                node = Leaf("phrase", body, slop=slop, negated=neg)
                if tokenize_py(body):
                    g.children.append((op, node))
                op, neg = "default", False
                continue
            m = _WORD.match(query, pos)
            if not m:
                pos += 1  # unrecognized char: skip (lenient)
                continue
            word = m.group(0)
            pos = m.end()
            node: Leaf
            fm = re.fullmatch(r"(.+?)~(\d+)", word)
            if word.endswith("*") and len(word) > 1:
                node = Leaf("prefix", word[:-1].lower(), negated=neg)
            elif fm:
                node = Leaf(
                    "fuzzy",
                    fm.group(1),
                    fuzziness=min(int(fm.group(2)), 2),
                    negated=neg,
                )
            else:
                node = Leaf("match", word, negated=neg)
            if node.kind == "prefix" or tokenize_py(node.text):
                g.children.append((op, node))
            op, neg = "default", False
        return g

    return parse_group(0)


# ---------------------------------------------------------------------------
# evaluator
# ---------------------------------------------------------------------------


def _match_leaves(g: Group) -> list[Leaf]:
    out = []
    for _, node in g.children:
        if isinstance(node, Group):
            out.extend(_match_leaves(node))
        elif node.kind == "match":
            out.append(node)
    return out


def _eval_leaf(
    leaf: Leaf,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    match_tall=None,
) -> DataFrame:
    if leaf.kind == "match" and match_tall is not None:
        tall, index_of = match_tall
        return tall.filter(
            F.col("subq") == index_of[id(leaf)]
        ).select("doc_id", "score")
    if text_col != "text":
        docs = docs.withColumnRenamed(text_col, "text")
        text_col = "text"
    if leaf.kind == "phrase":
        from .phrase import phrase_scored_scan

        return phrase_scored_scan(
            docs, leaf.text, id_col=id_col, text_col=text_col, slop=leaf.slop
        )
    if leaf.kind == "prefix":
        from .multiterm import multiterm_scored_scan

        return multiterm_scored_scan(
            docs, leaf.text, kind="prefix", id_col=id_col, text_col=text_col
        )
    if leaf.kind == "fuzzy":
        from .fuzzy import fuzzy_match_scored_scan

        return fuzzy_match_scored_scan(
            docs,
            leaf.text,
            fuzziness=leaf.fuzziness,
            id_col=id_col,
            text_col=text_col,
        )
    from ..gate import bm25_scored

    return bm25_scored(
        docs.withColumnRenamed(id_col, "doc_id")
        if id_col != "doc_id"
        else docs,
        ["doc_id"],
        leaf.text,
        ndp=None,
    )


def _combine(acc: DataFrame, nxt: DataFrame, op: str) -> DataFrame:
    both = acc.select("doc_id", "score").unionByName(
        nxt.select("doc_id", "score")
    )
    agg = both.groupBy("doc_id").agg(
        F.sum("score").alias("score"), F.count(F.lit(1)).alias("_n")
    )
    if op == "and":
        agg = agg.filter(F.col("_n") >= 2)
    return agg.drop("_n")


def sqs_scored(
    docs: DataFrame,
    query: str,
    default_operator: str = "or",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score double) for a simple_query_string over the scoped
    corpus. Empty queries match nothing; a fully-negative query matches
    the corpus MINUS the negated docs (the SimpleQueryParser MatchAllDocs
    negation wrapper — see the module docstring)."""
    spark = docs.sparkSession
    empty = local_page(spark, [], []).drop("rank")
    if default_operator not in ("or", "and"):
        raise ValueError("default_operator must be 'or' or 'and'")
    ast = parse_sqs(query or "")
    # amortize the corpus scan: ≥2 match leaves anywhere in the tree score
    # in ONE tokenize pass (bm25_scored_tall's broadcast (subq, term) tag
    # table), then each leaf filters its tag out of the shared tall frame
    # — at 100 TB the corpus scan dominates, so a 3-leaf query must not
    # pay 3 scans. Phrase/prefix/fuzzy leaves keep their own plans.
    match_tall = None
    leaves = _match_leaves(ast)
    if len(leaves) >= 2:
        from ..gate import bm25_scored_tall

        base = docs
        if text_col != "text":
            base = base.withColumnRenamed(text_col, "text")
        if id_col != "doc_id":
            base = base.withColumnRenamed(id_col, "doc_id")
        tall = bm25_scored_tall(
            base, ["doc_id"], [lf.text for lf in leaves], ndp=None
        )
        match_tall = (tall, {id(lf): j for j, lf in enumerate(leaves)})
    out = _eval_group(
        ast, docs, default_operator, id_col, text_col, match_tall
    )
    return out if out is not None else empty


def _not_wrap(branch: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """Lucene's negation wrapper (buildQueryTree's ``state.not % 2``
    branch): BQ[MUST_NOT branch, SHOULD MatchAllDocs] — matches every
    scoped doc NOT matching the branch, each scoring the MatchAllDocs
    constant 1.0. One id-projection anti-join; never reads text."""
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(branch.select("doc_id"), "doc_id", "left_anti")
        .withColumn("score", F.lit(1.0).cast("double"))
    )


def _eval_group(
    g: Group,
    docs: DataFrame,
    default_op: str,
    id_col: str,
    text_col: str,
    match_tall=None,
) -> DataFrame | None:
    """buildQueryTree analog: clauses fold left with the operator written
    before each (first-wins, parser-enforced); a run of one operator is a
    flat BooleanQuery level and the fold's pairwise combines are value-
    identical to it (sum-unions and all-present gates are associative).
    Negated branches join at their position via the MatchAllDocs wrapper."""
    acc: DataFrame | None = None
    for op, node in g.children:
        if isinstance(node, Group):
            cur = _eval_group(
                node, docs, default_op, id_col, text_col, match_tall
            )
            negated = node.negated
        else:
            cur = _eval_leaf(
                node, docs, id_col, text_col, match_tall
            ).select(
                "doc_id", F.col("score").cast("double").alias("score")
            )
            negated = node.negated
        if cur is None:
            continue
        if negated:
            cur = _not_wrap(cur, docs, id_col)
        if acc is None:
            acc = cur
        else:
            eff = default_op if op == "default" else op
            acc = _combine(acc, cur, eff)
    return acc
