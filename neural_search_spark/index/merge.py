"""Segment-style index merge: combine built indexes WITHOUT re-tokenizing.

The Lucene-lifecycle piece the reference gets for free from its host
(OpenSearch segment merges / force-merge compact many small Lucene
segments into one; the plugin's queries then run over the merged
segments). This engine's analog takes N on-disk block indexes produced by
``IndexBuilder`` over DISJOINT document sets — e.g. daily incremental
builds of an append-only transcript corpus — and produces one index that
is query-identical to a from-scratch build over the union corpus.

Why not just concatenate posting files? Two index-wide invariants break:

* ``avgdl`` changes when corpora combine, and every block's
  ``max_tfnorm`` pruning bound (the advanceShallow analog) depends on it
  — stale bounds would under- OR over-prune block-max scoring;
* posting blocks must stay doc_id-ordered per (tid, shard) for the
  block-range candidate windows (two-phase, driver cache) — source
  indexes interleave across the whole doc_id (hash) range.

So the merge DECODES block payloads back to (tid, shard, doc_id, tf, dl)
postings — numpy-vectorized per block row via ``mapInPandas``, no
per-posting Python — then reuses the builder's exact salted
repartition-by-term → JVM block build → bucket-partitioned write path
with the recombined corpus stats. Everything the full build does EXCEPT
tokenize/tf-aggregate (the dominant cost at scale: the corpus text is
never read). Terms dictionaries union by (term, tid) with df/cf summed
(tid is the content-hash h60 of the term, so ids agree across sources by
construction); lineage/stats/metrics are written exactly like a build, so
a merged index is resumable-from and attachable like any other.

Scale shape: one posting-level shuffle keyed (tid, shard, salt) — the
same key and the same hot-term salt bound as the build (the salt plan is
recomputed from the MERGED df, so a term that became hot only in
aggregate still splits). Decode is map-side; no driver materialization.

Contract: source doc sets must be disjoint (docID = hash(conv_id,
turn_idx): re-ingesting the same turns produces the same doc ids, and a
duplicated doc would double-count its postings exactly as Lucene would if
one addDocument'd a doc into two segments and merged them). Deletes are
supported as an expunge pass (``deletes=`` on ``merge_indexes``) — the
permanent form of ``BM25Index.with_deletes`` query-time tombstones.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    INDEX_FORMAT_VERSION,
    N_TERM_BUCKETS,
    _range_salt,
    build_blocks_jvm,
    lineage_frame,
)
from .codec import decode_doc_ids, decode_tfs

_LAYOUT_KEYS = ("format_version", "n_shards", "block_size", "k1", "b")


def decoded_postings(blocks: DataFrame, with_src: bool = False) -> DataFrame:
    """(tid, shard_id, doc_id, tf, dl) exploded back out of block rows.

    numpy-vectorized per block (the codec decoders are loop-free); Python
    touches block-grained batches only — the merge analog of the build's
    "python sees block arrays, not postings" rule.

    with_src=True additionally carries a ``__src`` int column (the source
    index ordinal, tagged by the caller) through the decode — the handle
    source-scoped deletes filter on."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = [decode_doc_ids(b) for b in pdf["docs"]]
            ns = np.array([len(a) for a in ids], dtype=np.int64)
            out = {
                "tid": np.repeat(pdf["tid"].to_numpy(), ns),
                "shard_id": np.repeat(
                    pdf["shard_id"].to_numpy(), ns
                ).astype(np.int32),
                "doc_id": np.concatenate(ids),
                "tf": np.concatenate(
                    [decode_tfs(b) for b in pdf["tfs"]]
                ),
                "dl": np.concatenate(
                    [decode_tfs(b) for b in pdf["dls"]]
                ),
            }
            if with_src:
                out["__src"] = np.repeat(
                    pdf["__src"].to_numpy(), ns
                ).astype(np.int32)
            yield pd.DataFrame(out)

    cols = ["tid", "shard_id", "docs", "tfs", "dls"]
    schema = "tid long, shard_id int, doc_id long, tf long, dl long"
    if with_src:
        cols.append("__src")
        schema += ", __src int"
    return blocks.select(*cols).mapInPandas(explode, schema)


def _read_layout(spark: SparkSession, path: str) -> dict:
    row = spark.read.parquet(os.path.join(path, "stats")).collect()[0].asDict()
    if int(row.get("format_version", 1)) != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"index at {path} is format v{row.get('format_version')}; "
            f"merge reads v{INDEX_FORMAT_VERSION}"
        )
    return row


def merge_indexes(
    spark: SparkSession,
    src_dirs: list[str],
    out_dir: str,
    target_postings_per_task: int = 500_000,
    deletes: DataFrame | None = None,
    deletes_sources: list[str] | None = None,
) -> dict:
    """Merge ≥2 block indexes into ``out_dir`` (see module docstring).

    Positions sidecars MERGE when every source has one: positions rows
    are per-(tid, doc_id) with disjoint doc sets and carry no corpus
    stats, so the merge is a plain union (minus expunged docs) re-laid
    out by term_bucket — no re-tokenize, phrase serving survives the
    merge. Sources mixing with-positions and without raise (the merged
    index would silently answer phrases over half the corpus); when NO
    source has positions the merged index has none, as before.

    ``deletes`` (a DataFrame with a ``doc_id`` column) EXPUNGES those docs
    during the merge — the Lucene forceMerge/expungeDeletes analog that
    makes ``BM25Index.with_deletes`` tombstones permanent: the deleted
    postings are dropped from the decoded stream, and unlike the
    tombstone query path the corpus stats are RE-derived (n_docs/avgdl
    corrected from the deleted docs' own (doc_id, dl) pairs; per-term
    df/cf recomputed from the live postings), so the expunged index is
    query-identical to a from-scratch build over the corpus minus the
    deleted docs.

    ``deletes_sources`` scopes the expunge to the listed source dirs (a
    subset of ``src_dirs``): only postings whose SOURCE index is in the
    list are dropped for the deleted doc ids, other sources' postings for
    the same ids survive. This is Lucene's update-as-delete-plus-add in
    merge form — _update_by_query builds a fresh segment for the updated
    docs (same doc ids, new text) and merges it with the main index while
    expunging ONLY the main's stale copies. Default None keeps the
    global-expunge behavior. Caveat: a deleted doc that had ZERO tokens leaves no
    posting to correct n_docs by — its count lingers in n_docs (exactly
    the information Lucene keeps in liveDocs/maxDoc and this format does
    not store); token-bearing docs expunge exactly.

    Returns the same info dict shape as ``IndexBuilder.build``."""
    import shutil

    # every input check runs before out_dir is deleted
    if len(src_dirs) < 2:
        raise ValueError("merge needs at least two source indexes")
    out_real = os.path.realpath(out_dir)
    if any(os.path.realpath(p) == out_real for p in src_dirs):
        raise ValueError(
            f"out_dir {out_dir!r} is one of the source indexes — merging "
            "into a source would delete it before it is read"
        )
    if deletes_sources is not None and deletes is None:
        raise ValueError(
            "deletes_sources without deletes has no meaning — pass the "
            "doc ids to expunge"
        )
    scoped = deletes is not None and deletes_sources is not None
    del_src_idx: list[int] = []
    if scoped:
        srcset = set(deletes_sources)
        unknown = srcset - set(src_dirs)
        if unknown:
            raise ValueError(
                f"deletes_sources not among src_dirs: {sorted(unknown)}"
            )
        del_src_idx = [i for i, p in enumerate(src_dirs) if p in srcset]
    positions_merged = _sources_have_positions(src_dirs)
    t0 = time.time()
    run_id = uuid.uuid4().hex[:12]
    layouts = [_read_layout(spark, p) for p in src_dirs]
    for key in _LAYOUT_KEYS:
        vals = {l[key] for l in layouts}
        if len(vals) > 1:
            raise ValueError(
                f"source indexes disagree on {key}: {sorted(vals)} — "
                f"mixed layouts cannot merge (shard/block functions differ)"
            )
    n_shards = int(layouts[0]["n_shards"])
    block_size = int(layouts[0]["block_size"])
    k1, b = float(layouts[0]["k1"]), float(layouts[0]["b"])

    # recombined corpus stats: exact doc count; avgdl from the per-source
    # (sum_dl = avgdl·n) identity — float64 round-trip error ~1e-10
    # relative, invisible under the engine's float32 scoring
    n_docs = sum(int(l["n_docs"]) for l in layouts)
    sum_dl = sum(float(l["avgdl"]) * int(l["n_docs"]) for l in layouts)
    avgdl = sum_dl / max(n_docs, 1)

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    pd.DataFrame(
        {
            "format_version": [INDEX_FORMAT_VERSION],
            "n_shards": [n_shards],
            "block_size": [block_size],
            "k1": [k1],
            "b": [b],
        }
    ).to_parquet(os.path.join(out_dir, "build_config.parquet"))

    # terms: union by (term, tid) — tid is content-hashed so sources agree;
    # disjoint doc sets ⇒ df/cf add
    def _union(sub: str, cols: list[str], tag: bool = False) -> DataFrame:
        # per-root reads unioned explicitly: multi-path parquet reads infer
        # hive partitions relative to the COMMON ancestor, which scrambles
        # partition columns when roots live in unrelated directories
        dfs = []
        for i, p in enumerate(src_dirs):
            d = spark.read.parquet(os.path.join(p, sub)).select(*cols)
            if tag:
                d = d.withColumn("__src", F.lit(i))
            dfs.append(d)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    src_blocks = _union(
        "postings", ["tid", "shard_id", "docs", "tfs", "dls"], tag=scoped
    )
    # ONE decoded stream feeds both the term dictionary (deletes path) and
    # the salted block rebuild below — the expunge filter applied here is
    # what keeps deleted postings out of the rebuilt blocks
    dec = decoded_postings(src_blocks, with_src=scoped)
    n_deleted = 0
    if deletes is not None:
        from pyspark import StorageLevel

        from .build import compute_term_stats

        # the decoded stream feeds three passes now (delete stats, term
        # stats, block rebuild) — persist it once; keep the persisted
        # frame in its own name so the left-anti reassignment below
        # doesn't orphan the cached blocks (the unpersist targets this)
        dec_cached = dec.persist(StorageLevel.MEMORY_AND_DISK)
        dec = dec_cached
        dels = deletes.select(F.col("doc_id").cast("long")).distinct()
        # corpus-stat corrections from the deleted docs' own postings:
        # dl repeats identically on each of a doc's postings, so distinct
        # (doc_id, dl) recovers exact per-doc lengths; scoped deletes key
        # by (__src, doc_id, dl) — each masked COPY decrements n_docs once
        sel = dec.join(dels, "doc_id", "left_semi")
        if scoped:
            sel = sel.filter(F.col("__src").isin(del_src_idx))
            key_cols = ["__src", "doc_id", "dl"]
        else:
            key_cols = ["doc_id", "dl"]
        drow = (
            sel.select(*key_cols)
            .distinct()
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .collect()[0]
        )
        n_deleted = int(drow["n"] or 0)
        n_docs -= n_deleted
        sum_dl -= float(drow["s"] or 0)
        avgdl = sum_dl / max(n_docs, 1)
        if scoped:
            dec = (
                dec.join(
                    dels.withColumn("__del", F.lit(True)), "doc_id", "left"
                )
                .filter(
                    ~(
                        F.coalesce(F.col("__del"), F.lit(False))
                        & F.col("__src").isin(del_src_idx)
                    )
                )
                .drop("__del")
            )
        else:
            dec = dec.join(dels, "doc_id", "left_anti")
        if scoped:
            dec = dec.drop("__src")
        # df/cf must be RE-derived from live postings — the sum-of-sources
        # shortcut below is wrong once postings vanish; terms whose df
        # drops to zero fall out of the dictionary via the inner join
        term_stats = (
            _union("terms", ["term", "tid"])
            .distinct()
            .join(compute_term_stats(dec), "tid")
            .select("term", "tid", "df", "cf")
        )
    else:
        term_stats = _union("terms", ["term", "tid", "df", "cf"]).groupBy(
            "term", "tid"
        ).agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    # sorted-by-term like the builder's write: keeps dictionary prefix
    # range reads row-group-pruned on merged indexes too
    term_stats.sort("term").write.mode("overwrite").parquet(
        os.path.join(out_dir, "terms")
    )
    term_stats = spark.read.parquet(os.path.join(out_dir, "terms"))

    # salt plan from MERGED df (a term hot only in aggregate still splits)
    hot = term_stats.filter(
        F.col("df") > F.lit(target_postings_per_task * n_shards)
    ).select(
        "tid",
        F.ceil(F.col("df") / F.lit(target_postings_per_task * n_shards))
        .cast("int")
        .alias("n_salts"),
    )
    n_hot = hot.count()

    salted = (
        dec
        .join(F.broadcast(hot), "tid", "left")
        .withColumn("n_salts", F.coalesce(F.col("n_salts"), F.lit(1)))
        .withColumn("salt", _range_salt(F.col("doc_id"), F.col("n_salts")))
    )
    blocks = build_blocks_jvm(salted, avgdl, k1, b, block_size).withColumn(
        "term_bucket", F.pmod("tid", F.lit(N_TERM_BUCKETS))
    )
    (
        blocks.repartition(N_TERM_BUCKETS, "term_bucket")
        .sortWithinPartitions("tid", "shard_id", "block_seq")
        .write.mode("append")
        .partitionBy("term_bucket")
        .parquet(os.path.join(out_dir, "postings"))
    )
    if deletes is not None:
        dec_cached.unpersist()

    written = spark.read.parquet(os.path.join(out_dir, "postings"))
    lineage_frame(written, term_stats, run_id).write.mode("append").parquet(
        os.path.join(out_dir, "lineage")
    )

    spark.createDataFrame(
        pd.DataFrame(
            {
                "run_id": [run_id],
                "format_version": [INDEX_FORMAT_VERSION],
                "n_docs": [n_docs],
                "avgdl": [avgdl],
                "n_shards": [n_shards],
                "block_size": [block_size],
                "k1": [k1],
                "b": [b],
            }
        )
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "stats"))

    if positions_merged:
        _merge_positions(
            spark, src_dirs, out_dir, deletes,
            del_src_idx if scoped else None,
        )

    elapsed = time.time() - t0
    mdf = pd.DataFrame(
        [
            (run_id, "merge", "n_sources", len(src_dirs)),
            (run_id, "merge", "doc_count", n_docs),
            (run_id, "merge", "hot_terms_split", n_hot),
            (run_id, "merge", "docs_expunged", n_deleted),
            (run_id, "merge", "positions_merged", int(positions_merged)),
            (run_id, "merge", "elapsed_ms", int(elapsed * 1000)),
        ],
        columns=["run_id", "stage", "name", "value"],
    )
    mdf["ts"] = pd.Timestamp.utcnow().tz_localize(None)
    spark.createDataFrame(mdf).write.mode("append").parquet(
        os.path.join(out_dir, "stats_events")
    )
    return {
        "run_id": run_id,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "elapsed_sec": elapsed,
        "hot_terms_split": n_hot,
        "n_sources": len(src_dirs),
        "docs_expunged": n_deleted,
        "positions_merged": positions_merged,
    }


def _sources_have_positions(src_dirs: list[str]) -> bool:
    """Whether every source carries a positions sidecar of the format
    merge reads: False when none does; raises on a mix or an old
    format."""
    import json

    from .positions import POSITIONS_FORMAT_VERSION, has_positions

    have = [has_positions(p) for p in src_dirs]
    if not any(have):
        return False
    if not all(have):
        raise ValueError(
            "some source indexes have positions sidecars and some do not — "
            "a merged index would silently answer phrase queries over part "
            "of the corpus; build positions on every source (or none) first"
        )
    for p in src_dirs:
        with open(os.path.join(p, "positions_config.json")) as f:
            ver = int(json.load(f)["positions_format_version"])
        if ver != POSITIONS_FORMAT_VERSION:
            raise ValueError(
                f"positions sidecar at {p} is format v{ver}; merge reads "
                f"v{POSITIONS_FORMAT_VERSION}"
            )
    return True


def _merge_positions(
    spark: SparkSession,
    src_dirs: list[str],
    out_dir: str,
    deletes: DataFrame | None,
    del_src_idx: list[int] | None = None,
) -> None:
    """Union the sources' positions sidecars into ``out_dir/positions``.

    Positions rows are self-contained per (tid, doc_id) — no avgdl/df
    coupling, unlike posting blocks — so with disjoint doc sets the merge
    is one unionByName → (optional delete anti-join) → term_bucket
    repartition + (tid, doc_id) sort, the exact layout ``build_positions``
    writes."""
    import json
    import shutil

    from .positions import POSITIONS_FORMAT_VERSION, positions_path

    cols = ["tid", "doc_id", "dl", "positions"]
    scoped = deletes is not None and del_src_idx is not None
    dfs = []
    for i, p in enumerate(src_dirs):
        d = spark.read.parquet(positions_path(p)).select(*cols)
        if scoped:
            d = d.withColumn("__src", F.lit(i))
        dfs.append(d)
    pos = dfs[0]
    for d in dfs[1:]:
        pos = pos.unionByName(d)
    if deletes is not None:
        dels = deletes.select(F.col("doc_id").cast("long")).distinct()
        if scoped:
            # drop ONLY the masked sources' rows for the deleted ids —
            # the update path's fresh-segment positions survive
            pos = (
                pos.join(
                    dels.withColumn("__del", F.lit(True)), "doc_id", "left"
                )
                .filter(
                    ~(
                        F.coalesce(F.col("__del"), F.lit(False))
                        & F.col("__src").isin(del_src_idx)
                    )
                )
                .drop("__del", "__src")
            )
        else:
            pos = pos.join(dels, "doc_id", "left_anti")
    out = positions_path(out_dir)
    if os.path.exists(out):
        shutil.rmtree(out)
    (
        pos.withColumn(
            "term_bucket", F.pmod("tid", F.lit(N_TERM_BUCKETS))
        )
        .repartition(N_TERM_BUCKETS, "term_bucket")
        .sortWithinPartitions("tid", "doc_id")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(out)
    )
    with open(os.path.join(out_dir, "positions_config.json"), "w") as f:
        json.dump(
            {
                "positions_format_version": POSITIONS_FORMAT_VERSION,
                "index_format_version": INDEX_FORMAT_VERSION,
                "n_term_buckets": N_TERM_BUCKETS,
            },
            f,
        )
