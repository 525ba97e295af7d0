"""CLI subcommands in-process: main(argv) reuses the active test session
(_get_session → getActiveSession), so each command is a direct drive of
the argparse wiring + Engine surface with stdout captured."""

import json

import pytest

from neural_search_spark.cli import main
from neural_search_spark.index.build import IndexBuilder, doc_id_col


@pytest.fixture(scope="module")
def cli_env(spark, transcripts_df, transcripts_path, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    idx = str(root / "idx")
    IndexBuilder(spark, idx, n_shards=4, block_size=64).build(transcripts_df)
    import pandas as pd

    prefs = str(root / "prefs.parquet")
    pd.DataFrame({"pref_id": [7], "allow": [["tool", "zz9qx"]]}).to_parquet(
        prefs, index=False
    )
    ids = [
        r["doc_id"]
        for r in transcripts_df.withColumn("doc_id", doc_id_col())
        .limit(2)
        .collect()
    ]
    return {
        "corpus": transcripts_path, "idx": idx, "prefs": prefs, "ids": ids
    }


def run_cli(capsys, *argv):
    main(list(argv))
    return capsys.readouterr().out.strip().splitlines()


def test_cli_analyze(cli_env, capsys):
    out = run_cli(capsys, "analyze", "--text", "The QUICK-fox 2nd")
    assert json.loads(out[-1]) == ["the", "quick", "fox", "2nd"]


def test_cli_count_and_mget(cli_env, capsys):
    out = run_cli(
        capsys, "count",
        "--spec-json", '{"match": {"query_text": "tool"}}',
        "--corpus", cli_env["corpus"],
    )
    rep = json.loads(out[-1])
    assert rep["relation"] == "eq" and rep["count"] > 0
    ids = ",".join(str(i) for i in cli_env["ids"]) + ",123"
    out = run_cli(capsys, "mget", "--corpus", cli_env["corpus"], "--ids", ids)
    rows = [json.loads(ln) for ln in out if ln.startswith("{")]
    assert sorted(r["doc_id"] for r in rows) == sorted(cli_env["ids"])


def test_cli_lookup_search_and_delete(cli_env, capsys):
    out = run_cli(
        capsys, "search",
        "--spec-json",
        '{"terms": {"lookup": {"index": "prefs", "id": 7, '
        '"path": "allow", "id_field": "pref_id"}}}',
        "--corpus", cli_env["corpus"],
        "--lookup-table", f"prefs={cli_env['prefs']}",
        "--k", "3",
    )
    rows = [json.loads(ln) for ln in out if ln.startswith("{")]
    assert len(rows) == 3 and all(r["score"] == 1.0 for r in rows)
    out = run_cli(
        capsys, "delete-by-query",
        "--spec-json", '{"match": {"query_text": "tool"}}',
        "--corpus", cli_env["corpus"],
        "--index", cli_env["idx"],
        "--dry-run",
    )
    rep = json.loads(out[-1])
    assert rep["total"] == rep["deleted"] > 0


def test_cli_termvectors(cli_env, capsys):
    ids = ",".join(str(i) for i in cli_env["ids"])
    out = run_cli(
        capsys, "termvectors",
        "--corpus", cli_env["corpus"], "--ids", ids,
        "--index", cli_env["idx"],
        "--term-statistics", "--field-statistics",
    )
    resp = json.loads(out[-1])
    assert set(resp) == {str(i) for i in cli_env["ids"]}
    doc = resp[str(cli_env["ids"][0])]
    assert doc["found"] and doc["terms"]
    first = next(iter(doc["terms"].values()))
    assert first["doc_freq"] >= 1 and first["ttf"] >= first["term_freq"]
    assert doc["field_statistics"]["doc_count"] > 0


def test_cli_update_by_query(cli_env, capsys, tmp_path):
    out_dir = str(tmp_path / "ubq_merged")
    out = run_cli(
        capsys, "update-by-query",
        "--spec-json", '{"match": {"query_text": "tool"}}',
        "--corpus", cli_env["corpus"],
        "--index", cli_env["idx"],
        "--out", out_dir,
        "--set", "text=concat(text, ' zzcliupd')",
    )
    rep = json.loads(out[-1])
    assert rep["updated"] == rep["total"] > 0
    assert rep["reindex"]["docs_expunged"] >= 1
    # the merged index on disk serves the new term
    from neural_search_spark.query.bm25 import BM25Index, bm25_topk
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    hits = bm25_topk(BM25Index(spark, out_dir), "zzcliupd", k=5).collect()
    assert len(hits) > 0


def test_cli_update_by_query_without_out_refused(cli_env, capsys):
    """update-by-query --index without --out or --dry-run exits with the
    engine's stale-index message before it touches the corpus or the
    index: both still answer as before."""
    from pyspark.sql import SparkSession

    from neural_search_spark.engine import STALE_INDEX_UPDATE
    from neural_search_spark.query.bm25 import BM25Index, bm25_topk

    spark = SparkSession.getActiveSession()
    before = bm25_topk(BM25Index(spark, cli_env["idx"]), "tool", k=5).collect()
    rows_before = spark.read.parquet(cli_env["corpus"]).collect()
    with pytest.raises(SystemExit) as exc:
        main([
            "update-by-query",
            "--spec-json", '{"match": {"query_text": "tool"}}',
            "--corpus", cli_env["corpus"],
            "--index", cli_env["idx"],
            "--set", "text=concat(text, ' zzstale')",
        ])
    assert str(exc.value) == STALE_INDEX_UPDATE
    after = bm25_topk(BM25Index(spark, cli_env["idx"]), "tool", k=5).collect()
    assert after == before
    assert spark.read.parquet(cli_env["corpus"]).collect() == rows_before
    dry = run_cli(
        capsys, "update-by-query",
        "--spec-json", '{"match": {"query_text": "tool"}}',
        "--corpus", cli_env["corpus"], "--index", cli_env["idx"],
        "--dry-run",
    )
    assert json.loads(dry[-1])["total"] > 0


@pytest.mark.parametrize(
    "extra",
    [["--batch"], ["--aggs-json", '{"tools": {"terms": {"field": "tool"}}}']],
)
def test_cli_highlight_refuses_batch_and_aggs(cli_env, extra):
    """--highlight-json is never dropped silently: with --batch or
    --aggs-json the search refuses to run."""
    spec = '{"match": {"query_text": "tool"}}'
    if extra == ["--batch"]:
        spec = '{"q1": ' + spec + "}"
    with pytest.raises(SystemExit, match="--highlight-json not supported"):
        main([
            "search", "--spec-json", spec,
            "--corpus", cli_env["corpus"], "--index", cli_env["idx"],
            "--highlight-json", '{"fields": {"text": {}}}', *extra,
        ])
