"""JSONL ingestion path: contract schema, corrupt-record quarantine,
normalization, microblock layout out."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest


@pytest.fixture(scope="module")
def jsonl_drop(tmp_path_factory):
    d = tmp_path_factory.mktemp("drop")
    p = d / "part0.jsonl"
    rows = [
        {"doc_id": 1, "text": "the quick brown fox", "lang": "en",
         "source": "crawl", "n_chars": 19},
        # n_chars omitted → backfilled; lang omitted → 'und'
        {"doc_id": 2, "text": "alpha beta gamma", "source": "crawl"},
        # text missing → dropped by normalization
        {"doc_id": 3, "lang": "en", "source": "crawl"},
    ]
    with open(p, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
        fh.write('{"doc_id": broken json line\n')  # → quarantine
    return str(p)


def test_ingest_counts_and_contract(spark, jsonl_drop, tmp_path_factory):
    from columnar_database_project_spark.sources.ingest import (
        ingest_documents_jsonl,
    )

    dst = str(tmp_path_factory.mktemp("ingested") / "documents")
    report = ingest_documents_jsonl(spark, jsonl_drop, dst)
    assert report == {"rows": 2, "quarantined": 1}
    out = spark.read.parquet(dst)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "text", "lang", "source", "n_chars",
    ]
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[2]["n_chars"] == len("alpha beta gamma")
    assert rows[2]["lang"] == "und"
    assert 3 not in rows  # text-less row dropped, not nulled through


def test_ingested_blocks_are_one_row_group_per_file(
    spark, jsonl_drop, tmp_path_factory
):
    from columnar_database_project_spark.sources.ingest import (
        ingest_documents_jsonl,
    )

    dst = str(tmp_path_factory.mktemp("blocks") / "documents")
    ingest_documents_jsonl(spark, jsonl_drop, dst, block_rows=1)
    files = [
        os.path.join(dst, f) for f in os.listdir(dst) if f.endswith(".parquet")
    ]
    assert files
    for f in files:
        assert pq.ParquetFile(f).num_row_groups == 1


def test_ingested_docs_feed_the_operator_surface(
    spark, jsonl_drop, tmp_path_factory
):
    """The ingested table must be consumable by the text operators —
    same contract as the curated documents table."""
    from columnar_database_project_spark.operators.text import funnel_flag_cols
    from columnar_database_project_spark.sources.ingest import (
        ingest_documents_jsonl,
    )

    dst = str(tmp_path_factory.mktemp("feed") / "documents")
    ingest_documents_jsonl(spark, jsonl_drop, dst)
    docs = spark.read.parquet(dst)
    len_ok, _rep, keep = funnel_flag_cols()
    flagged = docs.select("doc_id", len_ok.alias("len_ok"), keep.alias("keep"))
    got = {r["doc_id"]: r["len_ok"] for r in flagged.collect()}
    assert got == {1: False, 2: False}  # short docs fail the length gate


def test_engine_facade_ingest_and_compact(spark, jsonl_drop, tmp_path_factory):
    """The façade wires ingestion into the catalog: the ingested
    table is queryable by name. Compaction is a manifest verb
    (``compact_manifest``); a plain ingest directory has none."""
    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    dst = str(tmp_path_factory.mktemp("facade") / "docs")
    report = eng.ingest_jsonl(jsonl_drop, "raw_docs", dst)
    assert report["rows"] == 2
    got = eng.query(
        "SELECT count(*) AS c FROM raw_docs WHERE n_chars > 0"
    ).collect()[0]["c"]
    assert got == 2


def test_csv_ingestion_shares_the_contract(spark, tmp_path_factory):
    from columnar_database_project_spark.sources.ingest import (
        ingest_documents_csv,
    )

    d = tmp_path_factory.mktemp("csvdrop")
    p = d / "drop.csv"
    p.write_text(
        "doc_id,text,lang,source,n_chars\n"
        '1,"alpha beta gamma",en,feed,16\n'
        '2,"delta words here",,feed,\n'          # lang/n_chars backfilled
        'not_a_number,"bad id row",en,feed,1\n'  # unparseable doc_id → corrupt
    )
    dst = str(tmp_path_factory.mktemp("csvout") / "documents")
    report = ingest_documents_csv(spark, str(p), dst)
    assert report["rows"] == 2
    assert report["quarantined"] == 1
    rows = {r["doc_id"]: r for r in spark.read.parquet(dst).collect()}
    assert rows[2]["lang"] == "und"
    assert rows[2]["n_chars"] == len("delta words here")


def test_ingest_orc_roundtrip(spark, sf_dir, tmp_path_factory):
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.sources.ingest import (
        ingest_documents_orc,
    )

    tmp = tmp_path_factory.mktemp("orc")
    drop = str(tmp / "drop.orc")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.orc(drop)
    # plant two contract violations (null id / null text)
    bad = spark.createDataFrame(
        [(None, "x", "en", "s", 1), (77777, None, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    bad.write.mode("append").orc(drop)
    dst = str(tmp / "documents")
    report = ingest_documents_orc(spark, drop, dst)
    assert report["quarantined"] == 2
    assert report["rows"] == docs.count()
    back = spark.read.parquet(dst)
    assert back.count() == docs.count()
    assert set(back.columns) == {"doc_id", "text", "lang", "source", "n_chars"}
    # content identity on a fingerprint rollup
    import pyspark.sql.functions as F
    fp = lambda d: d.select(F.md5(F.concat_ws("|", "doc_id", "text"))
                            .alias("h")).agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10))).first()[0]
    assert fp(back) == fp(docs)
