"""Triple/mention stage vs the pure-Python oracle and planted ground truth."""

from __future__ import annotations

import pytest

from docprocai_service_spark.operators.extract import extract_stage
from docprocai_service_spark.operators.triples import (
    fused_triples_stage,
    mentions_stage,
    triples_stage,
)
from docprocai_service_spark.reference_impl import run_reference


@pytest.fixture(scope="module")
def oracle(corpus):
    return run_reference(corpus.pages.to_dict("records"))


@pytest.fixture(scope="module")
def spark_stages(spark, spark_corpus):
    pages, _ = spark_corpus
    ext = extract_stage(pages)
    tri = triples_stage(ext).localCheckpoint()
    men = mentions_stage(tri).localCheckpoint()
    return tri, men


# Both entry paths into the one parse kernel: a materialized extracted stage
# (store/resume mode, incremental ingest) and web_pages (no-store mode).
ENTRIES = {
    "staged": lambda pages: triples_stage(extract_stage(pages)),
    "fused": fused_triples_stage,
}


def _tkey(t):
    return (t["subj"], t["pred"], t["obj"], t["url"], str(t["warc_ts"]), t["sent_no"])


@pytest.mark.parametrize("entry", ENTRIES)
def test_triples_exact_match_vs_oracle(spark_corpus, oracle, entry):
    pages, _ = spark_corpus
    _, triples_o, _ = oracle
    # sorted lists, not sets: a duplicated triple is a failure too
    got = sorted(_tkey(r.asDict()) for r in ENTRIES[entry](pages).collect())
    assert got == sorted(_tkey(t) for t in triples_o)


def test_triples_pr_vs_planted_truth(spark_stages, corpus):
    """P/R >= 0.95 vs ground truth known by construction (BASELINE.json bar)."""
    tri, _ = spark_stages
    got = {(r["subj"], r["pred"], r["obj"], r["url"], r["sent_no"]) for r in tri.collect()}
    want = {
        (r.subj, r.pred, r.obj, r.url, r.sent_no) for r in corpus.truth_triples.itertuples()
    }
    inter = len(got & want)
    precision = inter / len(got)
    recall = inter / len(want)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_mention_ids_match_oracle(spark_stages, oracle):
    _, men = spark_stages
    _, _, mentions_o = oracle
    got = {r["mention_id"] for r in men.collect()}
    want = {m["mention_id"] for m in mentions_o}
    assert got == want


def test_non_english_pages_skip_triple_stage(spark, spark_corpus):
    pages, _ = spark_corpus
    ext = extract_stage(pages)
    tri = triples_stage(ext)
    urls = {r["url"] for r in tri.select("url").distinct().collect()}
    non_en = {r["url"] for r in pages.filter("lang != 'en'").collect()}
    assert not urls & non_en


@pytest.mark.parametrize("entry", ENTRIES)
def test_row_order_invariance(spark, spark_corpus, entry):
    """Shuffled input order → identical canonical outputs (SURVEY §5.2 #6)."""
    pages, _ = spark_corpus
    import pyspark.sql.functions as F

    shuffled = pages.orderBy(F.sha2(F.col("url"), 256)).repartition(11)
    a = {_tkey(r.asDict()) for r in ENTRIES[entry](pages).collect()}
    b = {_tkey(r.asDict()) for r in ENTRIES[entry](shuffled).collect()}
    assert a == b
