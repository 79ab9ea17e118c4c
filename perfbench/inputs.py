"""Seeded inputs, written into the run's own directory.

Every input is a pure function of ``--seed`` plus the fixed generator
arguments below, and every run generates its inputs afresh: no run reuses
another run's files, so a run never reads an input built from another seed or
an older generator, and every run does the same set-up work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .harness import NPROC


# --------------------------------------------------------------- web pages

#: corpus.distributed_pages arguments (its defaults, spelled out).
PAGE_ARGS = {"n_entities": 400, "n_hosts": 1000, "min_sents": 20, "max_sents": 60}


def web_pages(spark, seed: int, n_pages: int, path: str) -> str:
    """Write the parquet web-page table from corpus.distributed_pages to
    `path`, plus a `page_no` column (the page's index) so workloads can
    slice it."""
    from pyspark.sql import functions as F

    from docprocai_service_spark.corpus import distributed_pages

    pages = distributed_pages(spark, n_pages, seed=seed, partitions=2 * NPROC, **PAGE_ARGS)
    page_no = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    pages.withColumn("page_no", page_no).write.parquet(path)
    return path


# ------------------------------------------------------ analytics tables

# Shapes follow the repository's TPC-H-ish test tables (FIXTURES/TESTDATA):
# the same columns and types for every column a kg_analytics leaf or its
# DuckDB oracle reads, and the sf0.01 row counts for the TPC-H tables.
_VOCAB = (
    "query row stream the spark line small fast group customer part column order "
    "scan a slow agg key window table merge vector join batch sort value hash "
    "filter big data dup"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.01:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i and r < 0.05:  # near duplicate: one word changed
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_VOCAB, size=int(rng.integers(8, 60))))
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, size=n)
    v = centers[label] + 0.5 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


#: the tables the kg_analytics leaves and their oracles read
ANALYTICS_TABLES = ["nation", "customer", "supplier", "orders", "lineitem",
                    "documents", "embeddings"]


def analytics_tables(seed: int, path: str, n_docs: int = 150) -> str:
    """Write `<table>.parquet` for each of ANALYTICS_TABLES into `path`."""
    os.makedirs(path)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_orders = 1500, 100, 15000
    i32, i64 = np.int32, np.int64
    lines = rng.integers(1, 8, size=n_orders)
    tables = {
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype=i32),
                                "n_name": [f"NATION_{k}" for k in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype(i32)}),
        "customer": pd.DataFrame({"c_custkey": np.arange(n_cust, dtype=i64),
                                  "c_nationkey": rng.integers(0, 25, size=n_cust).astype(i32)}),
        "supplier": pd.DataFrame({"s_suppkey": np.arange(n_supp, dtype=i64),
                                  "s_nationkey": rng.integers(0, 25, size=n_supp).astype(i32)}),
        "orders": pd.DataFrame({"o_orderkey": np.arange(n_orders, dtype=i64),
                                "o_custkey": rng.integers(0, n_cust, size=n_orders).astype(i64)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": np.repeat(np.arange(n_orders, dtype=i64), lines),
            "l_suppkey": rng.integers(0, n_supp, size=int(lines.sum())).astype(i64),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(i32),
        }),
        "documents": _documents(rng, n_docs),
    }
    for name, pdf in tables.items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(path, f"{name}.parquet"))
    pq.write_table(_embeddings(rng, n_docs), os.path.join(path, "embeddings.parquet"))
    return path
