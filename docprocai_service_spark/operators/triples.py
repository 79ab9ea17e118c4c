"""Stage 2 — sentence split + OpenIE-style triple + mention extraction (C3/C5).

The reference does this shape as a per-document Python loop producing many
segment rows from one document (UDTF analog,
reference: fileextractlib/PdfProcessor.py:43-61 and the sessionized scan at
fileextractlib/VideoProcessor.py:92-174). Here one batch-vectorized kernel,
`parse_triples`, does the sentence split and the triple match for a whole
Arrow batch in pyarrow.compute/RE2. Every entry path calls it:
`fused_triples_stage` (web_pages, extract fused into the same pass) and
`triples_stage` (a materialized extracted stage — store/resume mode and
incremental ingest). One parser means one semantic to keep equal to the
oracle (reference_impl), pinned by tests/test_triples.py and the
adversarial rows of tests/test_fuzz_parity.py.

The RE2 patterns are provably-equivalent twins of the oracle's Python
patterns (functions/text.py documents each proof, including Python's
Unicode \\s, which a JVM regex would read as ASCII-only).

Scale notes: narrow stage (no shuffle); the fan-out is ~#sentences per page,
which is bounded; deterministic mention ids are sha256 of
(url, warc_ts, sent_no, role, surface) — never UUIDs (SURVEY.md §2.8), so
re-runs are idempotent and resumable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import TRIPLE_REGEX_RE2, arrow_sentences, extract_text_arrow

TRIPLES_SCHEMA = (
    "subj string, pred string, obj string, url string, warc_ts timestamp, sent_no int"
)


def parse_triples(text: pa.Array, rows: pd.DataFrame) -> pd.DataFrame:
    """One batch of documents → its triples(subj, pred, obj, url, warc_ts, sent_no).

    `text[i]` is the extracted text of `rows.iloc[i]` (which carries url and
    warc_ts). Sentences come from arrow_sentences (null/empty docs give
    none), each is matched once against the anchored TRIPLE_REGEX_RE2 — the
    oracle's TRIPLE_REGEX grammar — and the matches gather their page keys
    and sentence numbers. An empty batch yields an empty frame.
    """
    sents, doc_idx, sent_no = arrow_sentences(text)
    m = pc.extract_regex(sents, pattern=TRIPLE_REGEX_RE2)
    keep = pc.is_valid(m).to_numpy(zero_copy_only=False)
    mk = pc.filter(m, pa.array(keep))
    idx = doc_idx[keep]
    return pd.DataFrame(
        {
            "subj": pc.struct_field(mk, "s").to_pandas().to_numpy(),
            "pred": pc.struct_field(mk, "p").to_pandas().to_numpy(),
            "obj": pc.struct_field(mk, "o").to_pandas().to_numpy(),
            "url": rows["url"].to_numpy()[idx],
            "warc_ts": rows["warc_ts"].to_numpy()[idx],
            "sent_no": sent_no[keep].astype("int32"),
        }
    )


def triples_stage(extracted: DataFrame) -> DataFrame:
    """extracted_text → triples(subj, pred, obj, url, warc_ts, sent_no).

    Only lang='en' rows enter (dispatch analog of
    reference: fileextractlib/DocumentProcessor.py:25-30). NULL-text pages
    need no filter: parse_triples gives them zero sentences. An
    isNotNull(text) predicate here would be pushed by Catalyst below the
    extract projection, evaluating the Arrow extract UDF a second time per
    page (tests/test_plans.py pins one ArrowEvalPython).
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield parse_triples(pa.Array.from_pandas(pdf["text"], type=pa.string()), pdf)

    return (
        extracted.filter(F.col("lang") == "en")
        .select("url", "warc_ts", "text")
        .mapInPandas(parse, schema=TRIPLES_SCHEMA)
    )


def fused_triples_stage(pages: DataFrame) -> DataFrame:
    """web_pages → triples in ONE mapInPandas pass: extract_text_arrow then
    parse_triples inside the same Arrow batch, output-identical to
    triples_stage(extract_stage(pages)).

    This is the no-store path: html crosses into Python once and the
    extracted text never crosses back. Python workers are separate processes
    with private heaps, so the pass scales near-linearly with cores.
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield parse_triples(extract_text_arrow(pdf["html"]), pdf)

    # lang pushdown happens JVM-side so non-English html never crosses Arrow
    return (
        pages.filter(F.col("lang") == "en")
        .select("url", "warc_ts", "html")
        .mapInPandas(parse, schema=TRIPLES_SCHEMA)
    )


def mentions_stage(triples: DataFrame) -> DataFrame:
    """triples → mentions, two per triple (subj + obj roles).

    mention_id = sha256(url|unix_micros(warc_ts)|sent_no|role|surface),
    identical to reference_impl.mention_id.
    """
    role_surface = F.explode(
        F.array(
            F.struct(F.lit("subj").alias("role"), F.col("subj").alias("surface")),
            F.struct(F.lit("obj").alias("role"), F.col("obj").alias("surface")),
        )
    ).alias("rs")
    m = triples.select("url", "warc_ts", "sent_no", role_surface)
    return m.select(
        F.sha2(
            F.concat_ws(
                "|",
                F.col("url"),
                F.unix_micros(F.col("warc_ts")).cast("string"),
                F.col("sent_no").cast("string"),
                F.col("rs.role"),
                F.col("rs.surface"),
            ),
            256,
        ).alias("mention_id"),
        "url",
        "warc_ts",
        "sent_no",
        F.col("rs.surface").alias("surface"),
        F.col("rs.role").alias("role"),
    )
