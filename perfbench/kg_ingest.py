"""kg_ingest: the KG engine's two entry paths over the same seeded pages.

A store-mode run_pipeline builds the KG of a seeded base slice; then a closed
loop sends small incremental_ingest micro-batches of fresh pages, each after
the previous one returns; then run_pipeline(resume=True) runs over the
committed store; then a no-store run_pipeline builds the KG of the same pages
in one batch, its `edges` and `linked` written to the noop sink.

The store path does the checkpoint-resumable production work: StageStore
writes, manifests and anti-joins, the JVM-carve triples_stage, edge-delta
merges and canonical-state sync. Small batches, like the reference's
one-document events, make the per-batch fixed cost the thing measured. The
batch build is the throughput path: the fused Arrow/RE2 parse plus the
broadcast link/resolve and the edge aggregation. Its edges must equal the
store's, so each run also checks that both entry paths give the same KG.
"""

from __future__ import annotations

import collections
import functools
import os
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from docprocai_service_spark import reference_impl, schemas
from docprocai_service_spark.corpus import alias_dict_pdf
from docprocai_service_spark.operators.canonicalize import canonicalize_entities
from docprocai_service_spark.operators.extract import extract_stage
from docprocai_service_spark.operators.linking import link_mentions
from docprocai_service_spark.operators.materialize import edges_table, resolve_entities
from docprocai_service_spark.operators.triples import fused_triples_stage, mentions_stage
from docprocai_service_spark.plans.pipeline import run_pipeline
from docprocai_service_spark.sources.manifest import StageStore
from docprocai_service_spark.streaming import incremental

from . import inputs
from .harness import median
from .workload import Workload

BASE_PAGES = 300
BATCH_PAGES = 10
MAX_BATCHES = 5
SAMPLE_PAGES = 20
STAGES = ["extracted", "triples", "mentions", "linked", "canon_map", "edges", "entities"]
BUILD_STAGES = ["parse", "mentions", "linking", "canonicalize", "materialize"]
EDGE_COLS = ["src_entity", "dst_entity", "pred", "weight"]
TRIPLE_COLS = ("subj", "pred", "obj", "url", "warc_ts", "sent_no")
_STORE_METHODS = ("write", "append_new", "upsert", "todo_keys", "read_pruned")
_MERGE_FUNCS = ("merge_edge_deltas", "rebuild_edges")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class KgIngest(Workload):
    name = "kg_ingest"
    moves = {"store": "items_per_s", "ingest": "op_p50_s, items_per_s",
             "resume": "items_per_s", **dict.fromkeys(BUILD_STAGES, "items_per_s")}

    def setup(self) -> None:
        t0 = time.perf_counter()
        n_pages = BASE_PAGES + MAX_BATCHES * BATCH_PAGES
        path = inputs.web_pages(self.spark, self.seed, n_pages,
                                os.path.join(self.run_dir, "pages"))
        self.table = self.spark.read.parquet(path)
        self.alias = self.spark.createDataFrame(
            alias_dict_pdf(inputs.PAGE_ARGS["n_entities"]), schema=schemas.ALIAS_DICT
        ).localCheckpoint()
        self.details.append(("inputs_s", time.perf_counter() - t0, "s",
                             f"{n_pages}-page table"))
        self.store_dir = os.path.join(self.run_dir, "store")
        self.batch_walls: list[float] = []
        self.batch_outs: list[dict] = []
        self.n_batches = 0

    def pages(self, lo: int, hi: int):
        """Pages lo..hi-1 of the seeded table, as the web-page schema."""
        return self.table.where((F.col("page_no") >= lo) & (F.col("page_no") < hi)).select(
            *schemas.WEB_PAGES.fieldNames()
        )

    def _batch(self, store: StageStore, i: int) -> None:
        lo = BASE_PAGES + i * BATCH_PAGES
        t0 = time.perf_counter()
        with self.tracer.span("ingest.batch"):
            out = self.attempt(f"micro-batch {i}", lambda: incremental.incremental_ingest(
                self.spark, self.pages(lo, lo + BATCH_PAGES), store, alias_dict=self.alias
            ))
        wall = time.perf_counter() - t0
        self.n_batches = i + 1
        if out is None:
            return
        self.batch_outs.append(out)
        if out.get("new_pages") != BATCH_PAGES:
            self.fail(f"micro-batch {i}: new_pages={out.get('new_pages')}, sent {BATCH_PAGES}")
            return
        self.batch_walls.append(wall)

    def body(self, staged: bool = False) -> None:
        """Store build, micro-batches, resume, then the batch build over the
        same pages: fused as a plain caller runs it or, with `staged`, one
        stage at a time (the traced run's breakdown)."""
        t = self.tracer
        with t.span("store_build") as s:
            r = self.attempt("store build", lambda: run_pipeline(
                self.spark, self.pages(0, BASE_PAGES), self.alias, out_dir=self.store_dir
            ))
        self.store_build_s = s.wall
        store = StageStore(self.spark, self.store_dir)
        if r is not None:
            self.closed_loop(lambda i: self._batch(store, i), MAX_BATCHES)
        self.n_pages = BASE_PAGES + self.n_batches * BATCH_PAGES
        with t.span("resume") as s:
            rr = self.attempt("resume", lambda: run_pipeline(
                self.spark, self.pages(0, self.n_pages), self.alias, out_dir=self.store_dir,
                resume=True,
            ))
        self.resume_s = s.wall
        if rr is not None:
            missing = [st for st in STAGES if not rr.metrics.get(f"{st}_resumed")]
            if missing:
                self.fail(f"resume recomputed {missing}")
        with t.span("batch_build") as s:
            self.attempt("batch build", self._staged_build if staged else self._build)
        self.batch_build_s = s.wall
        self.body_s = self.store_build_s + sum(self.batch_walls) + self.resume_s + s.wall
        # pages committed to the store plus pages built in one batch
        self.pages_done = BASE_PAGES + len(self.batch_walls) * BATCH_PAGES + self.n_pages

    def _build(self) -> None:
        r = run_pipeline(self.spark, self.pages(0, self.n_pages), self.alias, out_dir=None,
                         collect_lineage=False)
        _noop(r.edges)
        _noop(r.linked)
        self.built = (r.triples, r.edges, r.n_triples())

    def _staged_build(self) -> None:
        """The batch build's five stages, each materialized before the next so
        its self time is the wall of its own jobs. This loses the fusion of
        the plain build, which the reported trace overhead shows."""
        t = self.tracer
        with t.span("parse") as s:
            triples = fused_triples_stage(self.pages(0, self.n_pages)).persist()
            n_triples = s.attrs["rows"] = triples.count()
        with t.span("mentions") as s:
            mentions = mentions_stage(triples).persist()
            s.attrs["rows"] = mentions.count()
        with t.span("linking"):
            _noop(link_mentions(mentions, self.alias))
        with t.span("canonicalize") as s:
            names = self.alias.groupBy("entity_id").agg(
                F.max_by("alias", F.length("alias")).alias("name")
            )
            canon = canonicalize_entities(names, threshold=0.7).persist()
            s.attrs["rows"] = canon.count()
        with t.span("materialize") as s:
            edges = edges_table(resolve_entities(triples, self.alias, canon)).persist()
            s.attrs["rows"] = edges.count()
        self.built = (triples, edges, n_triples)

    def traced_body(self):
        with _instrumented(self.tracer), self.tracer.span("kg_ingest") as root:
            self.body(staged=True)
        staged_triples = self.built[2] if hasattr(self, "built") else None
        # the plain build over the same pages, untraced, for the trace
        # overhead; its output is what check() reads
        self.tracer.tag_jobs = False
        t0 = time.perf_counter()
        self._build()
        fused = time.perf_counter() - t0
        self.attempted += 1
        if self.built[2] != staged_triples:
            self.fail(f"staged build: {staged_triples} triples, plain build {self.built[2]}")
        self.details.append(("batch_build_untraced_s", fused, "s", "plain build, same pages"))
        return root, self.batch_build_s - fused

    def check(self) -> None:
        """The store's edges equal the batch build's edges over the same
        pages (the JVM-carve store path against the Arrow path); on a seeded
        page sample, extracted text is byte-identical to reference_impl and
        the batch build's triples equal its triples."""
        if not hasattr(self, "built"):
            return  # the batch build failed and is already counted
        triples, edges, _ = self.built
        self.attempted += 1
        want = collections.Counter(tuple(r) for r in edges.select(*EDGE_COLS).collect())
        got = collections.Counter(
            tuple(r) for r in StageStore(self.spark, self.store_dir).read("edges")
            .select(*EDGE_COLS).collect()
        )
        if got != want or not want:
            self.fail(f"store edges ({sum(got.values())} rows) differ from the batch-build "
                      f"edges ({sum(want.values())} rows) over the same {self.n_pages} pages")

        self.attempted += 1
        rng = np.random.default_rng(self.seed)
        nos = [int(x) for x in rng.choice(self.n_pages, size=SAMPLE_PAGES, replace=False)]
        sample = self.table.where(F.col("page_no").isin(nos)).select(
            *schemas.WEB_PAGES.fieldNames()
        )
        rows = [r.asDict() for r in sample.collect()]
        ref_extracted, ref_triples, _ = reference_impl.run_reference(rows)
        want_text = {r["url"]: r["text"] for r in ref_extracted}
        got_text = {r["url"]: r["text"] for r in extract_stage(sample).collect()}
        if len(rows) != SAMPLE_PAGES or got_text != want_text:
            self.fail("sample: extracted text differs from reference_impl")
            return
        got_t = triples.where(F.col("url").isin(list(want_text))).collect()
        got_c = collections.Counter(tuple(r[k] for k in TRIPLE_COLS) for r in got_t)
        want_c = collections.Counter(tuple(t[k] for k in TRIPLE_COLS) for t in ref_triples)
        if got_c != want_c or not want_c:
            self.fail(f"sample: {len(got_t)} triples vs {len(ref_triples)} from reference_impl")

    def end_to_end(self):
        p50 = median(self.batch_walls)
        self.details += [
            ("store_build_s", self.store_build_s, "s", f"{BASE_PAGES} pages"),
            ("ingest_batch_p50_s", p50, "s",
             f"n={len(self.batch_walls)} batches of {BATCH_PAGES} pages"),
            ("resume_s", self.resume_s, "s", "all 7 stages resumed"),
            ("batch_build_s", self.batch_build_s, "s", f"{self.n_pages} pages"),
            ("triples_per_s", self.built[2] / self.batch_build_s, "triples/s",
             f"{self.built[2]} triples"),
            ("batch_results", self.batch_outs, "", ""),
        ]
        return {"op_p50_s": (p50, "s"), "items_per_s": (self.pages_done / self.body_s, "1/s")}

    def layer_details(self, roll, root) -> None:
        t = self.tracer
        spans = {s.name: s for s in t.children(root) if s.name != "ingest.batch"}
        under = t.subtree(spans["store_build"])
        for stage in STAGES:
            self.span_line(roll, f"store.{stage}",
                           [s for s in under if s.name == f"store.write.{stage}"])
        batches = [s for s in t.children(root) if s.name == "ingest.batch"]
        per_batch = collections.defaultdict(list)
        for b in batches:
            merge_s = manifest_s = 0.0
            for s in t.subtree(b):
                if s.name in _MERGE_FUNCS:
                    merge_s += s.wall
                elif s.name.startswith("store.") and not _inside(t, s, _MERGE_FUNCS):
                    manifest_s += s.wall
            per_batch["jobs"].append(roll.of(t.subtree(b))["jobs"])
            per_batch["manifest_s"].append(manifest_s)
            per_batch["merge_s"].append(merge_s)
            per_batch["other_s"].append(b.wall - manifest_s - merge_s)
        for key, vals in per_batch.items():
            self.details.append((f"ingest.{key}", median(vals),
                                 "count" if key == "jobs" else "s",
                                 f"median of {len(vals)} batches; moves op_p50_s"))
        resume = spans["resume"]
        self.details += [
            ("resume.jobs", roll.of(t.subtree(resume))["jobs"], "count", ""),
            ("resume.wall_s", resume.wall, "s", "moves items_per_s"),
        ]
        for s in t.children(spans["batch_build"]):
            self.span_line(roll, s.name, [s], rows=s.attrs.get("rows"))


def _inside(tracer, span, names) -> bool:
    p = span.parent
    while p is not None:
        if tracer.spans[p].name in names:
            return True
        p = tracer.spans[p].parent
    return False


@contextmanager
def _instrumented(tracer):
    """Wrap StageStore's methods (labelled by stage) and the edge-merge entry
    points that incremental_ingest calls, in spans; restore on exit."""
    saved = []

    def wrap(owner, attr, label):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(label(args)):
                return orig(*args, **kwargs)

        saved.append((owner, attr, orig))
        setattr(owner, attr, traced)

    for m in _STORE_METHODS:
        wrap(StageStore, m, lambda a, m=m: f"store.{m}.{a[1]}")
    for f in _MERGE_FUNCS:
        wrap(incremental, f, lambda a, f=f: f)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
