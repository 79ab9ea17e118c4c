"""kg_analytics: closed-loop passes over oracled graph, document and search
leaves of __spark_entry__.queries(), each leaf collected in full, over
seeded TPC-H-ish and document tables. operators.graph, the components path
of operators.canonicalize, operators.dedup, .similarity, .contamination,
.tags and functions.hashing do the work here and almost none in
kg_ingest. Few leaves keep a run short: a pass is one graph leaf, three
document leaves and two top-k search leaves, together calling every module
named above. The first timed pass is each leaf's first call in the session,
so it includes the plans' code generation. Every leaf's rows and value hash are
checked against its DuckDB oracle (__spark_entry__.oracle_sql()), as
jobs/check_oracles.py does."""

from __future__ import annotations

import os
import time

import __spark_entry__ as entry
from jobs.check_oracles import value_hash

from . import inputs
from .harness import NPROC, median
from .workload import Workload

#: operators.graph (BFS-style reach, 3 rounds)
GRAPH_LEAVES = ["khop_reach_tpch"]
#: near_dup_groups_docs: MinHash-LSH pairs (operators.dedup, functions.hashing)
#: and their connected components (operators.canonicalize)
DOC_LEAVES = ["near_dup_groups_docs", "contamination_docs", "tags_tfidf_docs"]
#: exact KNN and the reference's full semantic_search (operators.similarity,
#: operators.segments)
TOPK_LEAVES = ["cosine_topk", "semantic_search_full"]
LEAVES = GRAPH_LEAVES + DOC_LEAVES + TOPK_LEAVES
MAX_PASSES = 20


class KgAnalytics(Workload):
    name = "kg_analytics"
    moves = {"q": "op_p50_s, items_per_s"}

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.sf_dir = inputs.analytics_tables(self.seed, os.path.join(self.run_dir, "tables"))
        self.details.append(("inputs_s", time.perf_counter() - t0, "s", "seeded tables"))
        self.queries = entry.queries()
        #: leaf → walls of its calls in passes where every leaf succeeded
        self.leaf_walls: dict[str, list[float]] = {n: [] for n in LEAVES}
        self.rows: dict[str, list[dict]] = {}
        t0 = time.perf_counter()
        # Warm-up: one table read, so the session's first-job cost (JVM class
        # loading, parquet reader) stays out of the timed pass. A warm-up pass
        # over the leaves would more than double a run.
        self.spark.read.parquet(os.path.join(self.sf_dir, "lineitem.parquet")).count()
        self.details.append(("warmup_s", time.perf_counter() - t0, "s", "one table read"))

    def _leaf(self, name: str):
        return [r.asDict() for r in self.queries[name](self.spark, self.sf_dir).collect()]

    def _pass(self, record: bool = True, i: int = 0) -> None:
        walls = {}
        with self.tracer.span("pass"):
            for name in LEAVES:
                t0 = time.perf_counter()
                with self.tracer.span(f"q.{name}"):
                    rows = self.attempt(f"pass {i} {name}", lambda: self._leaf(name)) \
                        if record else self._leaf(name)
                if rows is not None:
                    self.rows[name] = rows
                    walls[name] = time.perf_counter() - t0
        if record and len(walls) == len(LEAVES):
            for name, wall in walls.items():
                self.leaf_walls[name].append(wall)

    def body(self) -> None:
        self.closed_loop(lambda i: self._pass(i=i), MAX_PASSES)

    def traced_body(self):
        """The timed pass traced (each leaf's first call, as in untraced
        runs), then the trace overhead from two warm passes: a traced one
        minus an untraced one run just before it."""
        with self.tracer.span("kg_analytics") as root:
            self._pass()
        self.tracer.tag_jobs = False
        t0 = time.perf_counter()
        self._pass(record=False)
        untraced = time.perf_counter() - t0
        self.tracer.tag_jobs = True
        with self.tracer.span("overhead") as traced:
            self._pass(record=False)
        return root, traced.wall - untraced

    def check(self) -> None:
        """Rows and value hash of every leaf's last result against its
        DuckDB oracle over the same tables."""
        import duckdb

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {NPROC}")
            for t in inputs.ANALYTICS_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name in LEAVES:
                got = self.rows.get(name)
                if got is None:
                    continue  # already counted as a failed leaf
                self.attempted += 1
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                want = [dict(zip(cols, r)) for r in res.fetchall()]
                gcols = sorted(got[0]) if got else sorted(cols)
                if (len(got) != len(want) or gcols != sorted(cols)
                        or value_hash(got, gcols) != value_hash(want, sorted(cols))):
                    self.fail(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
        finally:
            con.close()

    def end_to_end(self):
        n_passes = len(self.leaf_walls[LEAVES[0]])

        def pass_sum(names):
            return median([sum(self.leaf_walls[n][k] for n in names) for k in range(n_passes)])

        calls = [w for n in LEAVES for w in self.leaf_walls[n]]
        topk = [w for n in TOPK_LEAVES for w in self.leaf_walls[n]]
        self.details += [
            ("graph_s", pass_sum(GRAPH_LEAVES), "s", f"{len(GRAPH_LEAVES)} leaf, median pass"),
            ("docs_s", pass_sum(DOC_LEAVES + TOPK_LEAVES), "s",
             f"{len(DOC_LEAVES) + len(TOPK_LEAVES)} leaves, median pass"),
            ("topk_p50_s", median(topk), "s", f"n={len(topk)} top-k leaf calls"),
            ("pass_p50_s", pass_sum(LEAVES), "s", f"n={n_passes} passes"),
        ]
        return {
            "op_p50_s": (median(calls), "s"),
            "items_per_s": (len(calls) / sum(calls), "1/s"),
        }

    def layer_details(self, roll, root) -> None:
        (p,) = self.tracer.children(root)
        for s in self.tracer.children(p):
            self.span_line(roll, s.name, [s])
