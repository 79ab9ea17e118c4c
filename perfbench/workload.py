"""What the workloads share: run state, the closed loop, failure
accounting and the per-span report of a traced run."""

from __future__ import annotations

import sys
import time
import traceback

from .trace import Rollup, Span, Tracer


class Workload:
    name = ""
    #: per-span prefixes → the end-to-end figure that span's time feeds
    moves: dict[str, str] = {}

    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float, run_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        #: (name, value, unit, note) lines printed before the result
        self.details: list[tuple] = []

    # -- subclass surface -------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def body(self) -> None:
        """The timed part: a closed loop of operations for `seconds`."""
        raise NotImplementedError

    def traced_body(self) -> tuple[Span, float]:
        """Traced run: the traced operation(s) under one root span, and the
        trace overhead: a traced operation's wall minus that of the same
        operation run untraced beside it."""
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """op_p50_s and items_per_s."""
        raise NotImplementedError

    def layer_details(self, roll: Rollup, root: Span) -> None:
        """Named per-layer lines for the traced run."""
        raise NotImplementedError

    # -- helpers ------------------------------------------------------------
    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: {self.name}: {msg}", file=sys.stderr, flush=True)

    def attempt(self, label: str, fn):
        """Run one operation; a raised error counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{label} raised")
            return None

    def closed_loop(self, op, max_ops: int) -> None:
        """Call op(i) back to back, each call sent when the previous one
        returns, until `seconds` have passed (at least once, at most
        `max_ops` times)."""
        t0 = time.perf_counter()
        n = 0
        while n == 0 or (time.perf_counter() - t0 < self.seconds and n < max_ops):
            op(n)
            n += 1

    def span_line(self, roll: Rollup, prefix: str, spans: list[Span], rows=None) -> None:
        """Self figures of `spans` (one named layer) as detail lines."""
        m = roll.of(spans)
        wall = sum(self.tracer.self_wall(s) for s in spans)
        moves = self.moves.get(prefix.split(".")[0], "")
        self.details.append((f"{prefix}.wall_s", wall, "s", f"moves {moves}" if moves else ""))
        for key, unit in (("jobs", "count"), ("cpu_s", "s"), ("python_s", "s"),
                          ("gc_s", "s"), ("shuffle_write_mb", "MB"),
                          ("memory_spill_mb", "MB"), ("disk_spill_mb", "MB")):
            self.details.append((f"{prefix}.{key}", m[key], unit, ""))
        if rows is not None:
            self.details.append((f"{prefix}.rows", rows, "count", ""))
