"""Timed phases, the traced run, and the result line.

An operation is one call the benchmark times: a whole pipeline batch,
a lake commit, an MV refresh, a read. Operations come from the
workload's stream in groups (a commit with its refresh and reads); the
timed phase runs a fixed number of groups sized to ``--seconds``.
Input generation between groups is not timed.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import spans as tr
from spans import median

# (name, unit, better) — BENCHMARK.json lists the same; the tests compare
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("ops_per_s", "1/s", "higher"),
    ("batch_p50_s", "s", "lower"),
    ("read_p50_s", "s", "lower"),
    ("space_amp", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

OP_KINDS = ("batch", "read", "merge", "delete", "update", "compact", "refresh", "ingest")

PER_LAYER = [
    ("pipeline.bronze.s", "s", "lower"),
    ("pipeline.bronze.jobs", "count", "lower"),
    ("pipeline.silver.s", "s", "lower"),
    ("pipeline.silver.jobs", "count", "lower"),
    ("pipeline.gold.s", "s", "lower"),
    ("pipeline.gold.jobs", "count", "lower"),
    ("pipeline.overlap", "ratio", "higher"),
    ("io.write_parquet.s", "s", "lower"),
    ("io.write_parquet.files", "count", "lower"),
    ("snapshot.merge_into.s", "s", "lower"),
    ("snapshot.merge_into.jobs", "count", "lower"),
    ("snapshot.delete_where.s", "s", "lower"),
    ("snapshot.delete_where.jobs", "count", "lower"),
    ("snapshot.update_where.s", "s", "lower"),
    ("snapshot.update_where.jobs", "count", "lower"),
    ("snapshot.compact.s", "s", "lower"),
    ("snapshot.compact.mb_rewritten", "MB", "lower"),
    ("snapshot.dv_files", "count", "lower"),
    ("snapshot.read.s", "s", "lower"),
    ("snapshot.read.jobs", "count", "lower"),
    ("mv.refresh_rollup.s", "s", "lower"),
    ("mv.refresh_rollup.jobs", "count", "lower"),
    ("ingest.ingest_batch.s", "s", "lower"),
    ("ingest.ingest_batch.jobs", "count", "lower"),
    ("fuzzy.append_to_minhash_index.s", "s", "lower"),
    ("ingest.drop_ratio", "ratio", "higher"),
    ("ingest.planted_ratio", "ratio", "higher"),
    ("spark.jobs", "count/op", "lower"),
    ("spark.task_busy_s", "s/op", "lower"),
    ("spark.core_util", "ratio", "higher"),
    ("spark.driver_share", "ratio", "lower"),
    ("spark.shuffle_mb", "MB/op", "lower"),
    ("spark.spill_mb", "MB/op", "lower"),
    ("spark.gc_s", "s/op", "lower"),
    ("spark.unattributed_jobs", "count", "lower"),
    *[(f"op.{k}.{m}", u, b) for k in OP_KINDS
      for m, u, b in (("p50_s", "s", "lower"), ("tail_s", "s", "lower"),
                      ("n", "count", "higher"))],
    ("trace.overhead", "ratio", "lower"),
]


class Context:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.tracer = tr.Tracer(spark.sparkContext)


class Workload:
    """One workload: inputs, bootstrap state, an operation stream and
    the checks that its outputs are right (made without the engine)."""

    name = ""
    kinds: tuple[str, ...] = ()
    batch_kind = "batch"
    group_s = 3.0  # nominal wall of one operation group

    def __init__(self, work: str, seed: int, scale: float):
        self.work, self.seed, self.scale = work, seed, scale
        self.untimed = 0.0
        self.ops_attempted = self.ops_failed = 0
        self.checks = self.checks_failed = 0
        self.records: list[tuple[str, float, int]] = []  # kind, seconds, phase
        self.rows = 0
        self.phase = 0
        self._stream = None

    # -- hooks --------------------------------------------------------
    def prepare(self) -> None:
        """Generate inputs (before the JVM starts; not in setup_s)."""

    def bind(self, ctx: Context) -> None:
        self.ctx, self.spark, self.tracer = ctx, ctx.spark, ctx.tracer

    def bootstrap(self) -> None:
        """Build the state the stream starts from."""

    def warm_up(self) -> None:
        """One untimed operation of every kind."""

    def groups(self):
        """Yield lists of (kind, fn, rows)."""
        raise NotImplementedError

    def install_wrappers(self, tracer: tr.Tracer) -> None:
        """Span the engine's public functions this workload calls."""

    def before_trace(self) -> None:
        """Untimed set-up for work that only the traced run does."""

    def traced_extra(self) -> None:
        """Operations that only the traced run does, after its stream."""

    def layer_metrics(self, prof: tr.Profile) -> dict:
        return {}

    def verify(self) -> None:
        raise NotImplementedError

    def corrupt(self) -> None:
        raise NotImplementedError

    def space_amp(self) -> float:
        raise NotImplementedError

    # -- shared machinery ---------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.checks_failed += 1
            print(f"medbench: check failed: {what}", file=sys.stderr)

    def run_op(self, kind: str, fn, rows: int = 0, timed: bool = True):
        """Run one operation under an operation span; a raise counts
        as a failed operation."""
        self.ops_attempted += 1
        out = None
        with self.tracer.span(kind, op=True) as s:
            try:
                out = fn()
                ok = True
            except Exception:  # noqa: BLE001 — counted, reported below
                traceback.print_exc()
                ok = False
        if not ok:
            self.ops_failed += 1
        elif timed:
            self.rows += rows
        if timed:
            self.records.append((kind, s.t1 - s.t0, self.phase))
        return out

    def _next_group(self):
        if self._stream is None:
            self._stream = self.groups()
        t = time.monotonic()
        group = next(self._stream, None)
        self.untimed += time.monotonic() - t
        return group

    def n_groups(self, seconds: float) -> int:
        """Groups in a timed phase: ``seconds`` of nominal work on a
        4-core host, at least two. A count rather than a clock keeps
        every run at the same stream positions, so runs differ only in
        how long the same work took."""
        return max(2, round(seconds / self.group_s))

    def run_phase(self, n_groups: int, every_kind: bool = False) -> float:
        """Run ``n_groups`` groups (and, with ``every_kind``, more until
        every kind has run); returns the phase's wall time without input
        generation."""
        self.untimed = 0.0
        t0 = time.monotonic()
        seen: set[str] = set()
        done = 0
        while done < n_groups or (every_kind and not seen >= set(self.kinds)):
            group = self._next_group()
            if group is None:
                break
            for kind, fn, rows in group:
                self.run_op(kind, fn, rows)
                seen.add(kind)
            done += 1
        if not done:
            raise RuntimeError(f"{self.name}: the input stream ran out before any operation")
        return time.monotonic() - t0 - self.untimed

    def durations(self, kind: str, phase: int | None = None) -> list[float]:
        return [d for k, d, p in self.records
                if k == kind and (phase is None or p == phase)]


def untraced_run(wl: Workload, seconds: float) -> dict:
    wall = wl.run_phase(wl.n_groups(seconds))
    return {
        "rows_per_s": wl.rows / wall,
        "ops_per_s": len(wl.records) / wall,
        "batch_p50_s": median(wl.durations(wl.batch_kind)),
        "read_p50_s": median(wl.durations("read")),
    }


def traced_run(wl: Workload, seconds: float) -> dict:
    """Half the groups untraced, then the event log and the wrappers on
    for the rest (and until every kind has run once). The
    per-layer numbers come from the traced half; ``trace.overhead``
    compares the two halves kind by kind."""
    spark = wl.spark
    n = wl.n_groups(seconds)
    wl.phase = 0
    wl.run_phase(n // 2)
    wl.before_trace()
    tracer = wl.tracer
    tracer.inherit_threads()
    wl.install_wrappers(tracer)
    tracer.enable()
    log = tr.EventLog(spark.sparkContext, os.path.join(wl.work, "eventlog"))
    offset = time.time() - time.monotonic()
    log.start()
    wl.phase = 1
    t_traced = time.monotonic()
    try:
        wl.run_phase(n - n // 2, every_kind=True)
        wl.traced_extra()
    finally:
        events = log.stop()
        tracer.enabled = False
        tracer.restore()
    spans = [s for s in tracer.spans if s.t0 >= t_traced]
    prof = tr.Profile(spans, events, wl.ctx.cores)
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    out.update(prof.spark_metrics(offset))
    out.update(wl.layer_metrics(prof))
    for k in OP_KINDS:
        ds = wl.durations(k)
        out[f"op.{k}.p50_s"] = median(ds)
        out[f"op.{k}.tail_s"] = tr.tail(ds)
        out[f"op.{k}.n"] = float(len(ds))
    num = den = 0.0
    for k in set(wl.kinds):
        a, b = wl.durations(k, 0), wl.durations(k, 1)
        if a and b:
            num += len(b) * median(b)
            den += len(b) * median(a)
    out["trace.overhead"] = num / den - 1.0 if den else 0.0
    return out


def report(wl: Workload, result: dict, traced: bool) -> dict:
    specs = PER_LAYER if traced else END_TO_END
    failed = wl.ops_failed + wl.checks_failed
    return {
        "correct": failed == 0 and wl.checks > 0,
        "attempted": wl.ops_attempted + wl.checks,
        "failed": failed,
        "metrics": {
            name: {"value": float(result.get(name, 0.0)), "unit": unit}
            for name, unit, _ in specs
        },
    }
