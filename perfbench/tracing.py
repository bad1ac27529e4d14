"""Per-module ledger for the traced benchmark run.

The traced run patches the public functions of each dupers_spark layer with
a wrapper that records a span (name, start, end, parent, thread) and sets
the Spark job group of the calling thread to the span's id. Spark's event
log (``spark.eventLog.enabled``) then says which span submitted every job
and stage, and carries each task's executor run time, shuffle write and
spill. After the session stops, :func:`ledger` folds the two together into
the per-layer metrics named in :data:`LAYER_METRICS`.

Rules the numbers follow:

* The job group is thread-local and is set by the wrapper in the thread
  that makes the call, so ``run_incremental``'s branch threads attribute
  their own probes. A job or stage that carries no group of ours is given
  to the innermost span open on the main thread when it was submitted.
* A span's Spark quantities are inclusive: its own jobs plus those of the
  spans nested inside it.
* Lazy builders only construct a plan. So that their work lands in their
  own span, the traced run materializes every DataFrame a kernel returns
  (``localCheckpoint``) before the span closes. This is part of the
  tracing overhead, which the untraced run does not pay.
* The counts (candidate pairs, verified pairs, decoded rows, bytes and
  files written) are taken after the span's clock stops, under a job group
  of their own that the ledger leaves out.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

GROUP_KEY = "spark.jobGroup.id"
COUNT_GROUP = "perfbench-counts"

# (name, unit) of every per-layer metric; BENCHMARK.json lists the same
# names. Quantities are totals over the run's timed operations.
_SPARK_Q = {"wall_s": "s", "busy_core_s": "core-s", "idle_slot_s": "slot-s",
            "jobs": "count", "shuffle_write_bytes": "B", "spill_bytes": "B",
            "calls": "count"}


def _fn_metrics(fn: str, quantities: tuple[str, ...]) -> list[tuple[str, str]]:
    return [(f"{fn}.{q}", _SPARK_Q[q]) for q in quantities]


LAYER_METRICS: list[tuple[str, str]] = [
    *_fn_metrics("plans.pipeline.run", (
        "wall_s", "busy_core_s", "idle_slot_s", "jobs",
        "shuffle_write_bytes", "spill_bytes")),
    ("plans.pipeline.run.stages_s", "s"),
    ("plans.pipeline.run.outside_stages_s", "s"),
    *_fn_metrics("plans.pipeline.run_incremental", (
        "wall_s", "busy_core_s", "idle_slot_s", "jobs",
        "shuffle_write_bytes", "calls")),
    *_fn_metrics("plans.pipeline.maintain_warehouse", (
        "wall_s", "busy_core_s", "jobs")),
    ("plans.pipeline.maintain_warehouse.bytes_rewritten", "B"),
    ("plans.pipeline.maintain_warehouse.files_before", "count"),
    ("plans.pipeline.maintain_warehouse.files_after", "count"),
    *_fn_metrics("sources.storage.write", ("wall_s", "jobs", "calls")),
    ("sources.storage.write.bytes_written", "B"),
    ("sources.storage.write.files_written", "count"),
    *_fn_metrics("sources.storage.append", ("wall_s", "jobs", "calls")),
    ("sources.storage.append.bytes_written", "B"),
    ("sources.storage.append.files_written", "count"),
    *_fn_metrics("sources.storage.read", ("wall_s", "calls")),
    *_fn_metrics("operators.exact.dup_edges", (
        "wall_s", "busy_core_s", "jobs", "shuffle_write_bytes")),
    *[m for fn in ("signatures", "band_buckets", "candidate_pairs",
                   "verify_pairs")
      for m in _fn_metrics(f"operators.minhash_lsh.{fn}", (
          "wall_s", "busy_core_s", "shuffle_write_bytes"))],
    ("operators.minhash_lsh.candidate_pairs.pairs", "count"),
    ("operators.minhash_lsh.candidate_pairs.dropped_buckets", "count"),
    ("operators.minhash_lsh.verify_pairs.yield", "ratio"),
    *_fn_metrics("operators.minhash_lsh.incremental_near_dup_edges", (
        "wall_s", "busy_core_s", "jobs")),
    *[m for fn in ("hamming_candidates", "verify_hamming")
      for m in _fn_metrics(f"operators.simhash.{fn}", (
          "wall_s", "busy_core_s"))],
    ("operators.simhash.hamming_candidates.pairs", "count"),
    ("operators.simhash.hamming_candidates.dropped_buckets", "count"),
    ("operators.simhash.verify_hamming.yield", "ratio"),
    *_fn_metrics("operators.simhash.incremental_hamming_edges", (
        "wall_s", "busy_core_s", "jobs")),
    *_fn_metrics("operators.components.connected_components", (
        "wall_s", "busy_core_s", "jobs", "shuffle_write_bytes")),
    *_fn_metrics("operators.components.incremental_components_delta", (
        "wall_s", "jobs")),
    *_fn_metrics("operators.components.apply_relabel", ("wall_s", "calls")),
    *_fn_metrics("operators.multimodal.image_features", (
        "wall_s", "busy_core_s")),
    ("operators.multimodal.image_features.rows", "count"),
    ("operators.multimodal.image_features.us_per_row", "us/row"),
    ("operators.multimodal.image_features.decode_ok_ratio", "ratio"),
    *_fn_metrics("operators.multimodal.pair_psnr", ("wall_s",)),
    *[m for fn in ("build_suffix_index", "append_suffix_index",
                   "query_suffix_index")
      for m in _fn_metrics(f"operators.search.{fn}", (
          "wall_s", "busy_core_s", "jobs"))],
    ("operators.search.query_suffix_index.calls", "count"),
    ("operators.search.query_suffix_index.shards_probed_ratio", "ratio"),
    ("trace.timed_wall_s", "s"),
    ("trace.unattributed_jobs", "count"),
]


class Span:
    __slots__ = ("sid", "name", "parent", "thread", "start", "end", "counts")

    def __init__(self, sid: int, name: str, parent: int | None, thread: int):
        self.sid, self.name, self.parent, self.thread = sid, name, parent, thread
        self.start = self.end = 0.0
        self.counts: dict[str, float] = {}


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    enabled = False

    def span(self, name: str):
        return nullcontext()

    def query(self, shards: int):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stage_checks: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack = self._stack()
        self._patches: list[tuple[object, str, object]] = []
        self._shards: list[int] = [0, 0]  # probed, present (query spans)
        self._probed = 0

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        outer = stack or self._main_stack
        parent = outer[-1].sid if outer else None
        with self._lock:
            sp = Span(len(self.spans), name, parent, threading.get_ident())
            self.spans.append(sp)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"pb{sp.sid}")
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)

    @contextmanager
    def _counting(self):
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, COUNT_GROUP)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_KEY, prev)

    # ----------------------------------------------------------- patches
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def wrap(self, owners: list, attr: str, name: str, count=None) -> None:
        """Span every call of ``owner.attr`` for each owner (a module that
        defines the function, or one that imported it by name); the
        DataFrames it returns are materialized inside the span."""
        orig = getattr(owners[0], attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = _materialize(orig(*args, **kwargs))
            if count is not None:
                with tracer._counting():
                    for k, v in count(args, out).items():
                        sp.counts[k] = sp.counts.get(k, 0) + v
            return out

        for owner in owners:
            self._patch(owner, attr, wrapper)

    def wrap_store(self, cls, method: str, name: str) -> None:
        """StageStore.write/append/read: span plus the parquet bytes and
        files the call left in the stage directory."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def wrapper(store, stage, *args, **kwargs):
            path = os.path.join(store.warehouse, stage)
            before = _parquet_files(path) if method == "append" else {}
            with tracer.span(name) as sp:
                out = orig(store, stage, *args, **kwargs)
            if method != "read":
                new = {p: s for p, s in _parquet_files(path).items()
                       if p not in before}
                sp.counts["files_written"] = len(new)
                sp.counts["bytes_written"] = sum(new.values())
            return out

        self._patch(cls, method, wrapper)

    def wrap_maintain(self, module) -> None:
        orig = module.maintain_warehouse
        tracer = self

        @functools.wraps(orig)
        def wrapper(spark, cfg, *args, **kwargs):
            root = getattr(cfg, "warehouse", cfg)
            before = _parquet_files(root)
            with tracer.span("plans.pipeline.maintain_warehouse") as sp:
                out = orig(spark, cfg, *args, **kwargs)
            after = _parquet_files(root)
            sp.counts["files_before"] = len(before)
            sp.counts["files_after"] = len(after)
            sp.counts["bytes_rewritten"] = sum(
                s for p, s in after.items() if p not in before)
            return out

        self._patch(module, "maintain_warehouse", wrapper)

    def wrap_pipeline(self, cls) -> None:
        """DedupPipeline.run / run_incremental and the per-stage
        checkpoint-or-build primitive ``_stage`` (the stage spans that
        ``run``'s wall is reconciled against)."""
        tracer = self
        run, run_inc, stage = cls.run, cls.run_incremental, cls._stage

        @functools.wraps(run)
        def run_wrapper(pipe, *args, **kwargs):
            n0 = len(pipe.metrics)
            with tracer.span("plans.pipeline.run") as sp:
                out = run(pipe, *args, **kwargs)
            for m in pipe.metrics[n0:]:
                tracer.stage_checks.append({"run": sp.sid, **m})
            return out

        @functools.wraps(run_inc)
        def run_inc_wrapper(pipe, *args, **kwargs):
            with tracer.span("plans.pipeline.run_incremental"):
                return run_inc(pipe, *args, **kwargs)

        @functools.wraps(stage)
        def stage_wrapper(pipe, name, *args, **kwargs):
            with tracer.span(f"plans.pipeline.stage:{name}"):
                return stage(pipe, name, *args, **kwargs)

        self._patch(cls, "run", run_wrapper)
        self._patch(cls, "run_incremental", run_inc_wrapper)
        self._patch(cls, "_stage", stage_wrapper)

    def wrap_surviving_shards(self, module) -> None:
        orig = module.surviving_shards
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            keep = orig(*args, **kwargs)
            if keep is not None:
                tracer._probed = len(keep)
            return keep

        self._patch(module, "surviving_shards", wrapper)

    @contextmanager
    def query(self, shards: int):
        """Span one search query; a query probes every shard unless term
        routing (``surviving_shards``) pruned some."""
        self._probed = shards
        with self.span("operators.search.query_suffix_index"):
            yield
        self._shards[0] += self._probed
        self._shards[1] += shards

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ ledger
    def ledger(self, event_log_dir: str, cores: int,
               timed_wall_s: float) -> tuple[dict[str, float], list[str]]:
        """Fold the spans and the event log into the per-layer metrics.
        Returns (metrics by name, report lines)."""
        jobs, stages = _read_event_log(event_log_dir)
        main = [s for s in self.spans if s.thread == self._main]
        by_group = {f"pb{s.sid}": s.sid for s in self.spans}

        def owner(group, t_ms) -> int | None:
            if group == COUNT_GROUP:
                return -1
            if group in by_group:
                return by_group[group]
            t = t_ms / 1000.0
            best = None
            for s in main:
                if s.start <= t <= s.end and (best is None
                                              or s.start >= best.start):
                    best = s
            return best.sid if best else None

        n = len(self.spans)
        own = [defaultdict(float) for _ in range(n)]
        unattributed = 0
        for group, t_ms in jobs:
            sid = owner(group, t_ms)
            if sid is None:
                unattributed += 1
            elif sid >= 0:
                own[sid]["jobs"] += 1
        for group, t_ms, q in stages:
            sid = owner(group, t_ms)
            if sid is not None and sid >= 0:
                for k, v in q.items():
                    own[sid][k] += v
        incl = [dict(d) for d in own]
        for s in reversed(self.spans):
            if s.parent is not None:
                for k, v in incl[s.sid].items():
                    incl[s.parent][k] = incl[s.parent].get(k, 0.0) + v

        per_fn: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for s in self.spans:
            agg = per_fn[s.name]
            wall = s.end - s.start
            agg["wall_s"] += wall
            agg["calls"] += 1
            agg["idle_slot_s"] += wall * cores - incl[s.sid].get("busy_core_s", 0.0)
            for k, v in incl[s.sid].items():
                agg[k] += v
            for k, v in s.counts.items():
                agg[k] += v

        out: dict[str, float] = {}
        for name, _unit in LAYER_METRICS:
            fn, q = name.rsplit(".", 1)
            out[name] = float(per_fn.get(fn, {}).get(q, 0.0))

        def ratio(num: float, den: float) -> float:
            return num / den if den else 0.0

        lsh, ham = per_fn.get("operators.minhash_lsh.verify_pairs", {}), \
            per_fn.get("operators.simhash.verify_hamming", {})
        out["operators.minhash_lsh.verify_pairs.yield"] = ratio(
            lsh.get("verified", 0), lsh.get("candidates", 0))
        out["operators.simhash.verify_hamming.yield"] = ratio(
            ham.get("verified", 0), ham.get("candidates", 0))
        feats = per_fn.get("operators.multimodal.image_features", {})
        out["operators.multimodal.image_features.us_per_row"] = ratio(
            feats.get("wall_s", 0) * 1e6, feats.get("rows", 0))
        out["operators.multimodal.image_features.decode_ok_ratio"] = ratio(
            feats.get("decode_ok", 0), feats.get("rows", 0))
        out["operators.search.query_suffix_index.shards_probed_ratio"] = \
            ratio(*self._shards)
        out["trace.timed_wall_s"] = timed_wall_s
        out["trace.unattributed_jobs"] = float(unattributed)

        lines = self._reconcile(out)
        return out, lines

    def _reconcile(self, out: dict[str, float]) -> list[str]:
        """Stage spans + outside_stages_s = run wall; each stage span set
        beside the program's own ``pipe.metrics`` seconds for it."""
        lines: list[str] = []
        stages_total = 0.0
        for run in (s for s in self.spans if s.name == "plans.pipeline.run"):
            wall = run.end - run.start
            kids = [s for s in self.spans if s.parent == run.sid
                    and s.name.startswith("plans.pipeline.stage:")]
            span_s = sum(s.end - s.start for s in kids)
            stages_total += span_s
            lines.append(f"run wall {wall:.3f} s = stage spans {span_s:.3f} s"
                         f" + outside_stages_s {wall - span_s:.3f} s")
            program = {m["stage"]: m["seconds"] for m in self.stage_checks
                       if m["run"] == run.sid}
            lines.append("stage                      span_s  pipe.metrics_s")
            for s in kids:
                stage = s.name.split(":", 1)[1]
                lines.append(f"{stage:<24} {s.end - s.start:8.3f} "
                             f"{program.get(stage, float('nan')):12.3f}")
            extra = sorted(set(program) - {s.name.split(":", 1)[1]
                                           for s in kids})
            for stage in extra:
                lines.append(f"{stage:<24} {'-':>8} {program[stage]:12.3f}")
        out["plans.pipeline.run.stages_s"] = stages_total
        out["plans.pipeline.run.outside_stages_s"] = \
            out["plans.pipeline.run.wall_s"] - stages_total
        return lines


def _materialize(out):
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(_materialize(o) for o in out)
    return out


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        try:
            out[p] = os.path.getsize(p)
        except OSError:
            continue
    return out


def count_pairs(args, out) -> dict[str, float]:
    pairs, dropped = out
    return {"pairs": pairs.count(), "dropped_buckets": dropped.count()}


def count_verified(args, out) -> dict[str, float]:
    return {"candidates": args[0].count(), "verified": out.count()}


def count_decoded(args, out) -> dict[str, float]:
    from pyspark.sql import functions as F

    row = out.agg(F.count("*"),
                  F.sum(F.col("decode_ok").cast("long"))).first()
    return {"rows": row[0], "decode_ok": row[1] or 0}


def _read_event_log(log_dir: str):
    """→ (jobs[(group, submit_ms)], stages[(group, submit_ms, quantities)])
    from the one application log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(paths)}")
    jobs: list[tuple[str | None, float]] = []
    stage_info: dict[tuple[int, int], tuple[str | None, float]] = {}
    stage_q: dict[tuple[int, int], dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    with open(paths[0]) as fh:
        for line in fh:
            if '"SparkListenerTaskEnd"' in line[:64]:
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                q = stage_q[(ev["Stage ID"], ev["Stage Attempt ID"])]
                q["busy_core_s"] += m.get("Executor Run Time", 0) / 1000.0
                q["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                             or {}).get("Shuffle Bytes Written", 0)
                q["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + \
                    m.get("Disk Bytes Spilled", 0)
            elif '"SparkListenerStageSubmitted"' in line[:64]:
                ev = json.loads(line)
                info = ev["Stage Info"]
                stage_info[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    (ev.get("Properties") or {}).get(GROUP_KEY),
                    info.get("Submission Time", 0))
            elif '"SparkListenerJobStart"' in line[:64]:
                ev = json.loads(line)
                jobs.append(((ev.get("Properties") or {}).get(GROUP_KEY),
                             ev.get("Submission Time", 0)))
    stages = [(g, t, dict(stage_q.get(k, {})))
              for k, (g, t) in stage_info.items()]
    return jobs, stages
