"""Product-path benchmark for dupers_spark.

    python3 perfbench/run.py --workload dedup_up --seed 1 --seconds 20 --trace 0

Runs one workload (see workloads.py) on ``local[nproc]`` from a single
client, checks every result against the planted truth, and prints as its
last stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-module ledger of tracing.py (spans + Spark event
log). Lines before it start with ``perfbench:`` and carry the same run's
other figures.

Everything the run writes lives under ``.perfbench/`` at the repository
root: the generated-input cache and one scratch directory per process,
removed on exit. Exit status is non-zero, with no result line, when the
run fails or the dupers_spark package is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """3g, or a quarter of physical RAM on a smaller box; always below it
    (build_session's own default is 16g)."""
    with open("/proc/meminfo") as fh:
        total_kib = int(fh.readline().split()[1])
    return f"{max(1, min(3, total_kib // (4 << 20)))}g"


def _clean_stale_runs() -> None:
    if not os.path.isdir(STATE):
        return
    for d in os.listdir(STATE):
        if d.startswith("run-"):
            pid = int(d[4:]) if d[4:].isdigit() else 0
            if not pid or not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(STATE, d), ignore_errors=True)


def _prepare_env(work: str) -> dict[str, str]:
    """Environment and Spark conf for this run; must precede the first
    pyspark import so the JVM and its Python workers inherit it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_memory()
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    # HotSpot writes its perf-counter file under /tmp whatever
    # java.io.tmpdir says; both JVMs spark-submit starts go without it
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for both and for the
    Python workers the JVM started."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def _e2e(res) -> dict[str, dict]:
    metrics = {
        "setup_s": (statistics.median(res.setup), "s"),
        "build_s": (res.median("build"), "s"),
        "append_p50_ms": (1000 * res.median("append"), "ms"),
        "query_p50_ms": (1000 * res.median("query"), "ms"),
        "maintain_s": (res.median("maintain"), "s"),
        "disk_bytes_per_input_byte": (res.disk_bytes / res.input_bytes, "B/B"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dupers_spark")):
        print(f"perfbench: no dupers_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    _clean_stale_runs()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        conf = _prepare_env(work)
        event_dir = os.path.join(work, "events")
        if args.trace:
            os.makedirs(event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{event_dir}",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})

        from perfbench import tracing, workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; choose "
                  f"from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2

        t0 = time.perf_counter()
        from dupers_spark.session import build_session

        spark = build_session("perfbench", cores=_cores(), extra_conf=conf)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        path = workloads.generate_inputs(
            os.path.join(STATE, "cache"), args.seed)
        inputs_s = time.perf_counter() - t0

        tracer = tracing.NullTracer()
        if args.trace:
            tracer = _install_tracer(spark, tracing)
        ctx = workloads.Context(spark, tracer, work, path, args.seed,
                                args.seconds)
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            tracer.unpatch()
        _stop_spark(spark)
        spark = None
        # ru_maxrss of the largest process this one started and reaped:
        # the driver JVM (KiB on Linux)
        res.info["peak_jvm_rss_mb"] = resource.getrusage(
            resource.RUSAGE_CHILDREN).ru_maxrss / 1024

        _log(f"workload {args.workload} seed {args.seed} "
             f"rows {workloads.ROWS} "
             f"(first row {workloads.row_offset(args.seed)}), "
             f"local[{_cores()}], driver memory "
             f"{os.environ['SPARK_GRAFT_DRIVER_MEM']}, one closed-loop client")
        _log(f"session_start_s {session_s:.3f} s; inputs_s {inputs_s:.3f} s")
        for op, xs in sorted(res.samples.items()):
            _log(f"{op}: {len(xs)} samples, median {statistics.median(xs):.4f}"
                 f" s, min {min(xs):.4f} s, max {max(xs):.4f} s")
        for k, v in sorted(res.info.items()):
            _log(f"{k} {v:.4f}" if isinstance(v, float) else f"{k} {v}")
        _log(f"timed_wall_s {res.timed_wall_s:.3f} s")
        for f in res.failures:
            _log(f"CHECK FAILED: {f}")

        if args.trace:
            layer, lines = tracer.ledger(event_dir, _cores(),
                                         res.timed_wall_s)
            for line in lines:
                _log(f"ledger: {line}")
            units = dict(tracing.LAYER_METRICS)
            metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in layer.items()}
        else:
            metrics = _e2e(res)
            for k, m in metrics.items():
                _log(f"{k} {m['value']:.6g} {m['unit']}")
        print(json.dumps({"correct": not res.failures,
                          "attempted": res.attempted,
                          "failed": len(res.failures),
                          "metrics": metrics}), flush=True)
        return 0
    except Exception:  # noqa: BLE001 — report and fail the run
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                _stop_spark(spark)
            except Exception:  # noqa: BLE001 — already failing
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)


def _install_tracer(spark, tracing):
    from dupers_spark.operators import (
        components, exact, minhash_lsh, multimodal, search, simhash)
    from dupers_spark.plans import pipeline
    from dupers_spark.sources.storage import StageStore

    t = tracing.Tracer(spark.sparkContext)
    t.wrap_pipeline(pipeline.DedupPipeline)
    t.wrap_maintain(pipeline)
    for m in ("write", "append", "read"):
        t.wrap_store(StageStore, m, f"sources.storage.{m}")
    t.wrap([exact], "dup_edges", "operators.exact.dup_edges")
    for fn in ("signatures", "band_buckets"):
        t.wrap([minhash_lsh], fn, f"operators.minhash_lsh.{fn}")
    t.wrap([minhash_lsh], "candidate_pairs",
           "operators.minhash_lsh.candidate_pairs", count=tracing.count_pairs)
    t.wrap([minhash_lsh], "verify_pairs", "operators.minhash_lsh.verify_pairs",
           count=tracing.count_verified)
    t.wrap([minhash_lsh], "incremental_near_dup_edges",
           "operators.minhash_lsh.incremental_near_dup_edges")
    t.wrap([simhash], "hamming_candidates",
           "operators.simhash.hamming_candidates", count=tracing.count_pairs)
    t.wrap([simhash], "verify_hamming", "operators.simhash.verify_hamming",
           count=tracing.count_verified)
    t.wrap([simhash], "incremental_hamming_edges",
           "operators.simhash.incremental_hamming_edges")
    # plans.pipeline imported these by name: patch both bindings
    for fn in ("connected_components", "incremental_components_delta",
               "apply_relabel"):
        t.wrap([components, pipeline], fn, f"operators.components.{fn}")
    t.wrap([multimodal], "image_features",
           "operators.multimodal.image_features", count=tracing.count_decoded)
    t.wrap([multimodal], "pair_psnr", "operators.multimodal.pair_psnr")
    t.wrap_surviving_shards(search)
    return t


if __name__ == "__main__":
    sys.exit(main())
