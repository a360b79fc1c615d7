"""The repository benchmark: one named workload, one seed, one run.

    python3 perfbench/run.py --workload feed_live --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):
  feed_live      open loop, 50 frames/s of 20 pairs over two socket shards
                 into event-time OHLC bars appended to the lake each second
  feed_backfill  the same pipeline draining backlogs of 50-pair frames
                 with availableNow
  lake_queries   one closed-loop client running every registry query per
                 round, in a seed-permuted order, over a seeded lake

Report lines go to stdout; the last line is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exit status is non-zero, with no result line, if the run cannot complete.
"""

from __future__ import annotations

import time

T_PROC = time.time()   # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (ROOT, MemSampler, Tracer, cpu_probe_ms,  # noqa: E402
                    env_stamp, nproc, start_spark)

sys.path.insert(0, ROOT)
WORKLOADS = ("feed_live", "feed_backfill", "lake_queries")
WORK = os.path.join(ROOT, "perfbench", ".work")
LAYERS = ("session", "generator", "ingest", "stream", "state", "sink",
          "decode", "tables", "plan", "fetch")
E2E = ("setup_s", "latency_p50_ms", "latency_tail_ms", "throughput_per_s",
       "memory_mb")


def layer_names() -> list[str]:
    """Every per-layer metric, printed on every traced run; a layer the
    workload does not exercise reads 0."""
    from lake import QUERIES
    return ([
        "ingest.latest_offset_ms", "ingest.backlog_frames", "ingest.rows_in",
        "decode.parse_frame_us", "decode.frames_per_s",
        "decode.useful_ratio", "stream.planning_ms", "stream.commit_ms",
        "stream.state_commit_ms", "stream.add_batch_ms", "stream.batch_ms",
        "stream.unaccounted_ms", "stream.batches", "stream.late_rows_dropped",
        "stream.state_rows", "stream.state_bytes", "sink.write_ms",
        "sink.files_written", "sink.bytes_written", "sink.bytes_per_row",
        "plan.build_ms", "plan.fetch_ms", "exec.tasks", "exec.stages",
        "exec.failed_tasks", "tables.load_ms", "gen.late_ms",
        "memory.python_mb", "memory.jvm_heap_mb", "memory.jvm_non_heap_mb",
        "trace.spans", "trace.cost_ms"]
        + [f"q.{q}_ms" for q in QUERIES]
        + [f"self.{lay}_ms" for lay in LAYERS]
        + [f"trace.e2e.{k}" for k in E2E])


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import dexscraper_spark  # noqa: F401  fail fast without the engine

    tmp = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(tmp)
    tracer = Tracer(bool(args.trace))
    # half the vCPUs run Spark tasks; the other half is left to what each
    # task slot drives besides its JVM thread (a Python worker for every
    # pandas or Arrow UDF), the driver's planning, JIT and GC threads and
    # the load generator. On a 4-vCPU VM, lake_queries' median latency
    # spread 0.15 (quartile distance over median, four seeds) at local[4]
    # and 0.06 at local[2].
    n = max(nproc() // 2, 1)
    try:
        with MemSampler() as mem:
            with tracer.span("session.start", "session"):
                spark, master = start_spark(tmp, n)
            stamp = env_stamp(args.seed, master)
            try:
                if args.workload == "lake_queries":
                    e2e, layer, lines, res, checks = _lake(args, spark,
                                                          tracer, tmp, mem)
                else:
                    e2e, layer, lines, res, checks = _feed(args, spark,
                                                          tracer, tmp, mem)
            finally:
                _stop_spark(spark)
        stamp["load1_end"] = os.getloadavg()[0]
        stamp["cpu_probe_ms"] = cpu_probe_ms()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    e2e["memory_mb"] = (mem.total_mb, "MB")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    lines.append(f"memory_mb = {mem.total_mb:.1f} MB (Python peak PSS "
                 f"{mem.python_mb:.1f}, JVM live heap {mem.heap_mb:.1f}, "
                 f"JVM non-heap {mem.non_heap_mb:.1f})")
    lines.append(f"setup_s = {e2e['setup_s'][0]:.3f} s")
    lines.append(f"error_rate = {failed / attempted:.6f} "
                 f"({failed} failed of {attempted} attempted)")
    layer["memory.python_mb"] = mem.python_mb
    layer["memory.jvm_heap_mb"] = mem.heap_mb
    layer["memory.jvm_non_heap_mb"] = mem.non_heap_mb
    if tracer.enabled:
        for lay, s in tracer.self_time_by_layer().items():
            if lay in LAYERS:
                layer[f"self.{lay}_ms"] = s * 1e3
        spans = sum(1 for s in tracer.spans if s is not None)
        layer["trace.spans"] = float(spans)
        layer["trace.cost_ms"] = spans * tracer.calibrate_ms()
        for k, (v, _unit) in e2e.items():
            layer[f"trace.e2e.{k}"] = float(v)
        os.makedirs(WORK, exist_ok=True)
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl")
        tracer.write(path)
        lines.append(f"spans written to {os.path.relpath(path, ROOT)}")
    correct = all(checks.values())
    print("env " + json.dumps(stamp))
    for name, ok in checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}")
    for line in lines:
        print(line)
    if args.trace:
        metrics = {k: {"value": float(layer.get(k, 0.0)),
                       "unit": _layer_unit(k)} for k in layer_names()}
    else:
        metrics = {k: {"value": float(v), "unit": u}
                   for k, (v, u) in sorted(e2e.items())}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


_UNITS = (("_ms", "ms"), ("_us", "us"), ("_per_s", "1/s"), ("_mb", "MB"),
          ("setup_s", "s"), ("_bytes", "bytes"), ("bytes_written", "bytes"),
          ("bytes_per_row", "bytes/row"), ("_ratio", "ratio"))


def _layer_unit(name: str) -> str:
    return next((u for suffix, u in _UNITS if name.endswith(suffix)),
                "count")


def _feed(args, spark, tracer, tmp, mem):
    import feed
    run = feed.FeedRun(spark=spark, seed=args.seed, seconds=args.seconds,
                       tracer=tracer, tmp=tmp, mem=mem, t_proc=T_PROC,
                       live=args.workload == "feed_live")
    res = feed.run_feed(run)
    e2e, layer, lines = feed.summarize(res, run.live)
    lines.append(f"records sent {res['records']} in {res['n_frames']} frames "
                 f"({res['n_malformed']} malformed, {res['n_out_of_order']} "
                 f"out of order, {res['n_very_late']} very late); rows in "
                 f"{res['rows_in']}; bars {res['n_bars']}")
    if tracer.enabled:
        _feed_trace(run, res, layer, tmp)
    for k in ("tasks", "stages", "failed_tasks"):
        per = res["exec"][k] / max(len(res["batches"]), 1)
        layer[f"exec.{k}"] = float(res["exec"][k] if k == "failed_tasks"
                                   else per)
    return e2e, layer, lines, res, run.checks


def _feed_trace(run, res, layer, tmp) -> None:
    """Per-batch spans rebuilt from the progress reports, the sink
    callback spans measured in-process, the decode layer and the lake's
    files."""
    tracer = run.tracer
    for b in res["batches"]:
        d = b.duration
        bid = tracer.add(f"batch.{b.id}", "stream", b.t_begin,
                         b.t_begin + d.get("triggerExecution", 0) / 1e3)
        t = b.t_begin
        for key, lay in (("latestOffset", "ingest"), ("walCommit", "stream"),
                         ("getBatch", "ingest"), ("queryPlanning", "stream"),
                         ("addBatch", "stream"), ("commitOffsets", "stream")):
            ms = d.get(key, 0)
            sid = tracer.add(f"batch.{b.id}.{key}", lay, t, t + ms / 1e3,
                             parent=bid)
            if key == "addBatch" and b.sink:
                tracer.add(f"batch.{b.id}.sink", "sink", *b.sink, parent=sid)
                sc = b.state.get("commitTimeMs", 0) / 1e3
                tracer.add(f"batch.{b.id}.state_commit", "state",
                           b.sink[0] - sc, b.sink[0], parent=sid)
            t += ms / 1e3
    dec = res["decode"]
    layer["decode.parse_frame_us"] = dec["parse_frame_us"]
    layer["decode.frames_per_s"] = dec["frames_per_s"]
    layer["decode.useful_ratio"] = res["rows_in"] / max(
        res["records"] + res["n_malformed"], 1)
    lake = os.path.join(tmp, "lake")
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(lake):
        for nm in names:
            if nm.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, nm))
    rows = run.spark.read.parquet(lake).count()
    layer["sink.files_written"] = float(files)
    layer["sink.bytes_written"] = float(nbytes)
    layer["sink.bytes_per_row"] = nbytes / max(rows, 1)


def _lake(args, spark, tracer, tmp, mem):
    import lake
    res = lake.run_lake(spark, args.seed, args.seconds, tracer, tmp, T_PROC,
                        mem)
    e2e, layer, lines = lake.summarize(res, spark)
    return e2e, layer, lines, res, res["checks"]


if __name__ == "__main__":
    sys.exit(main())
