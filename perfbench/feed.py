"""The feed workloads: the live path from socket shards through decode,
event-time OHLC state and lake appends.

``feed_live`` is an open loop: the generator appends 20-pair frames to two
shards at a fixed 50 frames/s and the stream runs a 1-second
processing-time trigger, so fixed per-batch costs dominate.
``feed_backfill`` drains pre-filled backlogs of 50-pair frames with
``availableNow`` restarts from the same checkpoint, so per-row costs
dominate. Both check their output against a pandas reference.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from common import ROOT, median, percentile, tail_percentile

GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")
SHARDS = 2
RATE = 50.0                 # offered frames/s; sets the event clock too
TRIGGER_S = 1
WATERMARK_S = 600
WINDOW_S = 300
LIVE_PAIRS = 20
LIVE_PREFILL = 50           # frames drained by the first (cold) batch
LIVE_WARM_BATCHES = 2       # committed batches after the loop starts
LIVE_TAIL_P = 95.0
BACKFILL_PAIRS = 50         # the reference's per-frame cap
BACKFILL_WARM = 100
BACKFILL_CHUNK = 1000       # frames per drained backlog
WAIT_S = 120                # upper bound on any single wait in a run


class GenProc:
    """The generator process and its JSON-lines control channel."""

    def __init__(self, seed: int, pairs: int, rate: float):
        self.proc = subprocess.Popen(
            [sys.executable, GEN, "--seed", str(seed), "--pairs", str(pairs),
             "--rate", str(rate), "--shards", str(SHARDS), "--root", ROOT],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.pid = self.proc.pid
        self.ports = self._read()["ports"]

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited ({self.proc.poll()})")
        return json.loads(line)

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        try:
            self.proc.stdin.write('{"cmd": "exit"}\n')
            self.proc.stdin.close()
            self.proc.wait(timeout=15)
        except (OSError, ValueError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait(timeout=15)
        self.proc.stdout.close()


@dataclass
class Batch:
    """One micro-batch as Spark's progress report describes it, plus the
    benchmark's own timing of its sink callback."""
    id: int
    start: list[int]
    end: list[int]
    rows: int
    duration: dict
    state: dict
    watermark_ms: int
    t_begin: float
    sink: tuple[float, float] | None = None

    @property
    def frames(self) -> int:
        return sum(e - s for s, e in zip(self.start, self.end))


def _offsets(raw) -> list[int]:
    if raw is None or raw == "null":
        return [0] * SHARDS
    d = json.loads(raw) if isinstance(raw, str) else raw
    return [int(d[str(i)]) for i in range(SHARDS)]


def _iso(ts: str) -> float:
    import datetime as dt
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def collect_batches(progress: list[dict], sink_log: dict) -> list[Batch]:
    """Batches in id order from progress reports (one per batch id, the
    last report wins), each joined with its sink callback times."""
    by_id: dict[int, dict] = {}
    for p in progress:
        if "addBatch" in p.get("durationMs", {}):
            by_id[int(p["batchId"])] = p
    out = []
    for bid in sorted(by_id):
        p = by_id[bid]
        src = p["sources"][0]
        ops = p.get("stateOperators") or [{}]
        wm = p.get("eventTime", {}).get("watermark")
        out.append(Batch(
            id=bid, start=_offsets(src.get("startOffset")),
            end=_offsets(src.get("endOffset")),
            rows=int(src.get("numInputRows", 0)), duration=p["durationMs"],
            state=ops[0], watermark_ms=int(_iso(wm) * 1000) if wm else 0,
            t_begin=_iso(p["timestamp"]), sink=sink_log.get(bid)))
    return out


def frame_index(shard: int, seq: int) -> int:
    return seq * SHARDS + shard


def freshness_ms(batches: list[Batch], due, window: tuple[float, float]
                 ) -> dict[int, float]:
    """Per frame created in ``window``: milliseconds from its due time to
    the end of the sink write of the batch that carried it. ``due(k)`` is
    the creation time of frame ``k``."""
    out: dict[int, float] = {}
    lo, hi = window
    for b in batches:
        if b.sink is None:
            continue
        for shard in range(SHARDS):
            for seq in range(b.start[shard], b.end[shard]):
                k = frame_index(shard, seq)
                t = due(k)
                if lo <= t < hi:
                    out[k] = (b.sink[1] - t) * 1e3
    return out


def offset_faults(batches: list[Batch], head: list[int]) -> tuple[int, int]:
    """(missing, duplicated) frames: each shard's committed ranges must
    tile ``[0, head)`` exactly."""
    missing = dup = 0
    for shard in range(SHARDS):
        pos = 0
        for b in batches:
            s, e = b.start[shard], b.end[shard]
            if s > pos:
                missing += s - pos
            elif s < pos:
                dup += min(pos, e) - s
            pos = max(pos, e)
        missing += max(head[shard] - pos, 0)
    return missing, dup


# -- reference -----------------------------------------------------------

def records(seed: int, n_frames: int, pairs: int, rate: float
            ) -> tuple[pd.DataFrame, list[str | None]]:
    """Every record the generator sent in frames ``[0, n_frames)``, with
    the frame it rode in; plus each frame's malformed kind (or None)."""
    from gen import frame_spec, symbol
    from dexscraper_spark.sources.socket_source import SHARD_STRIDE
    cols: dict[str, list] = {c: [] for c in (
        "k", "symbol", "ts", "price", "volume", "kind", "msg_id", "pos")}
    malformed = []
    for k in range(n_frames):
        f = frame_spec(seed, k, pairs, rate)
        malformed.append(f.malformed)
        if f.malformed is not None:
            continue
        n = len(f.ranks)
        cols["k"] += [k] * n
        cols["symbol"] += [symbol(int(r)) for r in f.ranks]
        cols["ts"] += f.event_ts.tolist()
        cols["price"] += f.price.tolist()
        cols["volume"] += f.volume.tolist()
        cols["kind"] += f.kind.tolist()
        cols["msg_id"] += [(k % SHARDS) * SHARD_STRIDE + k // SHARDS] * n
        cols["pos"] += [512 * j for j in range(n)]
    return pd.DataFrame(cols), malformed


def reference_bars(recs: pd.DataFrame, batches: list[Batch]
                   ) -> tuple[pd.DataFrame, pd.Series, list[int]]:
    """The bars Spark should end with, by its documented watermark rules:
    batch ``b`` runs with watermark ``wm_b`` = max event time of batches
    before ``b`` minus the delay, and drops a row whose window ends at or
    before the watermark of the batch before it. Returns the bars, the
    accepted-row mask and the per-batch watermarks (ms)."""
    batch_of = np.full(int(recs["k"].max()) + 1 if len(recs) else 0, -1)
    for i, b in enumerate(batches):
        for shard in range(SHARDS):
            for seq in range(b.start[shard], b.end[shard]):
                k = frame_index(shard, seq)
                if k < len(batch_of):
                    batch_of[k] = i
    bi = batch_of[recs["k"].to_numpy()]
    ts = recs["ts"].to_numpy()
    wm = np.zeros(len(batches) + 1, dtype=np.int64)
    max_ts = None
    for i in range(len(batches)):
        in_b = ts[bi == i]
        if len(in_b):
            max_ts = in_b.max() if max_ts is None else max(max_ts,
                                                           in_b.max())
        wm[i + 1] = max(wm[i], (max_ts - WATERMARK_S) * 1000
                        if max_ts is not None else 0)
    win_end_ms = ((ts // WINDOW_S) * WINDOW_S + WINDOW_S) * 1000
    late_wm = wm[np.maximum(bi - 1, 0)]
    accepted = pd.Series((bi >= 0) & (win_end_ms > late_wm),
                         index=recs.index)
    r = recs[accepted].assign(bucket=(recs["ts"] // WINDOW_S) * WINDOW_S)
    r = r.sort_values(["ts", "msg_id", "pos"])
    g = r.groupby(["symbol", "bucket"], sort=True)
    bars = pd.DataFrame({
        "open": g["price"].first(), "high": g["price"].max(),
        "low": g["price"].min(), "close": g["price"].last(),
        "volume": g["volume"].last(), "trades": g["price"].size(),
    }).reset_index()
    return bars, accepted, wm[:-1].tolist()


def lake_bars(spark, lake: str) -> pd.DataFrame:
    """The latest appended version of every (symbol, bucket) bar."""
    df = spark.read.parquet(lake).toPandas()
    df = df.sort_values("batch_id").drop_duplicates(
        ["symbol", "bucket_ts"], keep="last")
    df["bucket"] = pd.to_datetime(df["bucket_ts"], utc=True).astype(
        "int64") // 10**9
    return df[["symbol", "bucket", "open", "high", "low", "close", "volume",
               "trades"]].sort_values(["symbol", "bucket"]).reset_index(
        drop=True)


# -- the run -------------------------------------------------------------

@dataclass
class FeedRun:
    spark: object
    seed: int
    seconds: float
    tracer: object
    tmp: str
    mem: object
    t_proc: float
    live: bool
    checks: dict = field(default_factory=dict)
    sink_log: dict = field(default_factory=dict)


def _start_query(run: FeedRun, ports: list[int], lake: str, ckpt: str,
                 available_now: bool):
    from pyspark.sql import functions as F
    from dexscraper_spark.sinks.lake import write_ohlc
    from dexscraper_spark.sources.frame_source import register_frame_source
    from dexscraper_spark.streaming.pipeline import streaming_ohlc

    spark, tracer = run.spark, run.tracer
    with tracer.span("stream.start", "stream"):
        register_frame_source(spark)
        raw = (spark.readStream.format("dexframes")
               .option("endpoints",
                       ",".join(f"127.0.0.1:{p}" for p in ports))
               .option("frames_per_batch", 1 << 20)
               .load()
               .withColumn("event_ts",
                           F.timestamp_seconds(F.col("created_at"))))
        bars = streaming_ohlc(raw, ts_col="event_ts",
                              watermark=f"{WATERMARK_S // 60} minutes")

        def sink(df, batch_id):
            t0 = time.time()
            write_ohlc(df.withColumn("batch_id", F.lit(batch_id)), lake,
                       mode="append")
            run.sink_log[batch_id] = (t0, time.time())

        w = (bars.writeStream.outputMode("update").foreachBatch(sink)
             .option("checkpointLocation", ckpt))
        w = (w.trigger(availableNow=True) if available_now
             else w.trigger(processingTime=f"{TRIGGER_S} seconds"))
        return w.start()


def _wait(pred, what: str, query=None) -> None:
    deadline = time.time() + WAIT_S
    while not pred():
        if query is not None and query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.02)


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def job_stats(spark, groups: list[str]) -> dict:
    """Jobs, stages, tasks and failed tasks of the given job groups, from
    Spark's status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            if info.status == "FAILED":
                failed += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


def run_feed(run: FeedRun) -> dict:
    pairs = LIVE_PAIRS if run.live else BACKFILL_PAIRS
    lake = os.path.join(run.tmp, "lake")
    ckpt = os.path.join(run.tmp, "ckpt")
    tracer = run.tracer
    with tracer.span("gen.start", "generator"):
        gen = GenProc(run.seed, pairs, RATE)
    run.mem.exclude.add(gen.pid)
    queries = []
    try:
        if run.live:
            res = _live(run, gen, lake, ckpt, queries)
        else:
            res = _backfill(run, gen, lake, ckpt, queries)
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
        gen.close()
    res.update(_check(run, res, pairs, lake))
    res["exec"] = job_stats(run.spark, [str(q.runId) for q in queries])
    res["failed"] += res["exec"]["failed_tasks"]
    if tracer.enabled:
        res["decode"] = _decode_kernel(run, res, pairs)
    return res


def _live(run: FeedRun, gen: GenProc, lake: str, ckpt: str,
          queries: list) -> dict:
    gen.call(cmd="prefill", n=LIVE_PREFILL)
    q = _start_query(run, gen.ports, lake, ckpt, available_now=False)
    queries.append(q)
    _wait(lambda: len(run.sink_log) >= 1, "the first batch", q)
    started = gen.call(cmd="run")
    t_start, k_start = started["t_start"], started["k_start"]
    _wait(lambda: len(run.sink_log) >= 1 + LIVE_WARM_BATCHES,
          "the warm-up batches", q)
    t0 = time.time()
    setup_s = t0 - run.t_proc
    time.sleep(max(t0 + run.seconds - time.time(), 0.0))
    t1 = time.time()
    sched = gen.call(cmd="stop")
    head = gen.call(cmd="head")["head"]

    def drained() -> bool:
        lp = q.lastProgress
        if lp is None:
            return False
        lp = json.loads(lp.json)
        return _offsets(lp["sources"][0]["endOffset"]) == head and \
            max(run.sink_log) >= lp["batchId"]

    _wait(drained, "the stream to drain", q)
    run.mem.finish(run.spark)
    progress = _progress(q)
    q.stop()
    batches = collect_batches(progress, run.sink_log)

    def due(k: int) -> float:
        return t_start + (k - k_start) / RATE

    fresh = freshness_ms(batches, due, (t0, t1))
    in_win = [b for b in batches if b.sink and t0 <= b.sink[1] < t1]
    if len(in_win) < 2:
        raise RuntimeError("fewer than two batches committed in the window")
    frames = sum(b.frames for b in in_win[1:])
    rate = frames / (in_win[-1].sink[1] - in_win[0].sink[1])
    expected = sum(1 for k in range(sched["next"]) if t0 <= due(k) < t1)
    return {"setup_s": setup_s, "t0": t0, "t1": t1, "batches": batches,
            "window_batches": in_win, "head": head, "n_frames": sched["next"],
            "fresh": fresh, "expected_fresh": expected,
            "frames_per_s": rate, "gen_late_ms": sched["late_ms"],
            "t_start": t_start, "k_start": k_start, "failed": 0,
            "attempted": sched["next"] + len(batches)}


def _backfill(run: FeedRun, gen: GenProc, lake: str, ckpt: str,
              queries: list) -> dict:
    def drain() -> float:
        t = time.time()
        q = _start_query(run, gen.ports, lake, ckpt, available_now=True)
        queries.append(q)
        if not q.awaitTermination(WAIT_S):
            raise TimeoutError("availableNow drain did not finish")
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return time.time() - t

    # two warm drains: Spark drops late rows by the watermark of the batch
    # before the current one, so the first backlog batch needs two before it
    for _ in range(2):
        gen.call(cmd="prefill", n=BACKFILL_WARM // 2)
        drain()
    t0 = time.time()
    setup_s = t0 - run.t_proc
    drain_s, frames = [], 0
    while time.time() - t0 < run.seconds:
        gen.call(cmd="prefill", n=BACKFILL_CHUNK)
        drain_s.append(drain())
        frames += BACKFILL_CHUNK
    run.mem.finish(run.spark)
    head = gen.call(cmd="head")["head"]
    progress = [p for q in queries for p in _progress(q)]
    batches = collect_batches(progress, run.sink_log)
    return {"setup_s": setup_s, "t0": t0, "t1": time.time(),
            "batches": batches, "window_batches": [
                b for b in batches if b.sink and b.sink[0] >= t0],
            "head": head, "n_frames": sum(head), "drain_s": drain_s,
            "frames_per_s": frames / sum(drain_s), "failed": 0,
            "attempted": sum(head) + len(batches)}


def _check(run: FeedRun, res: dict, pairs: int, lake: str) -> dict:
    """The correctness checks; every failed one counts in ``failed``."""
    from dexscraper_spark.sources.binary import MALFORMED_FRAMES
    from dexscraper_spark.sources.decode import parse_frame

    batches, checks = res["batches"], run.checks
    failed = res["failed"]
    missing, dup = offset_faults(batches, res["head"])
    checks["frames_exactly_once"] = missing == dup == 0
    failed += missing + dup
    recs, malformed = records(run.seed, res["n_frames"], pairs, RATE)
    rows_in = sum(b.rows for b in batches)
    checks["records_decoded_once"] = rows_in == len(recs)
    bad = [m for m in malformed if m is not None]
    checks["malformed_zero_rows"] = all(
        parse_frame(MALFORMED_FRAMES[m]) == [] for m in bad)
    want, accepted, wm = reference_bars(recs, batches)
    got = lake_bars(run.spark, lake)
    checks["bars_match_reference"] = (
        len(got) == len(want)
        and got[["symbol", "bucket"]].equals(want[["symbol", "bucket"]])
        and all(np.array_equal(got[c].to_numpy(), want[c].to_numpy())
                for c in ("open", "high", "low", "close", "volume",
                          "trades")))
    checks["watermarks_match"] = [b.watermark_ms for b in batches] == wm
    very_late = recs["kind"] == 2
    checks["very_late_dropped"] = bool((~accepted[very_late]).all())
    if res.get("fresh") is not None:
        checks["every_window_frame_committed"] = \
            len(res["fresh"]) == res["expected_fresh"]
    failed += sum(1 for ok in checks.values() if not ok)
    return {"failed": failed, "rows_in": rows_in, "records": len(recs),
            "n_malformed": len(bad), "n_very_late": int(very_late.sum()),
            "n_out_of_order": int((recs["kind"] == 1).sum()),
            "n_bars": len(want)}


def _decode_kernel(run: FeedRun, res: dict, pairs: int) -> dict:
    """The decode layer on its own, over the run's first frames: one
    single-threaded ``parse_frame`` pass and one ``decode_messages`` job."""
    from gen import encode_frame, frame_spec
    from dexscraper_spark.sources.decode import decode_messages, parse_frame

    n = min(res["n_frames"], 1000)
    payloads = [encode_frame(frame_spec(run.seed, k, pairs, RATE))
                for k in range(n)]
    with run.tracer.span("decode.parse_frame", "decode"):
        t = time.perf_counter()
        for p in payloads:
            parse_frame(p)
        parse_us = (time.perf_counter() - t) * 1e6 / n
    raw = run.spark.createDataFrame(list(enumerate(payloads)),
                                    "msg_id long, payload binary")
    raw.count()
    with run.tracer.span("decode.decode_messages", "decode"):
        t = time.perf_counter()
        decode_messages(raw).count()
        dm_s = time.perf_counter() - t
    return {"parse_frame_us": parse_us, "frames_per_s": n / dm_s}


def summarize(res: dict, live: bool) -> tuple[dict, dict, list[str]]:
    """(end-to-end metrics, per-layer metrics, report lines)."""
    lines = []
    e2e = {"setup_s": (res["setup_s"], "s"),
           "throughput_per_s": (res["frames_per_s"], "1/s")}
    lines.append(f"feed_frames_per_s = {res['frames_per_s']:.3f} 1/s")
    if live:
        vals = list(res["fresh"].values())
        tail = LIVE_TAIL_P
        p50, pt = percentile(vals, 50), percentile(vals, tail)
        e2e["latency_p50_ms"] = (p50, "ms")
        e2e["latency_tail_ms"] = (pt, "ms")
        lines.append(f"feed_freshness_p50_ms = {p50:.3f} ms (n={len(vals)})")
        lines.append(f"feed_freshness_p{tail:g}_ms = {pt:.3f} ms "
                     f"(n={len(vals)}; limit 5000 ms)")
    else:
        e2e["latency_p50_ms"] = (median(res["drain_s"]) * 1e3, "ms")
        lines.append(f"backlog drains: {len(res['drain_s'])} x "
                     f"{BACKFILL_CHUNK} frames, median "
                     f"{median(res['drain_s']) * 1e3:.1f} ms")
    win = res["window_batches"] or res["batches"]
    dur = [b.duration for b in win]

    def med(key):
        vals = [d.get(key, 0) for d in dur]
        return float(median(vals)) if vals else 0.0

    layer = {
        "ingest.latest_offset_ms": med("latestOffset"),
        "ingest.rows_in": float(sum(b.rows for b in win)),
        "stream.planning_ms": med("queryPlanning"),
        "stream.commit_ms": float(median(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0)
             for d in dur])) if dur else 0.0,
        "stream.state_commit_ms": float(median(
            [b.state.get("commitTimeMs", 0) for b in win])) if win else 0.0,
        "stream.add_batch_ms": med("addBatch"),
        "stream.batch_ms": med("triggerExecution"),
        "stream.batches": float(len(res["batches"])),
        "stream.late_rows_dropped": float(sum(
            b.state.get("numRowsDroppedByWatermark", 0)
            for b in res["batches"])),
        "stream.state_rows": float(max(
            (b.state.get("numRowsTotal", 0) for b in res["batches"]),
            default=0)),
        "stream.state_bytes": float(max(
            (b.state.get("memoryUsedBytes", 0) for b in res["batches"]),
            default=0)),
        "sink.write_ms": float(median(
            [(b.sink[1] - b.sink[0]) * 1e3 for b in win if b.sink]))
        if any(b.sink for b in win) else 0.0,
    }
    parts = sum(layer[k] for k in ("ingest.latest_offset_ms",
                                   "stream.planning_ms", "stream.commit_ms",
                                   "stream.add_batch_ms")) + med("getBatch")
    layer["stream.unaccounted_ms"] = layer["stream.batch_ms"] - parts
    if live:
        rate_head = [min(res["k_start"] + int((b.sink[1] - res["t_start"])
                                              * RATE) + 1, res["n_frames"])
                     for b in win]
        layer["ingest.backlog_frames"] = float(max(
            h - sum(b.end) for h, b in zip(rate_head, win)))
        late = res["gen_late_ms"]
        layer["gen.late_ms"] = float(percentile(
            late, tail_percentile(len(late)) or 50)) if late else 0.0
    else:
        layer["ingest.backlog_frames"] = float(BACKFILL_CHUNK)
        layer["gen.late_ms"] = 0.0
    return e2e, layer, lines
