"""Seeded load generator for the feed workloads.

Run as its own process (``python3 perfbench/gen.py --seed N ...``). It
hosts the frame shards (``FrameSocketServer``) the engine's fleet reader
subscribes to and grows their history on an open-loop schedule that does
not slow down when the engine does. Control is one JSON line per command
on stdin, one JSON line per reply on stdout:

  {"cmd": "prefill", "n": K}  append the next K frames at once (a backlog)
  {"cmd": "run"}              start appending the next frames at --rate/s
  {"cmd": "head"}             {"head": [len(shard0), len(shard1), ...]}
  {"cmd": "stop"}             stop the schedule; reply with its timing
  {"cmd": "exit"}             close the shards and exit

Frame contents are a pure function of ``(seed, frame index)`` (see
``frame_spec``), so the benchmark recomputes every record it expects
without any channel back from this process. Frame ``k`` goes to shard
``k % n_shards`` at sequence number ``k // n_shards``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

import numpy as np

N_SYMBOLS = 2000
ZIPF_S = 1.1
MALFORMED_P = 0.01
OUT_OF_ORDER_P = 0.05
VERY_LATE_P = 0.005
# event clock: T0 plus EVENT_SPEED event-seconds per wall second of the
# offered schedule, so m5 windows close (and their state is evicted) every
# few wall seconds of a run
T0 = 1_767_225_600            # 2026-01-01T00:00:00Z
EVENT_SPEED = 60.0
OUT_OF_ORDER_MAX_S = 120      # far inside the 10-minute watermark
VERY_LATE_MIN_S = 6 * 3600    # far beyond it, even two batches back
VERY_LATE_MAX_S = 7 * 3600
# frames below this index never carry very-late events: Spark drops a late
# row by the watermark of the batch before the one that reads it, so late
# rows are dropped from the third micro-batch on, and the warm-up frames
# cover the first two
WARM_FRAMES = 200

_CHAINS = ["solana", "base", "ethereum", "bsc"]
_PROTOCOLS = ["pumpfun", "raydium", "orca", "meteora"]
_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, N_SYMBOLS + 1) ** ZIPF_S)
_ZIPF_CDF /= _ZIPF_CDF[-1]


def symbol(rank: int) -> str:
    return f"S{rank:04d}"


@dataclass
class FrameSpec:
    """What frame ``k`` carries. ``malformed`` frames carry no records."""
    index: int
    malformed: str | None
    ranks: np.ndarray       # symbol rank per record
    event_ts: np.ndarray    # epoch seconds per record
    kind: np.ndarray        # 0 on time, 1 out of order, 2 very late
    price: np.ndarray
    volume: np.ndarray
    liquidity: np.ndarray


def clock(k: int, rate: float) -> int:
    """Event time of frame ``k`` at offered rate ``rate`` frames/s."""
    return T0 + int(k * EVENT_SPEED / rate)


def frame_spec(seed: int, k: int, pairs: int, rate: float) -> FrameSpec:
    from dexscraper_spark.sources.binary import MALFORMED_FRAMES
    rng = np.random.default_rng([seed, k])
    malformed = None
    if rng.random() < MALFORMED_P:
        names = sorted(MALFORMED_FRAMES)
        malformed = names[int(rng.integers(0, len(names)))]
    ranks = np.searchsorted(_ZIPF_CDF, rng.random(pairs)) + 1
    u = rng.random(pairs)
    kind = np.where(u < OUT_OF_ORDER_P, 1, 0)
    if k >= WARM_FRAMES:
        kind = np.where(u > 1.0 - VERY_LATE_P, 2, kind)
    lag = np.where(kind == 1, rng.integers(1, OUT_OF_ORDER_MAX_S + 1, pairs),
                   0)
    lag = np.where(kind == 2, rng.integers(VERY_LATE_MIN_S,
                                           VERY_LATE_MAX_S + 1, pairs), lag)
    base = 1e-4 * (1.0 + (ranks % 97) / 10.0)
    price = np.round(base * (1.0 + rng.normal(0.0, 0.01, pairs)), 12)
    volume = np.round(rng.uniform(1e5, 1e7, pairs), 2)
    liquidity = np.round(rng.uniform(1e4, 1e6, pairs), 2)
    return FrameSpec(k, malformed, ranks, clock(k, rate) - lag, kind,
                     price, volume, liquidity)


def frame_pairs(spec: FrameSpec) -> list[dict]:
    """The pair records of ``spec``, as ``sources.binary.make_frame``
    takes them."""
    out = []
    for i, rank in enumerate(spec.ranks.tolist()):
        sym = symbol(rank)
        out.append({
            "chain": _CHAINS[rank % 4], "protocol": _PROTOCOLS[rank % 4],
            "pair_address": f"PAIR{sym}" + "x" * 30,
            "base_token_name": f"Token {sym}", "base_token_symbol": sym,
            "base_token_address": f"MINT{sym}" + "y" * 30,
            "price": float(spec.price[i]), "price_usd": float(spec.price[i]),
            "price_change_h24": 1.5,
            "liquidity_usd": float(spec.liquidity[i]),
            "volume_h24": float(spec.volume[i]), "fdv": 5e6,
            "created_at": float(spec.event_ts[i])})
    return out


def encode_frame(spec: FrameSpec) -> bytes:
    """The wire bytes of ``spec``, from the engine's own encoder."""
    from dexscraper_spark.sources.binary import MALFORMED_FRAMES, make_frame
    if spec.malformed is not None:
        return MALFORMED_FRAMES[spec.malformed]
    return make_frame(frame_pairs(spec))


class Generator:
    """The shards and the open-loop schedule of one run."""

    def __init__(self, seed: int, pairs: int, rate: float, n_shards: int):
        from dexscraper_spark.sources.socket_source import FrameSocketServer
        self.seed, self.pairs, self.rate = seed, pairs, rate
        self.servers = [FrameSocketServer([]).start()
                        for _ in range(n_shards)]
        self.next = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.t_start = 0.0
        self.k_start = 0
        self.late_ms: list[float] = []

    def _append(self, k: int) -> None:
        payload = encode_frame(frame_spec(self.seed, k, self.pairs,
                                          self.rate))
        self.servers[k % len(self.servers)].append(payload)

    def prefill(self, n: int) -> None:
        with self._lock:
            for k in range(self.next, self.next + n):
                self._append(k)
            self.next += n

    def run(self) -> None:
        self.k_start = self.next
        self.t_start = time.time()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        # frame k is due at t_start + (k - k_start) / rate; encode it
        # ahead of time, sleep until due, append. Lateness is measured
        # against the due time, so a stalled schedule shows.
        while not self._stop.is_set():
            k = self.next
            payload = encode_frame(frame_spec(self.seed, k, self.pairs,
                                              self.rate))
            due = self.t_start + (k - self.k_start) / self.rate
            wait = due - time.time()
            if wait > 0 and self._stop.wait(wait):
                return
            with self._lock:
                self.servers[k % len(self.servers)].append(payload)
                self.next = k + 1
            self.late_ms.append((time.time() - due) * 1e3)

    def stop(self) -> dict:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        return {"t_start": self.t_start, "k_start": self.k_start,
                "next": self.next, "late_ms": self.late_ms}

    def head(self) -> list[int]:
        return [len(s.payloads) for s in self.servers]

    def close(self) -> None:
        for s in self.servers:
            s.kill()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--shards", type=int, default=2)
    ap.add_argument("--root", required=True,
                    help="checkout root holding the dexscraper_spark package")
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    gen = Generator(args.seed, args.pairs, args.rate, args.shards)

    def reply(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    reply({"ports": [s.port for s in gen.servers], "pid": os.getpid()})
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            op = cmd["cmd"]
            if op == "prefill":
                gen.prefill(int(cmd["n"]))
                reply({"head": gen.head()})
            elif op == "run":
                gen.run()
                reply({"t_start": gen.t_start, "k_start": gen.k_start})
            elif op == "head":
                reply({"head": gen.head(), "t": time.time()})
            elif op == "stop":
                reply(gen.stop())
            elif op == "exit":
                break
    finally:
        gen.stop()
        gen.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
