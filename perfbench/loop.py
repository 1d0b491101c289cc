"""Closed-loop load generation and latency statistics.

Every client thread sends its next operation only after the previous one
returned. Operations and their outcomes are kept in memory and summarized
when the run ends.
"""

from __future__ import annotations

import random
import threading
import time

now = time.perf_counter


class Record:
    __slots__ = ("kind", "name", "wall_ms", "took_ms", "ok", "error")

    def __init__(self, kind, name, wall_ms, took_ms, ok, error):
        self.kind = kind
        self.name = name
        self.wall_ms = wall_ms
        self.took_ms = took_ms
        self.ok = ok
        self.error = error


class Recorder:
    def __init__(self):
        self.records: list[Record] = []
        self._mu = threading.Lock()

    def add(self, rec: Record) -> None:
        with self._mu:
            self.records.append(rec)

    def failures(self) -> list[Record]:
        return [r for r in self.records if not r.ok]


def run_passes(n_clients: int, items: list, rng: random.Random, seconds: float, do_op,
               min_passes: int = 1) -> float:
    """``n_clients`` threads share one deck: a seeded shuffle of ``items``,
    reshuffled after each pass. New passes start until ``seconds`` have
    elapsed and ``min_passes`` are done, so a run is always whole passes.
    Returns the wall time from the first dealt item to the last completion."""
    mu = threading.Lock()
    deck = {"order": rng.sample(items, len(items)), "pos": 0, "passes": 0}
    t0 = now()

    def deal():
        with mu:
            if deck["pos"] == len(deck["order"]):
                deck["passes"] += 1
                if deck["passes"] >= min_passes and now() - t0 >= seconds:
                    return None
                deck["order"] = rng.sample(items, len(items))
                deck["pos"] = 0
            deck["pos"] += 1
            return deck["order"][deck["pos"] - 1]

    def client():
        while (item := deal()) is not None:
            do_op(item)

    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return now() - t0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]
