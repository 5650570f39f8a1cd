"""Summary statistics and the operation loop shared by the benchmark's
measured process and its self-test. No Spark here."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field
from typing import Callable


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(values: list[float]) -> tuple[int | None, float | None, int]:
    """The highest whole percentile p that has at least ten samples
    beyond it, its value (nearest rank), and the sample count. With fewer
    than eleven samples no percentile qualifies and (None, None, n) comes
    back: a p99 claimed from 20 samples would be one sample's luck."""
    n = len(values)
    ordered = sorted(values)
    for p in range(99, 0, -1):
        rank = -(-p * n // 100)  # ceil(p*n/100), the nearest-rank index
        if rank >= 1 and n - rank >= 10:
            return p, ordered[rank - 1], n
    return None, None, n


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of that
    interval covered by its direct children (overlapping children are
    counted once). Spans are dicts with ``id``, ``parent``, ``start`` and
    ``end`` in seconds."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


@dataclass
class OpLoop:
    """Closed loop with one client: each operation starts after the
    previous one returned. The output check runs after the clock stops; a
    raised error or a failed check counts the operation as failed and its
    time is not a sample. Operation 0 gives ``first_s``; the next
    ``warmup`` operations are still on the JVM's warm-up ramp and go to
    ``ramp_s``; every later one is a sample in ``warm_s``."""

    warmup: int = 0
    first_s: float | None = None
    ramp_s: list[float] = field(default_factory=list)
    warm_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def run(self, op: Callable[[], object], check: Callable[[object], list[str]]) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = op()
        except Exception as exc:  # noqa: BLE001 — a failed operation is a result
            self.failed += 1
            self.problems.append(f"op {self.attempted - 1}: {type(exc).__name__}: {exc}"[:500])
            return None
        secs = time.perf_counter() - t0
        bad = check(out)
        if bad:
            self.failed += 1
            self.problems.extend(f"op {self.attempted - 1}: {p}" for p in bad[:5])
            return None
        if self.attempted == 1:
            self.first_s = secs
        elif self.attempted <= 1 + self.warmup:
            self.ramp_s.append(secs)
        else:
            self.warm_s.append(secs)
        return secs
