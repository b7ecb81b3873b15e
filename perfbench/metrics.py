"""Summary statistics and the benchmark's one-line JSON result."""

from __future__ import annotations

import math
import os

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """Nearest-rank ``q`` percentile, or ``None`` when fewer than
    ``min_beyond`` samples lie above it (too few to say anything about
    that tail)."""
    if not values:
        return None
    s = sorted(values)
    idx = max(0, math.ceil(q * len(s)) - 1)
    if len(s) - (idx + 1) < min_beyond:
        return None
    return s[idx]


def result_line(spec: dict, trace: bool, values: dict, attempted: int, failed: int, correct: bool) -> dict:
    """The result object: every ``end_to_end`` metric of ``spec`` (or
    every ``per_layer`` one when ``trace``), each with its unit."""
    section = spec["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in section:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            raise ValueError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}


def _parents() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_hwm_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over ``root`` and all its live
    descendants, in MB."""
    kids = _parents()
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0
