"""What the workload modules share: the request type, the op schedule and
the timed plan/collect split of one op."""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass

import gen


@dataclass(frozen=True)
class Op:
    """One distinct request: ``key`` identifies it for the output checks."""

    kind: str
    key: str
    params: tuple


def op(kind: str, *params) -> Op:
    return Op(kind, f"{kind}:{params}", params)


def schedule(seed: int, requests: list[Op]):
    """Endless op stream: every request once per round, in one
    seed-shuffled order, so every round has the same mix."""
    order = [requests[i] for i in gen.rng(seed, "order").permutation(len(requests))]
    return itertools.cycle(order)


def warm_ops(requests: list[Op]) -> list[Op]:
    """The first request of every op kind: one per plan shape."""
    seen: set[str] = set()
    out = []
    for o in requests:
        if o.kind not in seen:
            seen.add(o.kind)
            out.append(o)
    return out


def timed(tr, i: int, plan, collect):
    """Run one op as plan (the API call that returns a DataFrame) then
    collect; returns (plan_s, exec_s, rows)."""
    t0 = time.perf_counter()
    with tr.span("engine.plan", i):
        df = plan()
    t1 = time.perf_counter()
    with tr.span("spark.exec", i):
        rows = collect(df)
    return t1 - t0, time.perf_counter() - t1, rows


def span_median_ms(spans, name: str) -> float:
    ds = sorted((s.end_s - s.start_s) * 1000.0 for s in spans if s.name == name)
    if not ds:
        return 0.0
    mid = len(ds) // 2
    return ds[mid] if len(ds) % 2 else (ds[mid - 1] + ds[mid]) / 2.0
