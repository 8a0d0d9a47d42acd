"""What a workload hands back to the runner, and the closed loop
every workload runs."""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class Outcome:
    attempted: int = 0  # operations: pipeline passes or epochs
    failed: int = 0  # operations not applied correctly (wrong or missing)
    busy_s: float = 0.0  # timed work of a pass
    rates: list = field(default_factory=list)  # events per second, one per pass
    cpu_rates: list = field(default_factory=list)  # events per CPU second, one per pass
    untraced_op_s: list = field(default_factory=list)  # trace mode: op times before tracing
    traced_op_s: list = field(default_factory=list)  # trace mode: op times while traced
    traced_passes: int = 0  # how many passes the traced spans cover
    layers: dict = field(default_factory=dict)  # per-layer metrics measured outside spans
    info: dict = field(default_factory=dict)  # reported for humans, not scored

    def add(self, other: "Outcome") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.busy_s += other.busy_s
        self.rates += other.rates
        self.cpu_rates += other.cpu_rates
        for k, v in other.layers.items():
            self.layers[k] = self.layers.get(k, 0.0) + v


def closed_loop(seconds: float, one_pass, tracer=None, min_passes: int = 1,
                warm_passes: int = 0) -> Outcome:
    """One client issuing passes back to back until ``seconds`` elapse.

    ``one_pass(tracer)`` runs one pass — recording spans with ``tracer``
    around the calls it measures when that is not None — and returns
    ``(Outcome, check)`` with the outcome's ``busy_s`` set. ``check()``
    runs after it and returns whether the pass's output is correct; a wrong
    pass fails all its operations. ``warm_passes`` unscored passes come
    first (checked and counted all the same), so every scored pass runs on
    warm code. With a tracer, the first half of the window runs untraced
    and the second half traced; each half gets at least half of
    ``min_passes`` (rounded up), so a traced run takes about as long."""

    def run(tr) -> Outcome:
        o, check = one_pass(tr)
        if not check():
            o.failed = o.attempted
        return o

    warm = Outcome()
    for _ in range(warm_passes):
        warm.add(run(None))
    total = Outcome()
    halves = [(seconds / 2.0, False), (seconds / 2.0, True)] if tracer else [(seconds, False)]
    per_half = -(-min_passes // len(halves))
    for budget, traced in halves:
        t_end = time.perf_counter() + budget
        n = 0
        while n < per_half or time.perf_counter() < t_end:
            o = run(tracer if traced else None)
            total.add(o)
            if tracer is not None:
                (total.traced_op_s if traced else total.untraced_op_s).append(o.busy_s)
            if traced:
                total.traced_passes += 1
            n += 1
    total.attempted += warm.attempted
    total.failed += warm.failed
    return total
