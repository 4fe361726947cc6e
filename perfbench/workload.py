"""What every workload provides, and what one measured pass returns."""

from __future__ import annotations

import dataclasses

from perfbench import metrics


@dataclasses.dataclass
class Pass:
    """One unit of measured work: one open-loop schedule or one pass over
    the headline queries."""

    seconds: float  # wall time of the pass; open loop: first due time to last commit
    records: int  # input records the pass committed
    latencies_ms: list[float]  # per input item, from its due time
    units_ms: list[float] = dataclasses.field(default_factory=list)  # micro-batches or queries
    planning_ms: list[float] = dataclasses.field(default_factory=list)
    group: str = ""  # Spark job group of the pass
    layers: dict = dataclasses.field(default_factory=dict)
    lag_ms: list[float] = dataclasses.field(default_factory=list)  # open-loop generator lateness


class Workload:
    name: str
    #: passes a run measures at the least, however long they take
    min_passes = 1

    def prepare(self, seed: int, run_dir: str, cache_dir: str) -> None:
        """Generate (or fetch from the cache) this run's inputs."""
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """One unmeasured pass; its time is part of ``setup_s``."""
        raise NotImplementedError

    def run_pass(self, spark, i: int, trace: bool, seconds: float) -> Pass:
        raise NotImplementedError

    def reduce(self, passes: list[Pass]) -> list[Pass]:
        """The passes the end-to-end metrics are computed from."""
        return passes

    def check(self, tally: metrics.Tally) -> None:
        """Verify the outputs of every measured pass into ``tally``."""
        raise NotImplementedError

    def trace_probes(self, spark, tally: metrics.Tally) -> dict:
        """Extra per-layer figures a traced run measures after the passes;
        a probe that checks its outputs counts them into ``tally``."""
        return {}
