"""The interface every workload implements, and the op record."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Op:
    kind: str  # the op type, named after the handler or query it runs
    params: tuple  # arguments, all made from the seed
    want: object = None  # expected output, where the workload knows it
    reset: bool = False  # start again from the base state before this op
    shape: str = ""  # ops of one shape do the same work (default: kind)

    def __post_init__(self):
        self.shape = self.shape or self.kind


class Workload:
    """One closed-loop, single-client workload.

    ``ops`` is fixed by the seed, scale and seconds alone.
    ``setup_inputs`` makes the program's inputs, ``warmup_ops`` are the
    ops run once before timing, ``execute`` is the timed call, ``check``
    compares an output with the expected one (untimed)."""

    name = ""

    def __init__(self, seed: int, scale: str, seconds: int, tracer):
        self.seed, self.scale, self.seconds, self.tracer = seed, scale, seconds, tracer
        self.ops: list[Op] = []

    def setup_inputs(self, spark, data_dir: str) -> None:
        raise NotImplementedError

    def warmup_ops(self) -> list[Op]:
        raise NotImplementedError

    def execute(self, op: Op):
        raise NotImplementedError

    def check(self, op: Op, out) -> str | None:
        return None

    def verify_setup(self, inject_fault: bool) -> dict[str, str]:
        """Untimed checks made once after set-up; returns {op kind:
        problem}. Every timed op of a listed kind counts as failed."""
        return {}

    def annotate(self, rec: dict) -> None:
        """Add per-op measurements to the op's record (untimed)."""

    def corrupt(self, op: Op, out):
        """A wrong version of ``out``, for the fault-injection self-test."""
        return ("corrupted", out)

    def layer_metrics(self, recs: list[dict], tracer) -> dict[str, float]:
        return {}

    def details(self) -> dict:
        return {}
