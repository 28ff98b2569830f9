"""Layer spans around calls into the engine, taken from outside it.

``LayerTracer`` swaps three engine functions for wrappers while a
traced pass runs and puts them back afterwards; the engine's code is
not changed. Each wrapper opens a span and sets ``spark.job.description``
to the layer's name, so the event log attributes every Spark job to
the layer that ran it. Spans are contiguous: a span ends where the
next one starts, so their durations add up to the pass wall time; how
much of that time Spark jobs actually ran is read from the event log.

Because Spark plans lazily, a layer's work would otherwise run inside
whichever later call first needs its output. The wrappers therefore
materialise each layer's output (``localCheckpoint``) before handing it
on: the candidate pairs at the end of LSH, and the verified edges
before connected components. That extra work is part of the tracing
overhead the traced run reports.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

SIGNATURES = "operators.signatures"
LSH = "operators.lsh"
VERIFY = "operators.dedup.verify"
CC = "operators.connected_components"
OUTPUT = "output.write"
PASS_LAYERS = (SIGNATURES, LSH, VERIFY, CC, OUTPUT)


class LayerTracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[list] = []  # [name, start, end]
        self.captured: dict = {}
        self.cc_stats: list[dict] = []

    def enter(self, name: str | None) -> None:
        now = time.perf_counter()
        if self.spans and self.spans[-1][2] is None:
            self.spans[-1][2] = now
        if name is not None:
            self.spans.append([name, now, None])
        self.sc.setJobDescription(name)

    def busy_s(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, t0, t1 in self.spans:
            out[name] = out.get(name, 0.0) + (t1 - t0)
        return out

    @contextmanager
    def installed(self):
        """Wrap the flagship pipeline's layer entry points for the
        duration of the block. Connected components is wrapped on top
        of ``cc_stats_capture``, whose stats land in ``cc_stats``."""
        from datasketches_rust_spark.operators import dedup, lsh, signatures

        real_sigs = signatures.signatures_direct
        real_pairs = lsh.multi_family_candidate_pairs
        tracer = self

        def signatures_direct(*args, **kwargs):
            tracer.enter(SIGNATURES)
            return real_sigs(*args, **kwargs)

        def multi_family_candidate_pairs(banded, *args, **kwargs):
            tracer.enter(LSH)
            tracer.captured["banded"] = banded
            pairs = real_pairs(banded, *args, **kwargs).localCheckpoint(eager=True)
            tracer.captured["pairs"] = pairs
            tracer.enter(VERIFY)
            return pairs

        with cc_stats_capture(self.cc_stats):
            capturing_cc = dedup.connected_components

            def connected_components(edges, *args, **kwargs):
                edges = edges.localCheckpoint(eager=True)
                tracer.captured["edges"] = edges
                tracer.enter(CC)
                out = capturing_cc(edges, *args, **kwargs)
                tracer.enter(OUTPUT)
                return out

            signatures.signatures_direct = signatures_direct
            lsh.multi_family_candidate_pairs = multi_family_candidate_pairs
            dedup.connected_components = connected_components
            try:
                yield self
            finally:
                signatures.signatures_direct = real_sigs
                lsh.multi_family_candidate_pairs = real_pairs
                dedup.connected_components = capturing_cc
                self.enter(None)


@contextmanager
def cc_stats_capture(sink: list):
    """Record the ``stats`` of every connected-components call the
    engine makes inside the block (path, rounds) without changing the
    plan."""
    from datasketches_rust_spark.operators import dedup

    real_cc = dedup.connected_components

    def connected_components(edges, *args, stats=None, **kwargs):
        stats = {} if stats is None else stats
        sink.append(stats)
        return real_cc(edges, *args, stats=stats, **kwargs)

    dedup.connected_components = connected_components
    try:
        yield sink
    finally:
        dedup.connected_components = real_cc
