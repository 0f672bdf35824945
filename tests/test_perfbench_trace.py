"""perfbench's traced run patches package functions by name: every target
it names must exist, and undoing the patch must restore the originals."""

from __future__ import annotations

from contextlib import contextmanager

from perfbench import trace
from ts2g2_spark import catalog
from ts2g2_spark.plans import chunks, pipeline, rollup
from ts2g2_spark.streaming import ingest


class _StubTracer:
    def __init__(self):
        self.spans = []

    @contextmanager
    def span(self, name, layer, **attrs):
        self.spans.append((name, layer))
        yield {}


def test_trace_instrument_targets_exist_and_undo_restores(tmp_path):
    owners = (catalog.Catalog, pipeline, chunks, rollup, ingest)
    before = [dict(vars(o)) for o in owners]
    tracer = _StubTracer()
    undo = trace.instrument(tracer)  # KeyError if a target is missing
    try:
        patched = {}
        for o, b in zip(owners, before):
            for k, v in vars(o).items():
                if b.get(k) is not v:
                    assert k in b, (o, k)
                    assert v.__wrapped__ is b[k], (o, k)
                    patched.setdefault(o.__name__, set()).add(k)
        assert {"write", "read", "commit", "committed"} \
            <= patched["Catalog"]
        assert {"partition_metrics", "salted_repartition"} \
            <= patched[pipeline.__name__]
        assert "read_tier_snapshot" in patched[ingest.__name__]
        pipeline.partition_metrics(str(tmp_path), "r", "s", "fp", 0.0)
        assert tracer.spans == [("lineage.partition_metrics",
                                 "plans.lineage")]
    finally:
        undo()
    assert [dict(vars(o)) for o in owners] == before
