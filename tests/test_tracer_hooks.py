"""The benchmark tracer (perfbench/tracing.py) wraps program entry
points by module attribute name. A renamed or deleted attribute would
only surface as a crash of a traced benchmark run; this resolves every
hook the tracer installs, without wrapping anything."""

from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def test_every_traced_attribute_exists(spark, monkeypatch):
    monkeypatch.syspath_prepend(str(PERFBENCH))
    from tracing import Tracer

    hooks = []

    def record(self, owner, attr, *args, **kw):
        getattr(owner, attr)  # AttributeError names the missing hook
        hooks.append((owner.__name__, attr))

    monkeypatch.setattr(Tracer, "wrap", record)
    Tracer(spark, 4).install()
    assert ("acxspark.operators.bloom", "merge_blooms") in hooks
    assert ("acxspark.plans.incremental", "run_incremental") in hooks
