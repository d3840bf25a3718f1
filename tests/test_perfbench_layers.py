"""The traced benchmark (`perfbench/run.py --trace 1`) wraps a fixed list
of package functions and methods by name; a rename or removal in the
package makes the traced run fail with AttributeError. Checked here
without a Spark session."""

from __future__ import annotations

from perfbench import layers


class _CaptureRecorder:
    def __init__(self) -> None:
        self.targets: dict[str, tuple[object, str]] = {}
        self.on_result: dict = {}

    def install(self, targets, on_result=None) -> None:
        self.targets = dict(targets)
        self.on_result = dict(on_result or {})


class _Run:
    def __init__(self) -> None:
        self.recorder = _CaptureRecorder()


def test_every_wrapped_name_exists():
    run = _Run()
    layers.install(run)
    targets = run.recorder.targets
    # the names the pipeline and catalog spans hang on
    for name in (
        "pipeline.wkb_point",
        "pipeline.finalize_geo_metadata",
        "pipeline.write_partitioned",
        "catalog.append_batch_partitions",
        "catalog.total_records",
        "catalog.recent_records",
        "catalog.latest_file",
        "catalog.check_not_empty",
        "catalog.read_snapshot",
    ):
        assert name in targets, name
    missing = [
        f"{name} -> {getattr(owner, '__name__', owner)}.{attr}"
        for name, (owner, attr) in targets.items()
        if not callable(getattr(owner, attr, None))
    ]
    assert not missing, missing
    # every span that reports a result attribute is a wrapped target
    assert set(run.recorder.on_result) <= set(targets)
