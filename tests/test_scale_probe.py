"""``scripts/scale_probe.py``: every family's jobs run once on a tiny
synthesized input, so a change that breaks a probe fails here instead
of on the next scaling run."""

import importlib.util
import os
import tempfile

import pytest

_spec = importlib.util.spec_from_file_location(
    "scale_probe", os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_probe.py"))
probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(probe)


@pytest.mark.parametrize("family", sorted(probe.FAMILIES))
def test_family_jobs_run_on_a_tiny_input(spark, family, tmp_path, monkeypatch):
    monkeypatch.setattr(probe, "DATA_DIR", str(tmp_path / "data"))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    fam = probe.FAMILIES[family]
    data = fam.synth(spark, 100)
    try:
        jobs = fam.jobs(spark, data)
        assert jobs
        for job in jobs.values():
            job()
            fam.reset(spark, data)
    finally:
        spark.catalog.clearCache()


def test_efficiency_pairs_each_level_with_four_times_its_cpus():
    def level(**rows_per_sec):
        return {"timings": {job: {"rows_per_sec": r}
                            for job, r in rows_per_sec.items()}}

    levels = {"1": level(a=100, b=50), "2": level(a=150),
              "4": level(a=300), "16": level(a=1200)}
    assert probe.efficiency(levels) == {"1_to_4": {"a": 0.75},
                                        "4_to_16": {"a": 1.0}}
