"""``bench.py --compare`` warns when two records were taken at
different (or unrecorded) core counts."""

from __future__ import annotations

import json

import bench


def _record(path, **cores):
    rec = {"canary_sec": 1.0, "queries": {"q": 2.0}, **cores}
    path.write_text(json.dumps(rec))
    return str(path)


def test_compare_warns_on_core_count_mismatch(tmp_path, capsys):
    four = {"spark_graft_cpus": 4, "cpus_available": 4}
    a = _record(tmp_path / "a.json", **four)
    b = _record(tmp_path / "b.json", **four)
    c = _record(tmp_path / "c.json", spark_graft_cpus=8, cpus_available=4)
    legacy = _record(tmp_path / "legacy.json")

    bench.compare_runs(a, b)
    assert "WARNING: core counts" not in capsys.readouterr().out

    bench.compare_runs(a, c)
    out = capsys.readouterr().out
    assert "WARNING: core counts differ" in out and "(8, 4)" in out

    bench.compare_runs(legacy, a)
    out = capsys.readouterr().out
    assert "WARNING: core counts differ or are missing" in out
    assert "(None, None)" in out
