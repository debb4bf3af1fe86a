"""``bench.py --compare`` warns when two records were taken at
different (or unrecorded) core counts, and names the queries whose
steady-state codegen compiles rose from 0."""

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


def test_compare_lists_queries_whose_steady_state_compiles_rose_from_zero(
    tmp_path, capsys
):
    def rec(path, total, **classes):
        codegen = {
            q: {"first_run_classes": 10, "classes": n, "compile_ms": 7.0 * n}
            for q, n in classes.items()
        }
        return _record(path, codegen=codegen, codegen_first_run_total=total)

    prior = rec(tmp_path / "prior.json", 30, held=0, evicted=0, always=4)
    cur = rec(tmp_path / "cur.json", 31, held=0, evicted=6, always=9)

    bench.compare_runs(prior, cur)
    out = capsys.readouterr().out
    assert "codegen first-run classes: prior 30 -> current 31" in out
    # `always` compiled before too, so only `evicted` rose from 0.
    assert "steady-state compiles rose from 0 (1): evicted (+6)" in out

    bench.compare_runs(prior, prior)
    assert "rose from 0 (0): none" in capsys.readouterr().out

    legacy = _record(tmp_path / "legacy.json")
    bench.compare_runs(legacy, cur)
    assert "codegen" not in capsys.readouterr().out
