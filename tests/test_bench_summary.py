"""bench.emit's summary gate: only a full run at the machine's full core
width rewrites bench_summary.json, and a skipped write says why on
stderr. The module's ``__file__`` is pointed at a tmp dir so no run of
this test can touch the committed summary."""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture
def bench(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    return mod


def _emit(bench, **kw):
    bench.emit({"q": 1.0}, {}, "/data/sf0.1", full_run=True, **kw)


def test_no_summary_skip_is_reported(bench, tmp_path, capsys):
    _emit(bench, no_summary=True)
    err = capsys.readouterr().err
    assert "bench_summary.json not written (--no-summary)" in err
    assert not (tmp_path / "bench_summary.json").exists()


def test_non_default_cores_skip_is_reported(bench, tmp_path, capsys, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str((os.cpu_count() or 1) + 1))
    _emit(bench)
    err = capsys.readouterr().err
    assert "bench_summary.json not written (SPARK_GRAFT_CPUS=" in err
    assert not (tmp_path / "bench_summary.json").exists()


def test_full_width_run_writes_summary_silently(bench, tmp_path, capsys):
    _emit(bench)
    assert "not written" not in capsys.readouterr().err
    assert (tmp_path / "bench_summary.json").exists()
