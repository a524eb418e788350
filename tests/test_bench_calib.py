"""bench.py calibration leaves no scratch directory behind, even when a
calibration job fails."""

from __future__ import annotations

import tempfile

import pytest

import bench


class _FailingSpark:
    def range(self, *args, **kwargs):
        raise RuntimeError("calibration job failed")


def test_failed_calibration_removes_io_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with pytest.raises(RuntimeError):
        bench._calibrate(_FailingSpark(), reps=1)
    assert list(tmp_path.iterdir()) == []
