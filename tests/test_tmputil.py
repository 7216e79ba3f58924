"""Scratch-directory placement."""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pytest

from sql_data_warehouse_spark import tmputil


@pytest.mark.skipif(
    not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)),
    reason="needs a writable /dev/shm")
def test_ephemeral_dir_leaves_shm_below_free_space_floor(monkeypatch):
    def free(n_bytes):
        return lambda path: SimpleNamespace(f_bavail=n_bytes // 4096, f_frsize=4096)

    monkeypatch.setattr(os, "statvfs", free(tmputil.SHM_MIN_FREE_BYTES - 4096))
    low = tmputil.ephemeral_dir("shm_floor_low_")
    monkeypatch.setattr(os, "statvfs", free(tmputil.SHM_MIN_FREE_BYTES))
    roomy = tmputil.ephemeral_dir("shm_floor_ok_")
    try:
        assert not low.startswith("/dev/shm/") and os.path.isdir(low)
        assert roomy.startswith("/dev/shm/")
    finally:
        shutil.rmtree(low, ignore_errors=True)
        shutil.rmtree(roomy, ignore_errors=True)
