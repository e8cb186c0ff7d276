from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture
def data_root(tmp_path, monkeypatch):
    """Point the seeded-input cache at a fresh directory."""
    from perfbench import gen

    monkeypatch.setattr(gen, "DATA_ROOT", str(tmp_path / "data"))
    return tmp_path / "data"
