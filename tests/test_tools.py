"""Repo tools resolve the checkout they live in, never a fixed path."""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_imports_its_own_checkout(tmp_path, monkeypatch):
    """A copy of tools/check.py (a parent or mutation checkout) must
    check that copy's engine: its REPO, and the sys.path head it
    imports __spark_entry__ from, are the copy's root."""
    (tmp_path / "tools").mkdir()
    dst = tmp_path / "tools" / "check.py"
    shutil.copy(os.path.join(REPO, "tools", "check.py"), dst)
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location("check_copy", dst)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.REPO == str(tmp_path)
    assert sys.path[0] == str(tmp_path)
