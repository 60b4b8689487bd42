"""Every script under tools/ imports cleanly. Each keeps its work behind
a `__main__` guard, so importing one runs nothing; a deletion that
strands an import in a tool fails here instead of at its next use."""

from __future__ import annotations

import glob
import importlib
import os
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

_TOOLS = sorted(os.path.splitext(os.path.basename(p))[0]
                for p in glob.glob(os.path.join(_ROOT, "tools", "*.py")))


def test_tools_are_found():
    assert "selfcheck" in _TOOLS


@pytest.mark.parametrize("name", _TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
