"""Every kept script and example still imports: each file guards its
``main`` with ``if __name__ == "__main__"``, so loading it under another
module name runs only its imports and module-level constants. A file
that still imports a deleted module fails here."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
FILES = sorted(
    p.relative_to(ROOT).as_posix()
    for d in ("scripts", "examples")
    for p in (ROOT / d).glob("*.py")
)


@pytest.mark.parametrize("rel", FILES)
def test_file_imports(rel, monkeypatch):
    # the files prepend the repo root to sys.path; keep that local
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = "_import_check_" + Path(rel).stem
    spec = importlib.util.spec_from_file_location(name, ROOT / rel)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None))
