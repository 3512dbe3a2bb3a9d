"""Import leaf modules of the read-only reference repo as differential
oracles WITHOUT copying any code and without triggering its package
``__init__`` (which imports unavailable deps like ``openai``).

We register stub package objects with the right ``__path__`` so Python
resolves ``pipeline.<sub>.<leaf>`` straight from /root/reference while the
relative imports inside the leaves still work.

Load the reference only inside a fixture or test that first calls
``require_reference()``: a module-level load is an import error wherever
the checkout is absent, and it takes every test in that module with it.
"""

from __future__ import annotations

import importlib
import os
import sys
import types

import pytest

REF_ROOT = "/root/reference"

_SUBPKGS = [
    "pipeline",
    "pipeline.data",
    "pipeline.parsing",
    "pipeline.evaluation",
    "pipeline.evaluation.matchers",
    "pipeline.llm_prompter",
    "pipeline.setup",  # not real; harmless
]


def _ensure_stub_packages() -> None:
    if "pipeline" in sys.modules and getattr(sys.modules["pipeline"], "__ref_stub__", False):
        return
    for name in _SUBPKGS:
        rel = name.replace(".", "/")
        mod = types.ModuleType(name)
        mod.__path__ = [f"{REF_ROOT}/{rel}"]
        mod.__ref_stub__ = True
        sys.modules[name] = mod
    if REF_ROOT not in sys.path:
        sys.path.insert(0, REF_ROOT)


def reference_present() -> bool:
    return os.path.isdir(REF_ROOT)


def require_reference() -> None:
    """Skip the requesting test when the reference checkout is absent."""
    if not reference_present():
        pytest.skip(f"reference checkout {REF_ROOT} is absent")


def ref_module(name: str):
    """e.g. ref_module('pipeline.parsing.parser')."""
    _ensure_stub_packages()
    return importlib.import_module(name)


def ref_setup_module(filename: str):
    """Load a setup_scripts/*.py file (flat module, no package)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        f"ref_{filename[:-3]}", f"{REF_ROOT}/setup_scripts/{filename}"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
