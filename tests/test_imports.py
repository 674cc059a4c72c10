"""Every package module imports, and every name its ``__all__`` exports
exists — so a deleted def that another module (``demo.py`` included)
still imports fails here, not at the first run that reaches it."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import iot_sensor_data_pipeline_spark as pkg

MODULES = sorted(
    m.name for m in pkgutil.walk_packages(pkg.__path__, prefix=f"{pkg.__name__}.")
)


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    module = importlib.import_module(name)
    missing = [n for n in getattr(module, "__all__", ()) if not hasattr(module, n)]
    assert not missing, f"{name}.__all__ names missing defs: {missing}"
