"""Every module under llmap_spark imports: a stale import of a deleted
module fails here in milliseconds instead of deep inside a Spark job."""

from __future__ import annotations

import importlib
import pkgutil

import llmap_spark


def test_every_module_imports():
    names = [m.name for m in pkgutil.walk_packages(
        llmap_spark.__path__, prefix="llmap_spark.")]
    assert "llmap_spark.plans.pipeline" in names
    for name in names:
        importlib.import_module(name)
