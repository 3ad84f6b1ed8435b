"""Session helpers that need no Spark: ensure_protobuf, the
vendored-copy fallback that unblocks transformWithStateInPandas in
trimmed environments (pure sys.path / environ behavior), and the
machine-sized driver-heap default."""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sales_etl_spark import session as S  # noqa: E402


def test_ensure_protobuf_reports_availability_and_is_idempotent():
    """Whatever the box has, the probe returns a bool and a second
    call agrees (no flapping, no exception)."""
    first = S.ensure_protobuf()
    second = S.ensure_protobuf()
    assert first == second
    assert isinstance(first, bool)
    if first:
        import google.protobuf  # noqa: F401


def test_ensure_protobuf_fallback_exports_worker_pythonpath(monkeypatch):
    """When the import is satisfied from a fallback directory, that
    directory must land on PYTHONPATH (late-spawned Python workers
    inherit the JVM environment, not driver sys.path) and the
    protobuf version-policy escape hatch must be set."""
    hits = [p for p in S._PROTOBUF_FALLBACKS
            if p and Path(p, "google", "protobuf", "__init__.py").exists()]
    try:
        import google.protobuf  # noqa: F401

        properly_installed = "google" in sys.modules and not any(
            sys.modules["google"].__path__[0].startswith(h) for h in hits
        )
    except ImportError:
        properly_installed = False
    if properly_installed or not hits:
        import pytest

        pytest.skip("no fallback copy in play on this box")
    assert S.ensure_protobuf() is True
    pythonpath = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    assert any(h in pythonpath for h in hits)
    assert (
        os.environ.get("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK")
        == "true"
    )


def test_driver_heap_default_is_sized_from_physical_memory():
    gib = 2**30
    # half of physical memory, whole GiB
    assert S._driver_mem(15 * gib) == "7g"
    assert S._driver_mem(32 * gib) == "16g"
    # bounded: never below 1g, never above the 24g sweep size
    assert S._driver_mem(1 * gib) == "1g"
    assert S._driver_mem(128 * gib) == "24g"
    # unknown memory: Spark's own default
    assert S._driver_mem(None) == "1g"
    # this machine's default fits in its memory
    phys = S._physical_memory_bytes()
    if phys:
        assert int(S._driver_mem(phys)[:-1]) * gib <= phys
