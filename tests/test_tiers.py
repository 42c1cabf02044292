"""The opt-in ``slow`` tier is a registry of node ids in
``conftest.SLOW_TESTS``; a renamed test silently drifts back into the
default tier unless every entry names a test that exists."""

from __future__ import annotations

import importlib
import os

from conftest import SLOW_TESTS


def test_slow_tier_registry_names_existing_tests():
    missing = []
    for nodeid in sorted(SLOW_TESTS):
        path, name = nodeid.split("::")
        module = importlib.import_module(
            os.path.splitext(os.path.basename(path))[0]
        )
        if not callable(getattr(module, name.split("[", 1)[0], None)):
            missing.append(nodeid)
    assert not missing, missing
