from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from bensp_suite_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bensp-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def python_kernel(monkeypatch):
    """Force the dedup pipeline onto its Python kernel — the one sessions
    without bensp-kernels.jar run — by patching its one kernel choice."""
    from bensp_suite_spark.dedup import pipeline

    monkeypatch.setattr(pipeline, "_jvm_kernel", lambda spark: False)
