from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def work(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("perfbench"))
    os.makedirs(os.path.join(path, "tmp"), exist_ok=True)
    return path


@pytest.fixture(scope="session")
def spark(work):
    from perfbench import run

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    s = run.start_session(2, work, os.path.join(work, "eventlog"))
    yield s
    s.stop()
