import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def session(tmp_path_factory):
    """One engine session (event log on) for the whole test session; its
    JVM is shut down and awaited at the end."""
    import run
    from sparkctl import Session
    work = str(tmp_path_factory.mktemp("perfbench"))
    run._env(work)
    s = Session(work, cores=2, event_log=True)
    s.start()
    yield s
    s.close()
