import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE), str(HERE.parent)]

import run  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A small session with the event log on, configured the way run.py does."""
    workdir = tmp_path_factory.mktemp("perfbench")
    run.configure_env(workdir, driver_mb=1024, trace=True)
    s = run.get_spark("perfbench-tests", cpus=2, shuffle_partitions=4)
    s.events_dir = workdir / "events"
    yield s
    s.stop()
