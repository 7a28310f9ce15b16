"""bench.py's own logic, with no Spark and no child process: which cores
each scaling leg pins, the efficiency arithmetic, and which perfbench legs
count as samples."""
import json

import pytest

import bench


def test_leg_cores_pairs_n_with_4n_from_the_mask():
    assert bench.leg_cores({0, 1, 2, 3}) == ([0], [0, 1, 2, 3])
    assert bench.leg_cores(range(6)) == ([0], [0, 1, 2, 3])
    assert bench.leg_cores({9, 2, 7, 5}) == ([2], [2, 5, 7, 9])
    assert bench.leg_cores(range(8)) == ([0, 1], list(range(8)))


def test_leg_cores_below_four_cores_has_no_pair():
    assert bench.leg_cores({0, 1, 2}) is None


def test_scaling_record_takes_min_per_leg():
    rec = bench.scaling_record([0], [0, 1, 2, 3], [8.0, 6.0, 7.0], [2.5, 2.0, 3.0])
    assert (rec["small_sec"], rec["big_sec"]) == (6.0, 2.0)
    assert rec["speedup"] == 3.0
    assert rec["efficiency"] == 0.75
    assert rec["samples_small"] == [8.0, 6.0, 7.0]
    assert rec["samples_big"] == [2.5, 2.0, 3.0]
    assert (rec["cores_small"], rec["cores_big"]) == ([0], [0, 1, 2, 3])


def _stdout(correct=True, failed=0, cores=1):
    report = {"cores": cores, "pages": 200_003, "end_to_end": {"wall_s": 5.0}}
    last = {"correct": correct, "attempted": 6, "failed": failed, "metrics": {}}
    return f"{json.dumps(report)}\n{json.dumps(last)}\n"


def test_parse_leg_accepts_a_correct_leg():
    assert bench.parse_leg([0], 0, _stdout(), "")["end_to_end"]["wall_s"] == 5.0


@pytest.mark.parametrize("returncode,stdout", [
    (0, _stdout(correct=False)),
    (0, _stdout(failed=1)),
    (0, _stdout(cores=4)),  # the pin did not take
    (1, _stdout()),
    (0, ""),
])
def test_parse_leg_rejects_a_failed_leg(returncode, stdout):
    with pytest.raises(SystemExit, match="child stderr tail"):
        bench.parse_leg([0], returncode, stdout, "child stderr tail")
