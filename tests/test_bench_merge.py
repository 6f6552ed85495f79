"""``bench.merge_points``: each points row keeps the minimum time over the
sessions, and its plan/exec split and scan metrics come from the session
that gave that time."""

import bench


def _session(i: int, times: dict) -> dict:
    return {
        "timings": times,
        "plan_exec_split": {row: {"session": i} for row in times},
        "scan_metrics": {m: {"session": i} for m in bench.SCAN_ROWS},
    }


def test_split_and_scans_follow_each_rows_minimum():
    rows = list(bench.SCAN_ROWS.values())
    runs = [
        _session(0, dict.fromkeys(rows, 3.0) | {"prepared_cold_50keys": 1.0}),
        _session(1, dict.fromkeys(rows, 2.0) | {"prepared_cold_50keys": 5.0}),
        _session(2, dict.fromkeys(rows, 4.0) | {"prepared_50keys": 0.5}),
    ]
    timings, split, scans = bench.merge_points(runs)
    assert timings == dict.fromkeys(rows, 2.0) | {"prepared_cold_50keys": 1.0,
                                                 "prepared_50keys": 0.5}
    want = dict.fromkeys(rows, 1) | {"prepared_cold_50keys": 0, "prepared_50keys": 2}
    assert {row: s["session"] for row, s in split.items()} == want
    assert {m: s["session"] for m, s in scans.items()} == {
        m: want[row] for m, row in bench.SCAN_ROWS.items()}
