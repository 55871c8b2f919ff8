"""The bench's fresh-JVM recheck trigger on synthetic gate timings."""
from __future__ import annotations

import bench


def test_flag_rechecks_threshold_and_skips():
    hist = {"slow": 2.0, "ratio_181": 2.0, "edge": 2.0, "sub_second": 0.5,
            "stolen": 2.0, "new_gate": None}
    qtimes = {"slow": 3.2, "ratio_181": 3.62, "edge": 3.0,
              "sub_second": 0.99, "stolen": 5.0, "new_gate": 9.0,
              "fast": 1.1}
    quiet = {"runs_steal_pct": [0.1, 0.3]}
    qdetail = {name: quiet for name in qtimes}
    qdetail["stolen"] = {"runs_steal_pct": [0.6, 2.0]}
    flagged = bench.flag_rechecks(qtimes, qdetail, hist)
    # 1.6x and 1.81x flag; exactly 1.5x, sub-second, stolen and
    # history-less gates do not
    assert flagged == {
        "slow": {"shared_sec": 3.2, "prev_best_sec": 2.0},
        "ratio_181": {"shared_sec": 3.62, "prev_best_sec": 2.0}}
    # a 1 s gate counts; no steal reading counts as stolen
    assert bench.flag_rechecks({"g": 1.0}, {"g": quiet}, {"g": 0.6}) \
        == {"g": {"shared_sec": 1.0, "prev_best_sec": 0.6}}
    assert bench.flag_rechecks({"g": 1.0}, {}, {"g": 0.6}) == {}
