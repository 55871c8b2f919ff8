"""The N-vs-4N scaling harness without Spark: `splice_block`'s three
cases, each op's BENCH/BASELINE.md markers, argument parsing, and each
op's block rendered from fabricated legs (tools/scaling_bench.py,
tools/submit_job.py)."""
from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import scaling_bench as sb  # noqa: E402
from submit_job import APPEND_MARKER, OPS, parse_args  # noqa: E402

BEGIN = "<!-- X_BENCH_BEGIN (tools/scaling_bench.py x rewrites this block) -->"
END = "<!-- X_BENCH_END -->"
BLOCK = f"{BEGIN}\nnew body\n{END}"
HEAD = "# title\n\nhead prose\n\n"
TAIL = "\n\n## Hand-kept section\n\nmeasured evidence | 1.0 |\n"


def _stable(marker: str) -> str:
    return marker.split(" (", 1)[0]


def test_splice_replaces_block_in_place():
    old = "<!-- X_BENCH_BEGIN (tools/x_bench.py rewrites this block) -->"
    text = f"{HEAD}{APPEND_MARKER}\n\n{old}\nold body\n{END}{TAIL}"
    got = sb.splice_block(text, BEGIN, END, BLOCK)
    assert got == f"{HEAD}{APPEND_MARKER}\n\n{BLOCK}{TAIL}"
    assert sb.splice_block(got, BEGIN, END, BLOCK) == got


def test_splice_inserts_after_append_marker():
    text = f"{HEAD}{APPEND_MARKER}{TAIL}"
    got = sb.splice_block(text, BEGIN, END, BLOCK)
    assert got == f"{HEAD}{APPEND_MARKER}\n\n{BLOCK}\n{TAIL}"
    assert got.endswith(TAIL)


def test_splice_appends_without_marker():
    text = HEAD + TAIL
    got = sb.splice_block(text, BEGIN, END, BLOCK)
    assert got == f"{text}\n{BLOCK}\n"


def test_op_markers_occur_once_in_baseline():
    text = open(os.path.join(REPO, "BENCH", "BASELINE.md"),
                encoding="utf-8").read()
    for name, op in OPS.items():
        for marker in (op.begin, op.end):
            assert text.count(_stable(marker)) == 1, (name, marker)
        assert text.index(_stable(op.begin)) < text.index(_stable(op.end))


@pytest.mark.parametrize("name", sorted(OPS))
def test_default_args_parse(name):
    op = OPS[name]
    defaults = dict(op.args)
    assert vars(parse_args(op, [])) == defaults
    assert vars(parse_args(op, [str(v) for v in defaults.values()])) \
        == defaults
    with pytest.raises(SystemExit):
        parse_args(op, ["1"] * (len(op.args) + 1))


def _leg(op, cpus: int, sec: float) -> dict:
    base = {"cpus": cpus, "n": 1000, "sec": sec,
            "throughput": 1000 / sec, "membw_gbps": 9.9,
            "runs_sec": [sec, sec], "runs_steal_pct": [0.0, 0.1],
            "build_sec": 1.0, "hits": 7, "rows": 7, "n_dist": 3}
    leg = {**base, **{"docs_" + k: v for k, v in base.items()}}
    leg.update({k: 5 for k in op.keys if not k.endswith("_by_deep")})
    leg["pairs_by_deep"] = {"0": 4, "1": 4}
    leg["area_by_deep"] = {"0": 2.5, "1": 2.5}
    return leg


@pytest.mark.parametrize("name", sorted(OPS))
def test_block_renders_and_splices(name):
    """Each op's block renders from legs carrying its checksum keys,
    the best pair sets the efficiency, and splicing it into
    BENCH/BASELINE.md leaves every other op's block untouched."""
    op = OPS[name]
    a = parse_args(op, [])
    pairs = [{"N": _leg(op, 2, 4.0), "4N": _leg(op, 8, 1.6)},
             {"N": _leg(op, 2, 4.0), "4N": _leg(op, 8, 1.0)}]
    for p in pairs:
        sb.check_legs(op, p["N"], p["4N"])
    assert sb.best_pair(pairs)[2] == 1.0
    block = sb.render(op, a, pairs, _leg(op, 8, 2.0) if op.variant else None)
    assert block.startswith(op.begin + "\n") and block.endswith(op.end)
    assert "= 1.000" in block and "**0.625**" in block

    text = open(os.path.join(REPO, "BENCH", "BASELINE.md"),
                encoding="utf-8").read()
    got = sb.splice_block(text, op.begin, op.end, block)
    assert sb.splice_block(got, op.begin, op.end, block) == got
    for other in OPS.values():
        i = text.index(_stable(other.begin))
        j = text.index(_stable(other.end))
        if other is not op:
            assert text[i:j] in got
    assert got.count(_stable(op.begin)) == 1


def test_cross_leg_checks_fail_on_mismatch():
    op = OPS["overlay"]
    a, b = _leg(op, 2, 1.0), _leg(op, 8, 1.0)
    b["area_by_deep"] = {"0": 2.5, "1": 2.5 * (1 + 1e-6)}
    with pytest.raises(AssertionError, match="watertight"):
        sb.check_legs(op, a, b)
    b = _leg(op, 8, 1.0)
    b["pairs_by_deep"] = {"0": 4, "1": 5}
    with pytest.raises(AssertionError, match="pairs_by_deep"):
        sb.check_legs(op, a, b)
    op = OPS["q1"]
    b = _leg(op, 8, 1.0)
    b["docs_hits"] += 1
    with pytest.raises(AssertionError, match="docs_hits"):
        sb.check_legs(op, _leg(op, 2, 1.0), b)
