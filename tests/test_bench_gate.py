"""bench_compare --gate: two single-run archives only nominate entries; the
decision comes from paired reruns of the flagged entries, base tree against
working tree with the order swapped in every pair. These tests pin that
decision with a fake runner (no Spark starts) on a real throwaway git repo,
so the worktree handling is the real one."""

from __future__ import annotations

import json
import random
import subprocess
import sys
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = REPO / "tools"
sys.path.insert(0, str(TOOLS))

from bench_compare import paired_gate  # noqa: E402


def _archive(queries, triggers=None):
    return {
        "bench_protocol": "grouped-warmup-v2",
        "queries": queries,
        "calibration": {"calib_jvm_sum": 1.0},
        "triggers": triggers or {},
    }


@pytest.fixture
def repo(tmp_path):
    """A one-commit git repo standing in for the working tree."""
    root = tmp_path / "repo"
    root.mkdir()
    (root / "bench.py").write_text("# bench.py --only stand-in\n")
    git = ["git", "-C", str(root), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run([*git, "init", "-q"], check=True)
    subprocess.run([*git, "add", "-A"], check=True)
    subprocess.run([*git, "commit", "-qm", "base"], check=True)
    return str(root)


def _worktrees(repo):
    out = subprocess.run(
        ["git", "-C", repo, "worktree", "list", "--porcelain"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    return [ln for ln in out.splitlines() if ln.startswith("worktree ")]


class FakeRunner:
    """Stands in for ``bench.py --only``: ``draw(side, entry, pair)`` gives
    the seconds; records every call as (side, tree)."""

    def __init__(self, repo, draw):
        self.repo, self.draw, self.calls = repo, draw, []

    def __call__(self, tree, entries):
        side = "new" if tree == self.repo else "base"
        assert Path(tree, "bench.py").exists()
        pair = sum(1 for s, _ in self.calls if s == side)
        self.calls.append((side, tree))
        return {k: self.draw(side, k, pair) for k in entries}


@pytest.fixture
def gate(repo, capsys):
    """``gate(old, new, draw)`` -> (exit code, printed text, runner)."""

    def run(old, new, draw, base="HEAD", threshold=0.25):
        runner = FakeRunner(repo, draw)
        capsys.readouterr()
        rc = paired_gate(old, new, base, threshold, repo=repo, runner=runner)
        return rc, capsys.readouterr().out.strip(), runner

    return run


def _noise(seed):
    rng = random.Random(seed)
    return lambda side, k, pair: round(rng.gauss(2.0, 0.2), 3)


def test_one_entry_twice_as_slow_fails_and_is_named_alone(gate):
    old = _archive({"slow": 2.0, "steady": 2.0, "other": 1.0})
    new = _archive({"slow": 4.0, "steady": 3.0, "other": 1.0})  # both flagged
    rng = random.Random(1)

    def draw(side, k, pair):
        t = rng.gauss(2.0, 0.1)
        return 2 * t if (side, k) == ("new", "slow") else t

    rc, out, runner = gate(old, new, draw)
    assert rc == 1
    assert out.splitlines()[-1] == "FAIL: slow"
    assert out.splitlines()[0].startswith("flagged: slow, steady;")
    assert "steady: ok" in out
    assert len(runner.calls) == 20


def test_noise_from_one_distribution_passes(gate):
    old = _archive({"a": 2.0, "b": 2.0})
    new = _archive({"a": 3.0, "b": 2.6})
    for seed in range(5):
        rc, out, _ = gate(old, new, _noise(seed))
        assert rc == 0, out


@pytest.mark.parametrize("host", [2.0, 0.5])
def test_host_speed_between_archives_passes_when_reruns_match(gate, host):
    # the NEW archive came from a 2x slower (or 2x faster) host: every
    # entry moved, the code did not
    q = {"a": 2.0, "b": 5.0, "c": 0.8}
    old = _archive(q)
    new = _archive({k: v * host for k, v in q.items()})
    rc, out, runner = gate(old, new, _noise(7))
    assert rc == 0, out
    assert len(runner.calls) == (20 if host > 1 else 0)
    # and the mirror: the OLD archive from the faster host flags everything
    rc, out, runner = gate(new, old, _noise(8))
    assert rc == 0, out


def test_nine_of_ten_wins_inside_base_iqr_pass(gate):
    old = _archive({"a": 2.0})
    new = _archive({"a": 3.0})
    base = [1.5, 2.5, 1.6, 2.4, 1.7, 2.3, 1.8, 2.2, 1.9, 2.1]  # IQR 0.55

    def draw(side, k, pair):
        # slower in pairs 0..8 by 0.05 s, faster in the last one
        return base[pair] + (0.05 if pair < 9 else -0.05) * (side == "new")

    rc, out, _ = gate(old, new, draw)
    assert rc == 0, out
    assert "slower in 9/10 pairs" in out


def test_eight_of_ten_wins_with_a_wide_gap_pass(gate):
    old = _archive({"a": 2.0})
    new = _archive({"a": 3.0})

    def draw(side, k, pair):
        # 1 s slower in pairs 0..7 (far above the base IQR), faster in 8, 9
        if side == "base":
            return 2.0 + 0.01 * pair
        return 3.0 if pair < 8 else 1.0

    rc, out, _ = gate(old, new, draw)
    assert rc == 0, out
    assert "slower in 8/10 pairs" in out


def test_flag_needs_the_threshold_and_the_floor(gate):
    # a: 2x slower but under 0.2 s on both sides; b: +20% < threshold;
    # c: 2x faster. None is flagged, the total moved < 25%: no rerun.
    old = _archive({"a": 0.05, "b": 5.0, "c": 4.0, "d": 10.0})
    new = _archive({"a": 0.1, "b": 6.0, "c": 2.0, "d": 10.0})
    rc, out, runner = gate(old, new, _noise(0))
    assert rc == 0 and out == "PASS: no entry flagged as slower"
    assert runner.calls == []
    # the same +20% on b is flagged once the threshold is under it
    rc, out, runner = gate(old, new, _noise(0), threshold=0.15)
    assert out.splitlines()[0].startswith("flagged: b;")
    assert rc == 0 and len(runner.calls) == 20


def test_base_without_only_selection_is_refused(gate, repo):
    before = _worktrees(repo)
    Path(repo, "bench.py").write_text("# a bench.py that runs every entry\n")
    git = ["git", "-C", repo, "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run([*git, "commit", "-qam", "no --only"], check=True)
    old, new = _archive({"a": 2.0}), _archive({"a": 4.0})
    with pytest.raises(RuntimeError, match="no --only selection"):
        gate(old, new, _noise(0))
    assert _worktrees(repo) == before


def test_unknown_base_revision_raises_and_leaves_no_worktree(gate, repo):
    before = _worktrees(repo)
    old, new = _archive({"a": 2.0}), _archive({"a": 4.0})
    with pytest.raises(subprocess.CalledProcessError):
        gate(old, new, _noise(0), base="no-such-rev")
    assert _worktrees(repo) == before


def test_broad_total_shift_is_undecided_without_rerun(gate):
    # every entry +30%, each under the 0.2 s flag floor: nothing to rerun,
    # but the total moved past the threshold — exit 2, never 0
    old = _archive({f"q{i}": 0.15 for i in range(20)})
    new = _archive({f"q{i}": 0.195 for i in range(20)})
    rc, out, runner = gate(old, new, _noise(0))
    assert rc == 2 and out.startswith("UNDECIDED")
    assert runner.calls == []


def test_pair_order_alternates_and_worktree_is_removed(gate, repo):
    before = _worktrees(repo)
    old, new = _archive({"a": 2.0}), _archive({"a": 4.0})
    _, _, runner = gate(old, new, _noise(3))
    sides = [s for s, _ in runner.calls]
    assert sides == ["base", "new", "new", "base"] * 5
    base_tree = next(t for s, t in runner.calls if s == "base")
    assert _worktrees(repo) == before and not Path(base_tree).exists()
    # a failing verdict and a crashing rerun remove it too
    rc, _, runner = gate(old, new, lambda s, k, p: 4.0 if s == "new" else 2.0)
    assert rc == 1 and _worktrees(repo) == before

    def boom(side, k, pair):
        raise RuntimeError("bench crashed")

    with pytest.raises(RuntimeError):
        gate(old, new, boom)
    assert _worktrees(repo) == before
    assert not Path(base_tree).parent.exists()


def test_base_failure_is_undecided_and_new_failure_is_slower(gate):
    old, new = _archive({"a": 2.0}), _archive({"a": 4.0})
    rc, out, _ = gate(old, new, lambda s, k, p: -1.0 if s == "base" else 2.0)
    assert rc == 2 and "UNDECIDED" in out
    rc, out, _ = gate(old, new, lambda s, k, p: -1.0 if s == "new" else 2.0)
    assert rc == 1 and out.endswith("FAIL: a")


def _cli(*args):
    return subprocess.run(
        [sys.executable, str(TOOLS / "bench_compare.py"), *args],
        capture_output=True,
        text=True,
    )


def test_report_mode_exits_zero(tmp_path):
    old, new = tmp_path / "old.json", tmp_path / "new.json"
    old.write_text(json.dumps(_archive({"q1": 5.0, "s1": 2.0}, {"s1": 3})))
    new.write_text(
        "spark log noise\n"
        + json.dumps(_archive({"q1": 15.0, "s1": 2.1, "q2": 1.0}, {"s1": 3}))
    )
    r = _cli(str(old), str(new))
    assert r.returncode == 0
    assert "q1" in r.stdout and "+200%" in r.stdout and "added (1): q2" in r.stdout
    assert "calib_jvm_sum x1.00" in r.stdout
    # --gate without --base cannot decide
    assert _cli(str(old), str(new), "--gate").returncode == 2
    # a cross-protocol pair is refused; in gate mode that is undecided
    other = tmp_path / "other.json"
    other.write_text(json.dumps({**_archive({"q1": 5.0}), "bench_protocol": "v1"}))
    assert _cli(str(old), str(other)).returncode == 0
    assert _cli(str(old), str(other), "--gate", "--base", "HEAD").returncode == 2


def test_bench_only_rejects_unknown_entry_before_spark():
    r = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--only", "no_such_entry"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 2
    assert "no_such_entry" in r.stderr and r.stdout == ""


def test_only_runs_carry_their_own_protocol(tmp_path):
    # --only medians differ from full-run medians of the same entry, so a
    # full archive and an --only archive are refused like any other
    # cross-protocol pair
    sys.path.insert(0, str(REPO))
    from bench import bench_protocol

    full, only = bench_protocol(None), bench_protocol({"q1"})
    assert full == "grouped-warmup-v2" and only != full
    old, new = tmp_path / "full.json", tmp_path / "only.json"
    old.write_text(json.dumps({**_archive({"q1": 5.0}), "bench_protocol": full}))
    new.write_text(json.dumps({**_archive({"q1": 9.0}), "bench_protocol": only}))
    r = _cli(str(old), str(new))
    assert r.returncode == 0 and "REFUSING" in r.stdout and "+80%" not in r.stdout
    assert _cli(str(old), str(new), "--gate", "--base", "HEAD").returncode == 2


def test_trigger_counter_credits_late_progress_to_its_own_rep():
    # progress events arrive asynchronously: rep 1's last trigger is
    # delivered after rep 2 has started, and must still count for rep 1
    from types import SimpleNamespace

    sys.path.insert(0, str(REPO))
    from bench import TriggerCounter, _new_rep

    def progress(run_id):
        op = SimpleNamespace(numRowsTotal=5, commitTimeMs=2)
        return SimpleNamespace(
            progress=SimpleNamespace(
                runId=run_id, durationMs={"addBatch": 10}, stateOperators=[op]
            )
        )

    counter = TriggerCounter()
    rep1 = counter.rep = _new_rep()
    counter.onQueryStarted(SimpleNamespace(runId="run-1"))
    for _ in range(3):
        counter.onQueryProgress(progress("run-1"))
    rep2 = counter.rep = _new_rep()
    counter.onQueryStarted(SimpleNamespace(runId="run-2"))
    counter.onQueryProgress(progress("run-1"))  # late event of rep 1
    for _ in range(4):
        counter.onQueryProgress(progress("run-2"))
    counter.onQueryProgress(progress("started-before-the-listener"))
    assert rep1["triggers"] == rep2["triggers"] == 4
    assert rep1["duration_ms"] == rep2["duration_ms"] == {"addBatch": 40}
    assert rep1["commit_ms"] == rep2["commit_ms"] == 8
    assert rep1["peak_rows"] == 5
    # the summary waits for every counted run's termination, which the bus
    # delivers after the run's last progress event
    counter.onQueryTerminated(SimpleNamespace(runId="run-1"))
    t0 = time.time()
    counter.drain(timeout_s=0.3)
    assert time.time() - t0 >= 0.3  # run-2 is still open
    counter.onQueryTerminated(SimpleNamespace(runId="run-2"))
    t0 = time.time()
    counter.drain(timeout_s=5.0)
    assert time.time() - t0 < 1.0
