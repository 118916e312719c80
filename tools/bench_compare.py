"""Compare two bench.py summary JSONs, protocol-aware — with a paired-rerun GATE.

Usage:
    python tools/bench_compare.py OLD.json NEW.json [--threshold 0.25] [--force]
    python tools/bench_compare.py OLD.json NEW.json --gate --base REV [--threshold 0.25]

Report mode (exit 0 always): shared-entry totals, the entries whose |delta|
exceeds the threshold (relative, on entries >= 0.2 s — sub-200 ms entries
are pure trigger/launch noise at sf0.1), entries present on one side only,
and the fixed-code calibration ratios as notes. Round 10 switched bench.py
to grouped per-query reps with a discarded warm-up; numbers from the old
interleaved protocol are systematically higher, so a cross-protocol diff is
refused unless --force.

Gate mode: two single-run archives cannot separate a code regression from
a host that got slower between them (CPU-steal bursts last minutes). The
archives only nominate: every entry at least ``threshold`` slower (and
>= 0.2 s) is flagged. REV is checked out with ``git worktree add`` into a
temp dir, and ``bench.py --only <flagged>`` runs from the base tree and
from this working tree for PAIRS pairs, swapping which tree runs first in
each pair. An entry fails only when the working tree is slower in at least
WINS_NEEDED of the pairs AND its median is above the base median by more
than the base runs' interquartile range. Exit codes: 0 pass; 1 an entry
failed (named); 2 undecided — the shared total is slower by at least the
threshold with no entry flagged, a base run lost a flagged entry, or the
archives use different protocols. The worktree is removed on every exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_SEC = 0.2  # entries under this on both sides are launch noise
PAIRS = 10
WINS_NEEDED = 9


def _last_json(text: str, where: str) -> dict:
    # bench output may carry a stderr preamble; the summary is the last
    # line that parses
    for line in reversed(text.strip().splitlines()):
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            continue
    raise SystemExit(f"{where}: no JSON summary line found")


def _load(path: str) -> dict:
    with open(path) as f:
        return _last_json(f.read(), path)


def moved_entries(old: dict, new: dict, threshold: float) -> list[tuple[float, str, float, float]]:
    """(relative delta, name, old s, new s) for every shared entry whose
    |delta| is at least ``threshold`` and that takes >= MIN_SEC on one side;
    slowest first."""
    qo, qn = old["queries"], new["queries"]
    moved = []
    for k in sorted(set(qo) & set(qn)):
        a, b = qo[k], qn[k]
        if a <= 0 or b < 0 or max(a, b) < MIN_SEC:
            continue
        rel = (b - a) / a
        if abs(rel) >= threshold:
            moved.append((rel, k, a, b))
    return sorted(moved, reverse=True)


def shared_totals(old: dict, new: dict) -> tuple[int, float, float]:
    qo, qn = old["queries"], new["queries"]
    shared = set(qo) & set(qn)
    so = sum(qo[k] for k in shared if qo[k] >= 0)
    sn = sum(qn[k] for k in shared if qn[k] >= 0)
    return len(shared), so, sn


def _iqr(xs: list[float]) -> float:
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def run_bench(tree: str, entries: list[str]) -> dict:
    """``bench.py --only`` from ``tree``; returns its ``queries`` map."""
    r = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py"), "--only", ",".join(entries)],
        cwd=tree,
        capture_output=True,
        text=True,
    )
    if r.returncode != 0:
        raise RuntimeError(
            f"bench.py in {tree} exited {r.returncode}:\n{r.stderr[-2000:]}"
        )
    return _last_json(r.stdout, f"bench.py in {tree}")["queries"]


def paired_gate(
    old: dict,
    new: dict,
    base: str,
    threshold: float = 0.25,
    repo: str = ROOT,
    runner=run_bench,
) -> int:
    """The gate decision (see module doc); returns the exit code."""
    flagged = [k for rel, k, _, _ in moved_entries(old, new, threshold) if rel > 0]
    if not flagged:
        _, so, sn = shared_totals(old, new)
        if so > 0 and (sn - so) / so >= threshold:
            print(
                f"UNDECIDED: shared total {so:.1f}s -> {sn:.1f}s "
                f"({(sn - so) / so * 100:+.0f}%) with no single entry flagged"
            )
            return 2
        print("PASS: no entry flagged as slower")
        return 0
    print(f"flagged: {', '.join(flagged)}; {PAIRS} paired reruns against {base}")
    tmp = tempfile.mkdtemp(prefix="bench-gate-")
    wt = os.path.join(tmp, "base")
    prev = signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        subprocess.run(
            ["git", "-C", repo, "worktree", "add", "--detach", wt, base],
            check=True,
            capture_output=True,
            text=True,
        )
        with open(os.path.join(wt, "bench.py")) as f:
            if "--only" not in f.read():
                raise RuntimeError(f"{base}'s bench.py has no --only selection")
        samples: dict[str, dict[str, list[float]]] = {
            k: {"base": [], "new": []} for k in flagged
        }
        for i in range(PAIRS):
            order = [("base", wt), ("new", repo)]
            if i % 2:
                order.reverse()
            got = {side: runner(tree, flagged) for side, tree in order}
            for k in flagged:
                for side in ("base", "new"):
                    samples[k][side].append(got[side].get(k, -1.0))
            print(
                f"pair {i + 1} ({order[0][0]} first): "
                + ", ".join(
                    f"{k} {samples[k]['base'][-1]:.3f}->{samples[k]['new'][-1]:.3f}"
                    for k in flagged
                ),
                flush=True,
            )
    finally:
        subprocess.run(
            ["git", "-C", repo, "worktree", "remove", "--force", wt],
            capture_output=True,
        )
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", repo, "worktree", "prune"], capture_output=True)
        signal.signal(signal.SIGTERM, prev)
    failed, undecided = [], []
    for k in flagged:
        b, n = samples[k]["base"], samples[k]["new"]
        if any(x < 0 for x in b):
            undecided.append(k)
            print(f"  {k}: UNDECIDED, the base tree failed it in a rerun")
            continue
        # a rep the working tree failed counts as slower
        n = [x if x >= 0 else float("inf") for x in n]
        wins = sum(y > x for x, y in zip(b, n))
        gap = statistics.median(n) - statistics.median(b)
        iqr = _iqr(b)
        verdict = "FAIL" if wins >= WINS_NEEDED and gap > iqr else "ok"
        print(
            f"  {k}: {verdict}  slower in {wins}/{PAIRS} pairs, median "
            f"{statistics.median(b):.3f}s -> {statistics.median(n):.3f}s "
            f"(gap {gap:+.3f}s, base IQR {iqr:.3f}s)"
        )
        if verdict == "FAIL":
            failed.append(k)
    if failed:
        print(f"FAIL: {', '.join(failed)}")
        return 1
    if undecided:
        return 2
    print("PASS: no flagged entry is slower in the paired reruns")
    return 0


def report(old: dict, new: dict, threshold: float) -> None:
    n, so, sn = shared_totals(old, new)
    pct = f"  ({(sn - so) / so * 100:+.1f}%)" if so > 0 else ""
    print(f"shared entries: {n}  old total {so:.1f}s  new total {sn:.1f}s{pct}")
    co, cn = old.get("calibration") or {}, new.get("calibration") or {}
    ratios = [f"{k} x{cn[k] / co[k]:.2f}" for k in sorted(co) if co[k] > 0 and cn.get(k, -1) > 0]
    if ratios:
        print(f"note, fixed-code calibration new/old: {', '.join(ratios)}")
    to, tn = old.get("triggers", {}), new.get("triggers", {})
    for rel, k, a, b in moved_entries(old, new, threshold):
        ta, tb = to.get(k), tn.get(k)
        note = f"  [triggers {ta}->{tb}]" if ta and tb else ""
        print(f"  {k:45s} {a:8.3f} -> {b:8.3f}  ({rel * 100:+.0f}%){note}")
    qo, qn = old["queries"], new["queries"]
    only_old = sorted(set(qo) - set(qn))
    only_new = sorted(set(qn) - set(qo))
    if only_old:
        print(f"removed ({len(only_old)}): {', '.join(only_old)}")
    if only_new:
        print(f"added ({len(only_new)}): {', '.join(only_new)}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=0.25)
    ap.add_argument("--force", action="store_true", help="diff across protocols")
    ap.add_argument("--gate", action="store_true", help="decide by paired reruns")
    ap.add_argument("--base", metavar="REV", help="the gate's base revision")
    args = ap.parse_args(argv)
    if args.gate and args.base is None:
        ap.error("--gate needs --base REV")
    old, new = _load(args.old), _load(args.new)
    po = old.get("bench_protocol", "pre-v2 (untagged)")
    pn = new.get("bench_protocol", "pre-v2 (untagged)")
    if po != pn and not args.force:
        print(
            f"REFUSING cross-protocol comparison: {args.old} is '{po}', "
            f"{args.new} is '{pn}' — deltas would be measurement artifacts "
            "(ADVICE r10). Pass --force to diff anyway; do not quote the "
            "result as a regression/improvement."
        )
        return 2 if args.gate else 0
    if args.gate:
        try:
            return paired_gate(old, new, args.base, args.threshold)
        except (subprocess.CalledProcessError, RuntimeError) as e:
            # a rerun that cannot run decides nothing
            print(f"UNDECIDED: {e} {getattr(e, 'stderr', '') or ''}".strip())
            return 2
    report(old, new, args.threshold)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
