"""Self-check of the benchmark: a unit check of the span self-time
arithmetic, then every workload (extract_resume too) at tiny scale,
untraced and traced, with its output validated against BENCHMARK.json.

    python3 perfbench/smoke.py            # unit check + all smoke runs
    python3 perfbench/smoke.py --unit     # unit check only
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from spans import Span, covered, nesting_errors, self_times  # noqa: E402


def check_self_times() -> None:
    # parent [0,10] with overlapping children [1,3] and [2,5], a disjoint
    # child [7,8] and a grandchild [1.5,2] inside the first child
    spans = [
        Span(0, "root", 0.0, 10.0, None),
        Span(1, "a", 1.0, 3.0, 0),
        Span(2, "b", 2.0, 5.0, 0),
        Span(3, "c", 7.0, 8.0, 0),
        Span(4, "a.x", 1.5, 2.0, 1),
    ]
    selfs = self_times(spans)
    expected = {0: 10 - (4 + 1), 1: 2 - 0.5, 2: 3.0, 3: 1.0, 4: 0.5}
    for sid, want in expected.items():
        if abs(selfs[sid] - want) > 1e-12:
            raise SystemExit(f"self time of span {sid}: {selfs[sid]} != {want}")
    # self times add up to the root's duration plus the one second [2,3]
    # in which the sibling children a and b overlap
    if abs(sum(selfs.values()) - (10 + 1)) > 1e-12:
        raise SystemExit("self times do not add up over the tree")
    if nesting_errors(spans):
        raise SystemExit(f"false nesting errors: {nesting_errors(spans)}")
    if covered([(0, 4), (3, 6), (8, 12)], 1, 10) != 5 + 2:
        raise SystemExit("covered() does not merge and clip intervals")
    leaky = spans + [Span(5, "late", 9.0, 11.0, 0)]
    if not any("leaves parent" in e for e in nesting_errors(leaky)):
        raise SystemExit("a child outside its parent went unnoticed")
    print("self-time arithmetic: ok")


def smoke_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    # extract_resume is not in BENCHMARK.json (see NOTES.md) but stays runnable
    for wl in [w["name"] for w in bench["workloads"]] + ["extract_resume"]:
        for trace in (0, 1):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--scale", "tiny",
            ]
            proc = subprocess.run(
                cmd, cwd=ROOT, capture_output=True, text=True, timeout=300
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{wl} trace={trace}: exit {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if not result["correct"] or result["failed"]:
                raise SystemExit(f"{wl} trace={trace}: {result}")
            got = set(result["metrics"])
            if got != wanted[trace]:
                raise SystemExit(f"{wl} trace={trace}: metrics {got ^ wanted[trace]}")
            print(f"{wl} trace={trace}: ok ({result['attempted']} jobs)")


if __name__ == "__main__":
    check_self_times()
    if "--unit" not in sys.argv:
        smoke_runs()
