"""Self-test of the benchmark in tiny mode.

    python3 perfbench/selftest.py            # from the repository root

Checks, per workload:
- every end-to-end metric (untraced run) and every per-layer metric (traced
  run) is printed with the unit BENCHMARK.json declares;
- a dropped row injected into every op's output (--inject-fault) is caught:
  the run reports failed > 0 and correct = false;
- two traced runs with the same seed run the same op sequence and report
  the same exact counts (job counts, files scanned and written, rows
  rewritten per row).
And once: run from a directory that holds only BENCHMARK.json and the
benchmark's files, the runner exits non-zero without printing a result.
Exits 1 if any check fails. Takes a few minutes (six Spark processes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402

EXACT_SUFFIXES = (".jobs", ".jobs_per_op", ".files_scanned",
                  ".files_written", ".rows_rewritten_per_row")


def run(workload: str, seed: int, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "3",
           "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    report = next((json.loads(x.split(" ", 1)[1]) for x in lines
                   if x.startswith("perfbench-report ")), None)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, report, result, p.stderr


class Checks:
    def __init__(self):
        self.failed = 0

    def expect(self, ok: bool, what: str) -> None:
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        self.failed += not ok


def units_match(result, declared: dict[str, str]) -> bool:
    got = {k: v.get("unit") for k, v in (result or {}).get("metrics", {}).items()}
    return got == declared


def main() -> int:
    c = Checks()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    c.expect({m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END,
             "BENCHMARK.json end_to_end matches metrics.END_TO_END")
    c.expect({m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER,
             "BENCHMARK.json per_layer matches metrics.PER_LAYER")

    for wl in [w["name"] for w in bench["workloads"]]:
        code, _, res, err = run(wl, 7, 0, "--tiny", "--inject-fault")
        c.expect(code == 0 and units_match(res, END_TO_END),
                 f"{wl}: every end-to-end metric printed with its unit")
        c.expect(bool(res) and res["failed"] > 0 and res["correct"] is False,
                 f"{wl}: injected dropped row counted as a failure")

        runs = [run(wl, 11, 1, "--tiny") for _ in range(2)]
        for code, rep, res, err in runs:
            c.expect(code == 0 and units_match(res, PER_LAYER),
                     f"{wl}: every per-layer metric printed with its unit")
            c.expect(bool(res) and res["failed"] == 0 and res["correct"],
                     f"{wl}: clean traced run has no failures")
            if code != 0:
                print(err[-2000:], file=sys.stderr)
        (_, rep_a, res_a, _), (_, rep_b, res_b, _) = runs
        if not (rep_a and rep_b and res_a and res_b):
            c.expect(False, f"{wl}: traced runs produced results")
            continue
        n = min(len(rep_a["op_keys"]), len(rep_b["op_keys"]))
        c.expect(n > 0 and rep_a["op_keys"][:n] == rep_b["op_keys"][:n],
                 f"{wl}: same seed, same op sequence")
        exact = [k for k in PER_LAYER if k.endswith(EXACT_SUFFIXES)]
        diff = {k: (res_a["metrics"][k]["value"], res_b["metrics"][k]["value"])
                for k in exact
                if res_a["metrics"][k]["value"] != res_b["metrics"][k]["value"]}
        c.expect(not diff, f"{wl}: exact counts repeat {diff or ''}")

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, _, res, _ = run("backtest", 1, 0, cwd=bare)
        c.expect(code != 0 and res is None,
                 "without the program: non-zero exit and no result line")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{c.failed} check(s) failed" if c.failed else "all checks passed")
    return 1 if c.failed else 0


if __name__ == "__main__":
    sys.exit(main())
