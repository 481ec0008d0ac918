"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json for one pass on tiny inputs
(scale 0.001, the fixture set's smallest), untraced and traced, and
checks that each run exits 0, fails no op (error rate 0), prints every
end-to-end metric (untraced) or every per-layer metric (traced) by name
with its unit and sample count, and leaves no scratch data behind.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE_SCALE = 0.001


def run(workload: str, trace: int) -> tuple[dict, dict]:
    argv = ["--workload", workload, "--seed", "1", "--seconds", "0", "--trace", str(trace)]
    code = (
        f"import sys; sys.path.insert(0, {HERE!r}); import run; "
        f"raise SystemExit(run.main({argv!r}, scale={SMOKE_SCALE!r}))"
    )
    cmd = [sys.executable, "-c", code]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["environment"], json.loads(lines[-1])


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke failed: {what}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            env, out = run(wl["name"], trace)
            tag = f"{wl['name']} trace={trace}"
            check(set(out) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: keys {sorted(out)}")
            check(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, f"{tag}: {out}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            check(got == want, f"{tag}: metrics differ on {sorted(set(got.items()) ^ set(want.items()))}")
            check(set(env["samples"]) == set(want), f"{tag}: sample counts missing")
            for name, m in out["metrics"].items():
                check(isinstance(m["value"], (int, float)), f"{tag}: {name} is not a number")
            print(f"ok {tag}: {len(got)} metrics", flush=True)
    left = [d for d in os.listdir(os.path.join(HERE, ".runs")) if not d.startswith("spans-")]
    check(not left, f"scratch runs left behind: {left}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
