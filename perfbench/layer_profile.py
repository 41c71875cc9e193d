"""Per-layer profile of the benchmark's workloads.

    python3 perfbench/layer_profile.py --seed N [--workloads stream_replay,batch_sql,llm_ops]

Run it from the root of a checkout. For each workload it runs
``run.py`` twice, untraced and traced, and prints:

- the traced run's per-layer metrics and each layer's self time;
- the end-to-end metrics of both runs and their difference, the
  tracing overhead (the traced run times a fixed number of passes, the
  untraced one a time window, so compare per-query and per-event
  figures, not totals);
- for ``stream_replay``, an untraced run on ``local[1]`` beside the
  ``local[N]`` run, the single-core baseline. It is not gated.

``llm_ops`` is profiled here but is not a workload of BENCHMARK.json;
see README.md. The full report is also written to
``.perfbench_out/profile-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, trace: int, cores: int | None = None) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *spec["command"][2:],
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    if cores is not None:
        cmd += ["--cores", str(cores)]
    start = time.time()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=200)
    wall = time.time() - start
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{out.stderr[-3000:]}")
    lines = out.stdout.splitlines()
    details = {}
    for line in lines:
        if line.startswith("detail "):
            d = json.loads(line[len("detail "):])
            details[d["metric"]] = d
    return {
        "wall_s": wall,
        "result": json.loads(lines[-1]),
        "details": details,
        "steps": [json.loads(x[len("step "):]) for x in lines if x.startswith("step ")],
        "failures": [x for x in lines if x.startswith("failure ")],
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--workloads", default="stream_replay,batch_sql,llm_ops")
    args = p.parse_args(argv)
    report: dict = {"seed": args.seed, "workloads": {}}
    for w in args.workloads.split(","):
        plain = _run(w, args.seed, 0)
        traced = _run(w, args.seed, 1)
        entry = {"untraced": plain, "traced": traced, "overhead": {}}
        print(f"== {w}")
        for name, m in sorted(traced["result"]["metrics"].items()):
            print(f"  layer {name:38s} {m['value']:16.3f} {m['unit']}")
        for name, d in sorted(traced["details"].items()):
            if name.startswith("self_ms."):
                print(f"  self  {name[8:]:38s} {d['value']:16.3f} ms")
        for name, d in sorted(plain["details"].items()):
            t = traced["details"].get(name)
            if t is None or name.startswith("self_ms."):
                continue
            diff = t["value"] - d["value"]
            entry["overhead"][name] = diff
            print(f"  e2e   {name:38s} untraced {d['value']:12.3f}  traced {t['value']:12.3f}"
                  f"  overhead {diff:+10.3f} {d['unit']}")
        print(f"  e2e   {'run wall':38s} untraced {plain['wall_s']:12.3f}  traced "
              f"{traced['wall_s']:12.3f}  overhead {traced['wall_s'] - plain['wall_s']:+10.3f} s")
        if w == "stream_replay":
            one = _run(w, args.seed, 0, cores=1)
            entry["single_core"] = one
            for name, d in sorted(plain["details"].items()):
                if name in one["details"]:
                    print(f"  1core {name:38s} local[N] {d['value']:12.3f}  local[1] "
                          f"{one['details'][name]['value']:12.3f} {d['unit']}")
            for row in one["steps"]:
                print(f"  1core step {json.dumps(row)}")
        for f in plain["failures"] + traced["failures"]:
            print(f"  {f}")
        report["workloads"][w] = entry
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"profile-{args.seed}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
