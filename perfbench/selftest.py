"""Self-test of the benchmark: every workload at the tiny size, untraced
and traced.

    python3 perfbench/selftest.py [workload ...]

Run from the repository root. For each run it checks that the last line
is the result object, that every digest matched (``correct``, no
failures), that exactly the metrics named in BENCHMARK.json are emitted
with their units, and that the layers separate as designed: no Python
nodes in any ``pip_join`` operation, Python nodes in every codec
operation of ``pages_codec``, checkpoint metrics non-zero only on
``pages_codec``. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CODEC_OPS = ("point_roundtrip", "polygon_roundtrip", "schema_infer")


def _expect(ok: bool, *what) -> None:
    if not ok:
        raise SystemExit(f"self-test failed: {what}")


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}"
                         f"\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _report(workload: str) -> dict:
    with open(os.path.join(ROOT, ".perfbench",
                           f"report-{workload}-s7-t1.json")) as f:
        return json.load(f)


def check(workload: str, spec: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _run(workload, trace)
        _expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                res)
        _expect(res["correct"] and res["failed"] == 0, res)
        _expect(res["attempted"] >= 1, res)
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        _expect(got == want, (workload, key, sorted(set(got) ^ set(want))))
        for name, v in res["metrics"].items():
            _expect(isinstance(v["value"], (int, float)), (name, v))
            if key == "end_to_end":
                _expect(v["value"] > 0, (workload, name, v))
        print(f"{workload} trace={trace}: {res['attempted']} checked ops, "
              f"{len(got)} metrics ok")
    m = res["metrics"]
    ckpt = [m[k]["value"] for k in m if k.startswith("sources.checkpoint.")]
    if workload == "pages_codec":
        _expect(all(v > 0 for v in ckpt), ckpt)
    else:
        _expect(not any(ckpt), ckpt)
    nodes = {op: v["functions.python_nodes"]
             for op, v in _report(workload)["op_layers"].items()}
    if workload == "pip_join":
        _expect(not any(nodes.values()), nodes)
    else:
        _expect(all(nodes[op] > 0 for op in CODEC_OPS), nodes)
    print(f"{workload}: layer separation ok {nodes}")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or [w["name"] for w in spec["workloads"]]
    for w in names:
        check(w, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
