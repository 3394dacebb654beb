"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

1. In one session, every workload's output check must reject each of
   several corrupted copies of a real result.  For a workload listed in
   ``BENCHMARK.json`` it must also accept the real result; for the others
   the verdict on the real result is only printed.
2. Every workload listed in ``BENCHMARK.json`` runs untraced and traced.
   Each run must print every declared metric of its mode, with the declared
   unit, and report its operations correct.

Exits 0 when everything holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 5


def _bump(cid: str) -> str:
    return cid + "x"


CORRUPTIONS = {
    "batch_link": {
        "id moved to another cluster": lambda r: (
            [(r[0][0][0], _bump(r[0][0][1]))] + r[0][1:], r[1]),
        "id dropped": lambda r: (r[0][1:], r[1]),
        "id duplicated": lambda r: (r[0] + r[0][:1], r[1]),
    },
    "incremental_fold": {
        "component changed": lambda r: [(r[0][0], _bump(r[0][1]))] + r[1:],
        "id dropped": lambda r: r[1:],
    },
    "search_rerank": {
        "rows beyond top_k": lambda r: r + [
            (r[0][0], 6 + i, f"extra{i}", 0.0, -1.0) for i in range(5)],
        "ranks swapped": lambda r: [(r[1][0], 1) + r[1][2:], (r[0][0], 2) + r[0][2:]] + r[2:],
        "query lost": lambda r: [x for x in r if x[0] != r[0][0]],
        "rank gap": lambda r: [r[0][:1] + (r[0][1] + 10,) + r[0][2:]] + r[1:],
    },
    "near_dup": {
        "pair dropped": lambda r: r[1:],
        "pair added": lambda r: sorted(r + [("a-extra", "b-extra", 1.0)]),
        "jaccard changed": lambda r: [r[0][:2] + (r[0][2] - 1e-9,)] + r[1:],
    },
}


# the composite's check must catch a corrupted part
CORRUPTIONS["search_dedup"] = {
    f"{part}: {what}": (lambda f, i: lambda r: tuple(
        f(x) if j == i else x for j, x in enumerate(r)))(f, i)
    for i, part in enumerate(("search_rerank", "near_dup"))
    for what, f in CORRUPTIONS[part].items()
}


def check_emitted(declared: dict) -> list[str]:
    problems = []
    for workload in (w["name"] for w in declared["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
                   "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                out = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                problems.append(f"{workload} trace={trace}: no result line (exit {p.returncode})")
                continue
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{workload} trace={trace}: keys {sorted(out)}")
            if not out.get("correct"):
                problems.append(f"{workload} trace={trace}: not correct")
            want = {m["name"]: m["unit"] for m in declared[kind]}
            got = {k: v.get("unit") for k, v in out.get("metrics", {}).items()}
            if got != want:
                missing = sorted(set(want) - set(got))
                extra = sorted(set(got) - set(want))
                wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
                problems.append(f"{workload} trace={trace}: missing {missing}, "
                                f"undeclared {extra}, wrong unit {wrong}")
            print(f"{workload} trace={trace}: {len(got)} metrics, "
                  f"correct={out.get('correct')}", flush=True)
    return problems


def check_corruptions(declared_names: set[str]) -> list[str]:
    sys.path.insert(0, ROOT)
    from perfbench.run import make_workdir, start_session, stop_session
    from perfbench.workloads import WORKLOADS

    work = make_workdir("selftest")
    problems = []
    spark = start_session(work, trace=False)
    try:
        for name, corruptions in CORRUPTIONS.items():
            w = WORKLOADS[name](SEED, tiny=True)
            w.write_inputs(spark, work)
            w.setup(spark, work)
            result = w.op(spark, None)
            clean = w.check(result)
            print(f"{name}: clean result {'passes' if not clean else clean}", flush=True)
            if clean and name in declared_names:
                problems.append(f"{name}: clean result rejected: {clean}")
            for what, corrupt in corruptions.items():
                found = w.check(corrupt(result))
                print(f"  {what}: {'rejected' if found else 'ACCEPTED'}", flush=True)
                if not found:
                    problems.append(f"{name}: check accepted a result with {what}")
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    problems = check_corruptions({w["name"] for w in declared["workloads"]})
    problems += check_emitted(declared)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
