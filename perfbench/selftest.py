"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Runs every workload in ``BENCHMARK.json`` untraced and traced with
``--size tiny`` and asserts that

* the run exits 0 and its last line is the result object, with every
  end-to-end (untraced) or per-layer (traced) metric of ``BENCHMARK.json``
  printed with its unit, and the detail line gives each one's better
  direction;
* every output check passed (``correct``, ``failed == 0``);
* the traced runs show the layers at work: 0 Spark jobs per training
  step on ``vi_replay`` (its fits replay on the driver), Spark jobs,
  shuffle and Python-worker CPU on ``query_mix``;
* run from a directory holding only ``BENCHMARK.json`` and the
  benchmark's files, the runner exits non-zero without a result.

Exits 0 when everything holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]

#: traced-run expectations: metric -> predicate, per workload
LAYER_EXPECT = {
    "vi_replay": {
        "spark.jobs_per_step": lambda v: v == 0,
        "model.grad_ms_per_krow": lambda v: v > 0,
        "spark_exec.first_step_s": lambda v: v > 0,
        "spark_exec.predict_s": lambda v: v > 0,
    },
    "query_mix": {
        "entry.kmeans_embeddings.build_s": lambda v: v > 0,
        "spark.jobs_per_step": lambda v: v >= 1,
        "spark.shuffle_write_bytes": lambda v: v > 0,
        "proc.python_worker_cpu_s": lambda v: v > 0,
    },
}


def _run(args, cwd=ROOT):
    return subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            tag = f"{w['name']} trace={trace}"
            p = _run(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                      "--trace", str(trace), "--size", "tiny"])
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                errors.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            result = json.loads(lines[-1])
            detail = json.loads(lines[-2])["perfbench_detail"]
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                errors.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                errors.append(f"{tag}: checks failed: "
                              f"{[c for c in detail['checks'] if not c['ok']]}")
            for m in spec[kind]:
                got = result["metrics"].get(m["name"])
                shown = detail["metrics"].get(m["name"], {})
                if got is None or got.get("unit") != m["unit"]:
                    errors.append(f"{tag}: metric {m['name']} missing or wrong unit: {got}")
                elif not isinstance(got["value"], float):
                    errors.append(f"{tag}: metric {m['name']} value {got['value']!r}")
                elif kind == "end_to_end" and not got["value"] > 0:
                    errors.append(f"{tag}: end-to-end {m['name']} is {got['value']}")
                if shown.get("better") != m["better"]:
                    errors.append(f"{tag}: metric {m['name']} direction {shown.get('better')}")
            if set(result["metrics"]) != {m["name"] for m in spec[kind]}:
                errors.append(f"{tag}: extra metrics "
                              f"{set(result['metrics']) - {m['name'] for m in spec[kind]}}")
            if trace:
                for name, ok in LAYER_EXPECT.get(w["name"], {}).items():
                    value = result["metrics"][name]["value"]
                    if not ok(value):
                        errors.append(f"{tag}: {name} = {value}")
            print(f"ok {tag}" if not any(e.startswith(tag) for e in errors) else f"FAIL {tag}",
                  flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
              "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"correct"' in p.stdout:
        errors.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    else:
        print("ok bare directory exits non-zero", flush=True)

    for e in errors:
        print("FAIL", e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
