"""Benchmark runner for henbun_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see ``BENCHMARK.json`` for
why each exists): ``vi_replay``, ``query_mix``. One run:

1. generates the workload's inputs from ``--seed`` in a child process
   (the library only ever sees the generated files);
2. launches the JVM meanwhile, then sets up on it: the session from
   ``sources.get_spark`` (the first on that JVM, as a user pays it) plus
   the median of several loads of the inputs is ``setup_s``;
3. warms up once, untimed;
4. runs timed passes back to back on ``local[<nproc>]`` (a closed loop:
   one pass in flight, no client threads) until they add up to
   ``--seconds`` (and at least the workload's ``min_passes``), checking
   each pass's outputs outside the timed region;
5. prints a detail line (seed, nproc, master, tail percentiles, every
   metric with unit and better direction) and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the result carries the end-to-end metrics, their
times scaled to a reference core speed by the sampler beside the run
(``probes.CoreSpeed``); the detail line has them as measured too. With
``--trace 1`` every pass records spans and Spark status-store counters
and the result carries the per-layer metrics; ``trace.overhead_frac`` is
the time a pass spent in tracing calls over the time it spent on the
workload. Spans are written to ``.perfbench_out/`` at exit.

Everything the run writes stays under the checkout (``.perfbench_work/``
is removed at exit). ``--size tiny`` shrinks every input for the
self-test (``perfbench/selftest.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")

#: loads of the inputs per run; setup_s takes their median
LOADS = 3
DRIVER_MEMORY = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def _missing() -> list[str]:
    need = ["henbun_spark/__init__.py", "__spark_entry__.py",
            "tools/check_oracle.py", "tools/gen_sf.py", "BENCHMARK.json"]
    return [n for n in need if not os.path.isfile(os.path.join(ROOT, n))]


def _environment(work: str, nproc: int) -> None:
    """Process environment the session and its Python workers inherit."""
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path[:0] = [ROOT, HERE]


def _launch_conf(master: str, work: str) -> dict:
    """What `sources.get_spark` passes to the JVM it launches."""
    return {"spark.master": master, "spark.driver.memory": DRIVER_MEMORY,
            **_session_conf(work)}


def _session_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }


def _stop_all(spark, tree) -> None:
    """Stop the session, close the JVM, and wait for every process the
    run started to end (SIGKILL after 30 s)."""
    from pyspark import SparkContext

    pids = [p for p in tree.pids() if p != tree.root]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _summary(workload, passes, setup, tree, trace, scale=lambda t0, t1: 1.0):
    """Every metric this run reports, by name, plus the tail note.

    End-to-end times are multiplied by `scale` over the window they were
    measured in: set-up by its own, each pass (and its steps) by the
    pass's. Layer metrics stay as measured."""
    from probes import SPARK_FIELDS, median, tail

    get_spark_s, loads, window = setup
    out = {
        "setup_s": (get_spark_s + median(loads)) * scale(*window),
        "sources.get_spark_s": get_spark_s,
        "sources.load_s": median(loads),
        "failed_frac": sum(not ok for _, ok, _ in workload.checks)
        / max(1, len(workload.checks)),
    }
    if trace:
        out["trace.overhead_frac"] = median(
            r["trace_cost"] / (r["wall"] - r["trace_cost"]) for r in passes
        )
        for kind in ("driver", "jvm", "python_worker"):
            out[f"proc.{kind}_cpu_s"] = median(r["cpu"][kind] for r in passes)
        for field in SPARK_FIELDS[1:]:
            out[f"spark.{field}"] = median(r["spark"][field] for r in passes)
        out.update(workload.layer_metrics(passes))
        return out, {}
    ks = [scale(*r["window"]) for r in passes]
    steps = [t * k for r, k in zip(passes, ks) for t, _ in r["steps"]]
    p, v, n = tail(steps)
    out.update({
        "wall_s": median(r["wall"] * k for r, k in zip(passes, ks)),
        "cpu_s": median(r["cpu"]["total"] * k for r, k in zip(passes, ks)),
        "peak_rss_mb": tree.peak_rss_mb(),
        "step_ms_p50": 1e3 * median(steps),
        "step_ms_tail": 1e3 * v,
        "samples_per_s": sum(rows for r in passes for _, rows in r["steps"]) / sum(steps),
    })
    return out, {"percentile": p, "samples": n}


def run(args, work: str) -> int:
    from probes import CoreSpeed, ProcTree, SparkCounters, Tracer, cpu_delta, host_steal_s

    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    phases = {"start": time.perf_counter()}
    data = os.path.join(work, "inputs")
    os.makedirs(data)
    gen = subprocess.Popen([sys.executable, os.path.join(HERE, "inputs.py"),
                            args.workload, str(args.seed), args.size, data],
                           stdout=sys.stderr)

    import workloads
    from henbun_spark import sources
    from pyspark import SparkConf, SparkContext

    tree, tracer = ProcTree(), Tracer()
    speed = CoreSpeed(os.path.join(work, "corespeed.txt"))
    tree.exclude.add(speed.proc.pid)
    spark = None
    try:
        # the JVM launches while the inputs are generated; set-up is then
        # timed on it, without the launch, which the library does not own
        SparkContext._ensure_initialized(conf=SparkConf().setAll(_launch_conf(master, work).items()))
        phases["jvm"] = time.perf_counter()
        if gen.wait() != 0:
            raise RuntimeError(f"input generation exited with {gen.returncode}")
        with open(os.path.join(data, "manifest.json")) as f:
            manifest = json.load(f)
        phases["inputs"] = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](manifest, args.size, args.seed, work, tracer)
        t_setup = t0 = time.perf_counter()
        spark = sources.get_spark("perfbench", master=master, extra_conf=_session_conf(work))
        get_spark_s, loads = time.perf_counter() - t0, []
        for _ in range(LOADS):
            t0 = time.perf_counter()
            wl.load(spark)
            loads.append(time.perf_counter() - t0)
        if args.trace:
            wl.counters = SparkCounters(spark)
        phases["setup"] = time.perf_counter()
        tree.reset_peaks()
        wl.warmup()
        phases["warmup"] = time.perf_counter()

        # closed loop: the next pass starts when the previous one is
        # done, until the timed passes add up to --seconds
        passes, steal0 = [], host_steal_s()
        while (len(passes) < wl.min_passes
               or sum(r["wall"] for r in passes) < args.seconds):
            rec = {"pass": len(passes), "steps": []}
            tracer.enabled, tracer.pass_id = bool(args.trace), rec["pass"]
            cpu0 = tree.sample()
            with wl.layer("pass") as span:
                cost0, t0 = tracer.cost, time.perf_counter()
                wl.run_pass(rec)
                rec["wall"] = time.perf_counter() - t0
                rec["window"] = (t0, t0 + rec["wall"])
                # tracing calls of the layers inside the timed region
                rec["trace_cost"] = tracer.cost - cost0
            rec["cpu"] = cpu_delta(cpu0, tree.sample())
            if span is not None:
                rec["spark"] = span["spark"]
                wl.probe(rec)
            tracer.enabled = False
            wl.finish(rec)
            passes.append(rec)
        wl.done()
        phases["passes"] = time.perf_counter()
        steal = host_steal_s() - steal0
        speed.stop()
        summary = (wl, passes, (get_spark_s, loads, (t_setup, phases["setup"])), tree, args.trace)
        values, tail_note = _summary(*summary, speed.scale)
        measured = {} if args.trace else _summary(*summary)[0]
        scales = {"setup": speed.scale(t_setup, phases["setup"]),
                  "passes": [speed.scale(*r["window"]) for r in passes]}
        extra = wl.extra(passes)
    finally:
        gen.wait()
        speed.stop()
        _stop_all(spark, tree)
    phases["stop"] = time.perf_counter()

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
    failed = sum(not ok for _, ok, _ in wl.checks)
    for label, ok, note in wl.checks:
        if not ok:
            print(f"check failed: {label}: {note}", file=sys.stderr)
    # a layer the workload does not exercise did no work: it reports 0
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "nproc": nproc, "master": master,
        "step": wl.step, "loads": LOADS,
        "pass_wall_s": [round(r["wall"], 3) for r in passes],
        "step_ms_tail": tail_note,
        "phases_s": {k: round(v - phases["start"], 2) for k, v in phases.items()},
        "host_steal_s": round(steal, 2),
        "core_speed_scale": {"setup": round(scales["setup"], 4),
                             "passes": [round(k, 4) for k in scales["passes"]]},
        "as_measured": {n: measured[n] for n in names if n in measured},
        "checks": [{"check": c, "ok": ok, "detail": d} for c, ok, d in wl.checks],
        "metrics": {n: {**metrics[n], "better": better[n]} for n in names},
        "workload_metrics": extra,
    }
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, len(wl.checks)),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    missing = _missing()
    if missing:
        print(f"not a henbun_spark checkout (missing {', '.join(missing)}); "
              "run from the repository root", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work, nproc)
        return run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
