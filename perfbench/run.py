"""Seeded, host-sized geowarp-spark benchmark.

    python3 perfbench/run.py --workload warp_chunks --seed 1 --seconds 10 --trace 0

One run: synthesize the workload's inputs from ``--seed``; start a
session sized from the host (``host.sizing``); run one untimed warm-up
pass (``setup_s`` spans ``get_spark`` to the end of it) and untimed
settle passes for ``SETTLE_S`` seconds; run timed passes until the one
whose end is nearest to ``--seconds``; stop Spark and every process it
started; then check every pass's outputs against a serial oracle.

Stdout ends with two JSON lines: a ``report`` (host and run facts, pass
walls with quartiles, per-step walls, failures) and the result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates untraced and traced
passes in one session (event log on for both) and reports the per-layer
metrics, including ``trace_overhead`` = traced / untraced pass wall.

``PERFBENCH_INJECT=tile_byte|lineage_row`` corrupts one output of the
first timed pass before the checks (used by ``perfbench/selftest.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# untimed passes after the warm-up that ends setup_s run for at least this
# long: the first passes of a session run slower while the JIT settles
SETTLE_S = 6.0

END_TO_END = {"setup_s": "s", "pass_s": "s", "tiles_per_s": "1/s",
              "peak_rss_mb": "MB"}
STEPS = ("near", "median", "commit", "lineage", "readback")
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_tiff_s": "s",
    "sources.chunk_records_s": "s",
    "kernels.warp_ms.near": "ms",
    "kernels.warp_ms.bilinear": "ms",
    "kernels.warp_ms.median": "ms",
    "kernels.share": "ratio",
    **{f"step.{s}.{k}": u for s in STEPS
       for k, u in (("build_s", "s"), ("build_jobs", "count"), ("run_s", "s"))},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.core_util": "ratio",
    "spark.driver_only_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB",
    "python.rows_received": "count",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.total_s": "s",
    "plans.commit_s": "s",
    "plans.lineage_s": "s",
    "plans.bytes_per_tile": "B",
    "trace_overhead": "ratio",
    "failed_frac": "ratio",
}


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def run_pass(spark, inp, steps_fn, state, idx, tagger=None) -> dict:
    """Build and run each step in order; a failed step fails the rest of
    its pass (they consume its output)."""
    from perfbench import host

    steps = steps_fn(spark, inp, state)
    results, broken = [], None
    pid = host.jvm_pid(spark)
    cpu0, vm0 = host.tree_cpu_s(pid) + sum(os.times()[:2]), host.vm_cpu()
    t0, epoch0 = time.perf_counter(), time.time()
    for st in steps:
        r = {"step": st, "build_s": 0.0, "run_s": 0.0, "error": broken}
        if broken is None:
            try:
                if tagger:
                    tagger.set(idx, st.name, "build")
                tb = time.perf_counter()
                obj = st.build()
                r["build_s"] = time.perf_counter() - tb
                if tagger:
                    tagger.set(idx, st.name, "run")
                tr = time.perf_counter()
                state[st.name] = st.run(obj)
                r["run_s"] = time.perf_counter() - tr
            except Exception as e:  # counted in `failed`, reported below
                traceback.print_exc()
                broken = r["error"] = f"{st.name}: {type(e).__name__}: {e}"[:500]
        results.append(r)
    wall = time.perf_counter() - t0
    cpu = host.tree_cpu_s(pid) + sum(os.times()[:2]) - cpu0
    steal = host.steal_share(vm0, host.vm_cpu())
    if tagger:
        tagger.clear()
    return {"idx": idx, "wall": wall, "t0": epoch0, "t1": epoch0 + wall,
            "cpu_s": cpu, "steal": steal,
            "steps": results, "state": state, "traced": tagger is not None}


def inject(kind: str, p: dict) -> None:
    from perfbench.warp import flip_byte

    st = p["state"]
    if kind == "tile_byte":
        flip_byte(st["near"] if "near" in st else st["readback"][0])
    elif kind == "lineage_row":
        lin = st["readback"][1]
        lin.at[lin.index[0], "tiles_emitted"] += 1
    else:
        raise SystemExit(f"unknown PERFBENCH_INJECT={kind!r}")


def measure(args, work: str) -> tuple[dict, dict]:
    from perfbench import host, tracing, warp

    size = host.sizing()
    facts = host.facts(ROOT, size, args.workload, args.seed)
    methods, steps_fn = warp.WORKLOADS[args.workload]
    inp = warp.make_inputs(args.seed, work)
    event_dir = os.path.join(work, "events") if args.trace else None

    def new_state(i):
        return {"store_root": os.path.join(work, "store", f"pass-{i}")}

    vm0, t0 = host.vm_cpu(), time.perf_counter()
    spark = host.start_session(ROOT, work, size, f"perfbench-{args.workload}",
                               event_dir)
    start_s = time.perf_counter() - t0
    passes = []
    try:
        sc = spark.sparkContext
        tagger = tracing.Tagger(sc) if args.trace else None
        passes.append(run_pass(spark, inp, steps_fn, new_state(0), 0))
        setup_s = time.perf_counter() - t0
        setup_steal = host.steal_share(vm0, host.vm_cpu())
        t_settle = time.perf_counter()
        while time.perf_counter() - t_settle < SETTLE_S:
            passes.append(run_pass(spark, inp, steps_fn,
                                   new_state(len(passes)), len(passes)))
        settled = len(passes)
        with host.RssSampler(host.jvm_pid(spark)) as rss:
            t_win = time.perf_counter()
            while True:
                i = len(passes)
                traced = bool(args.trace) and i % 2 == 0
                p = run_pass(spark, inp, steps_fn, new_state(i), i,
                             tagger if traced else None)
                if traced:
                    p["status"] = tracing.status_counts(
                        sc, i, [r["step"].name for r in p["steps"]])
                passes.append(p)
                timed = passes[settled:]
                # end with the pass whose end is nearest to --seconds
                left = args.seconds - (time.perf_counter() - t_win)
                done = left < p["wall"] / 2
                if args.trace:
                    done = done and len({q["traced"] for q in timed}) == 2
                if done:
                    break
    finally:
        host.stop_session(spark)
    timed = passes[settled:]

    # ---- checks, outside every timed wall
    if os.environ.get("PERFBENCH_INJECT"):
        inject(os.environ["PERFBENCH_INJECT"], timed[0])
    timings: dict = {}
    expected = warp.serial_expected(inp, methods, timings)
    trace = tracing.attribute(tracing.read_event_log(event_dir)) \
        if args.trace else None
    attempted, failures = 0, []
    for p in passes:
        for r in p["steps"]:
            attempted += 1
            st, why = r["step"], r["error"]
            if why is None:
                try:
                    if not st.check(p["state"][st.name], p["state"], expected):
                        why = f"{st.name}: output mismatch"
                except Exception as e:  # e.g. a later step's output is missing
                    traceback.print_exc()
                    why = f"{st.name}: check failed: {type(e).__name__}: {e}"
            key = (p["idx"], st.name)
            if why is None and trace and key in trace["py_steps"] and \
                    trace["totals"][key]["python.rows_received"] <= 0:
                why = f"{st.name}: Python node received no rows"
            if why is not None:
                failures.append(f"pass {p['idx']}: {why}")

    walls = [p["wall"] for p in timed]
    q1, q3 = quartiles(walls)
    tiles = sum(len(expected[m]) for m in methods)
    report = dict(facts, setup_s=setup_s, session_start_s=start_s,
                  setup_cpu_steal=setup_steal,
                  tiles_x_methods=tiles,
                  pass_s={"median": median(walls), "q1": q1, "q3": q3,
                          "n": len(walls), "walls": walls,
                          "traced": [p["traced"] for p in timed]},
                  pass_cpu_s=[p["cpu_s"] for p in passes],
                  cpu_steal=[p["steal"] for p in passes],
                  steps={r["step"].name: {
                      "build_s": [q["steps"][k]["build_s"] for q in timed],
                      "run_s": [q["steps"][k]["run_s"] for q in timed]}
                      for k, r in enumerate(timed[0]["steps"])},
                  failures=failures)
    result = {"correct": not failures, "attempted": attempted,
              "failed": len(failures)}
    if not args.trace:
        pass_s = median(walls)
        values = {"setup_s": setup_s, "pass_s": pass_s,
                  "tiles_per_s": tiles / pass_s, "peak_rss_mb": rss.peak_mb}
        result["metrics"] = {k: {"value": values[k], "unit": u}
                             for k, u in END_TO_END.items()}
        return report, result

    # ---- per-layer metrics (traced run)
    from perfbench.warp import chunk_records_s, dir_bytes, read_tiff_s

    traced = [p for p in timed if p["traced"]]
    pass_s = median(p["wall"] for p in traced)
    untraced_s = median(p["wall"] for p in timed if not p["traced"])
    kernel_ms = {m: 1e3 * median(timings.get(m, ())) for m in
                 ("near", "bilinear", "median")}
    kernel_s = sum(len(expected[m]) * kernel_ms[m] / 1e3 for m in methods)
    v = {k: 0.0 for k in PER_LAYER}
    v.update({
        "session.start_s": start_s,
        "sources.read_tiff_s": read_tiff_s(inp) if args.workload == "warp_chunks" else 0.0,
        "sources.chunk_records_s": chunk_records_s(inp) if args.workload == "warp_publish" else 0.0,
        **{f"kernels.warp_ms.{m}": ms for m, ms in kernel_ms.items()},
        "kernels.share": kernel_s / (size["cores"] * pass_s),
        "trace_overhead": pass_s / untraced_s,
        "failed_frac": len(failures) / attempted,
    })
    per_pass = []
    for p in traced:
        tot = {}
        for (pi, _), c in trace["totals"].items():
            if pi == p["idx"]:
                for k, x in c.items():
                    tot[k] = tot.get(k, 0.0) + x
        pv = dict(p["status"], **tot)
        pv["spark.core_util"] = tot.get("spark.task_run_s", 0.0) / (
            size["cores"] * p["wall"])
        pv["spark.driver_only_s"] = tracing.uncovered(
            p["t0"], p["t1"], trace["spans"][p["idx"]])
        for r in p["steps"]:
            name = r["step"].name
            pv[f"step.{name}.build_s"] = r["build_s"]
            pv[f"step.{name}.run_s"] = r["run_s"]
        if args.workload == "warp_publish":
            st = p["state"]
            pv["plans.commit_s"] = p["steps"][0]["build_s"] + p["steps"][0]["run_s"]
            pv["plans.lineage_s"] = p["steps"][1]["build_s"] + p["steps"][1]["run_s"]
            pv["plans.bytes_per_tile"] = dir_bytes(os.path.join(
                st["store_root"], "snapshots", st["snap"])) / tiles
        per_pass.append(pv)
    for k in set().union(*per_pass):
        v[k] = median(pv.get(k, 0.0) for pv in per_pass)
    result["metrics"] = {k: {"value": float(v[k]), "unit": u}
                         for k, u in PER_LAYER.items()}
    return report, result


def main(argv=None) -> int:
    from perfbench.warp import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        report, result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "geowarp_spark")):
        print(f"perfbench: no geowarp_spark package under {ROOT}",
              file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
