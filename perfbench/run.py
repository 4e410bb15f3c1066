"""cerberus_spark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds nothing (pure Python); generates
its inputs from ``--seed`` under ``.perfbench_work/`` in the current
directory, sets up ``SETUP_REPS`` times (once when traced), then runs the
workload's op in a closed loop with one client for ``--seconds`` (at
least the workload's ``min_ops``), checks every op's output, and prints
one human-readable line per metric followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same loop with Spark's event log on and driver spans around the
program's public functions, adds the untimed kill-and-resume check
(``fullpass_fresh``) or ingest probe (``nested_rules``), and reports
the per-layer metrics (see BENCHMARK.json).  Workloads: see
``workloads.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _patch_public(tracer) -> None:
    """Spans around the program's public entry points (trace runs)."""
    from cerberus_spark import engine, run
    from cerberus_spark.functions import decontam, dedup
    from cerberus_spark.operators import dataset
    from cerberus_spark.plans import checkpoint

    tracer.patch(run.ValidationRun, "execute", "run.execute")
    tracer.patch(engine.SparkValidator, "__init__", "compile.validator_init")
    tracer.patch(engine.SparkValidator, "annotate", "compile.annotate")
    for fn in ("uniqueness_violations", "referential_violations",
               "ordering_violations", "multi_profile", "drift_metrics"):
        tracer.patch(dataset, fn, f"dataset.{fn}")
    for fn in ("commit_rows", "commit", "done_partitions"):
        tracer.patch(checkpoint.CheckpointStore, fn, f"checkpoint.{fn}")
    tracer.patch(dedup, "write_band_store", "dedup.write_band_store")
    tracer.patch(dedup, "cross_dup_pairs_stored", "dedup.cross_dup_pairs_stored")
    tracer.patch(decontam, "collect_benchmark_grams", "decontam.collect_benchmark_grams")


def _plan_stats(df) -> dict:
    """Compile-layer plan figures for ``annotate(df)``: time to build
    the executed plan, its node count, lambda (higher-order function)
    count in the optimized plan, and Python-eval nodes."""
    from eventlog import PY_NODE

    t0 = time.time()
    qe = df._jdf.queryExecution()
    executed = qe.executedPlan().treeString()
    plan_s = time.time() - t0
    optimized = qe.optimizedPlan().toString()
    return {"compile.plan_s": plan_s,
            "compile.plan_nodes": sum(1 for ln in executed.splitlines() if ln.strip()),
            "compile.hof_exprs": optimized.count("lambdafunction("),
            "compile.python_eval_nodes": len(PY_NODE.findall(executed))}


def run(args) -> dict:
    from common import (Tracer, cpu_times, host_info, median, scratch_env,
                        start_session, steal_share, stop_jvm, tail)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_work"))
    trace = bool(args.trace)
    tracer = Tracer(trace)
    errors: list[str] = []
    attempted = failed = 0
    try:
        scratch_env(work)
        info = host_info(args.seed)
        w = WORKLOADS[args.workload](work, args.seed, tracer)
        if trace:
            _patch_public(tracer)
        # -- set-up, SETUP_REPS times: session, inputs, compile, warm-up
        # (a traced run reports no setup_s: one set-up, event log on)
        setups, spark = [], None
        evdir = os.path.join(work, "eventlog")
        reps = 1 if trace else SETUP_REPS
        for rep in range(reps):
            if spark is not None:
                w.teardown_rep()
                spark.stop()
            t0 = time.time()
            spark = start_session(work, evdir if trace else None)
            w.setup(spark, rep)
            setups.append(time.time() - t0)
        layer: dict = {}
        if trace:
            layer.update(_plan_stats(w.validator.annotate(w.plan_input)))

        # -- closed loop, one client
        cpu0 = cpu_times()
        results = []
        deadline = time.time() + args.seconds
        i = 0
        while i < w.max_ops and (i < w.min_ops or time.time() < deadline):
            tracer.op = i
            attempted += 1
            t_start = time.time()
            try:
                res = w.op(i)
                t_end = time.time()
                errs = w.check(i, res)
            except Exception as exc:  # a failed op is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                res, t_end, errs = None, time.time(), [f"op {i} raised {exc!r}"]
            tracer.op = None
            if errs:
                failed += 1
                errors += errs
            elif res is not None:
                res.update(op=i, t0=t_start, t1=t_end)
                results.append(res)
            i += 1

        steal = steal_share(cpu0, cpu_times())

        # -- untimed kill-and-resume check (transcripts, traced runs)
        kill = None
        if trace and hasattr(w, "kill_check"):
            attempted += 1
            tracer.op = "resume"
            try:
                kill = w.kill_check(spark)
            except Exception as exc:
                traceback.print_exc(file=sys.stderr)
                kill = {"ok": False, "error": repr(exc)}
            if not kill["ok"]:
                failed += 1
                errors.append(f"kill-and-resume: {kill['error']}")
            tracer.op = None

        # -- untimed ingest probe (nested_rules, traced runs)
        ingest = None
        if trace and w.ingest_probe:
            from workloads import IngestProbe

            probe = IngestProbe(work, args.seed, tracer)
            try:
                ingest = probe.run(spark)
            except Exception as exc:  # set-up failed: no epoch ran
                traceback.print_exc(file=sys.stderr)
                ingest = [{"epoch": 0, "errors": [f"ingest probe set-up "
                                                   f"raised {exc!r}"]}]
            attempted += len(ingest)
            for r in ingest:
                failed += bool(r["errors"])
                errors += r["errors"]

        walls = [r["wall"] for r in results]
        p50 = median(walls)
        tail_v, tail_p = tail(walls)
        rows = median([r["rows"] for r in results])
        ratio = median([r["out_bytes"] / r["in_bytes"] for r in results])
        summary = {
            "setup_s": (median(setups), "s"),
            "op_s_p50": (p50, "s"),
            "op_s_tail": (tail_v, "s"),
            "rows_per_s": (rows / p50 if p50 else 0.0, "rows/s"),
            "bytes_written_per_input_byte": (ratio, "ratio"),
            "failed_op_share": (failed / attempted if attempted else 1.0, "ratio"),
        }
        notes = {"host": info, "workload": w.name, "ops": len(walls),
                 "op_walls_s": [round(x, 4) for x in walls],
                 "op_s_tail_percentile": tail_p,
                 "setups_s": [round(x, 4) for x in setups],
                 "loop_cpu_steal_share": round(steal, 4),
                 "input": w.describe()}
        if kill is not None:
            notes["kill_and_resume"] = {
                "ok": kill["ok"], "error": kill.get("error"),
                "skipped_partitions": kill.get("skipped_partitions"),
                "resume_s": kill.get("resume_s")}
        if ingest is not None:
            notes["ingest_probe"] = dict(probe.describe(), epochs_s=[
                round(r["wall"], 4) for r in ingest if "wall" in r],
                funnels=[r.get("funnel") for r in ingest])
        if trace:
            spark.stop()  # flushes and closes the event log
            spark = None
            from layers import per_layer

            layer.update(per_layer(evdir, tracer, results, w.engine_sinks,
                                   kill, ingest))
            layer["trace.op_s_p50"] = p50
            # the spans outlive the run directory, for reading by hand
            dump = os.path.join(ROOT, ".perfbench_work",
                                f"spans-{w.name}-{args.seed}.json")
            with open(dump, "w") as f:
                json.dump({"notes": notes, "spans": tracer.spans,
                           "op_intervals": [(r["op"], r["t0"], r["t1"])
                                            for r in results]}, f)
        return {"summary": summary, "layer": layer, "notes": notes,
                "attempted": attempted, "failed": failed, "errors": errors}
    finally:
        tracer.unpatch()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cerberus_spark", "__init__.py")):
        print("perfbench: run from the repository root (cerberus_spark/ not "
              f"found under {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # Python workers import cerberus_spark (pickled UDFs) from here too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    out = run(args)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = ([m["name"] for m in spec["per_layer"]] if args.trace
             else [m["name"] for m in spec["end_to_end"]])
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps(out["notes"]))
    for e in out["errors"]:
        print("CHECK FAILED:", e)
    for name, (v, unit) in out["summary"].items():
        extra = (f"  (p{out['notes']['op_s_tail_percentile']} of "
                 f"{out['notes']['ops']} ops)" if name == "op_s_tail" else "")
        print(f"{name:32s} {v:14.6f} {unit}{extra}")
    values = {k: v for k, (v, _u) in out["summary"].items()}
    values.update(out["layer"])
    for name in sorted(out["layer"]):
        print(f"{name:32s} {out['layer'][name]:14.6f} {units.get(name, '')}")
    missing = [n for n in names if n not in values]
    if missing:
        raise SystemExit(f"perfbench: no value for metrics {missing}")
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
