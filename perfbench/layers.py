"""Per-layer metrics of a traced run, from Spark's event log (executor
side) and the driver spans (driver side).

Jobs are assigned to an op by submission time inside the op's interval
and to a layer by the sink their SQL execution writes (eventlog.SINKS).
Per-op figures are reported as the median over the run's ops; the
ingest probe's figures as the median over its probing epochs.  A layer
that the run does not exercise reports 0.
"""

from __future__ import annotations

from common import median
from eventlog import EventLog, read_events

INGEST_METRICS = (
    "dedup.store_write_s", "dedup.store_files", "dedup.store_bytes",
    "dedup.shuffle_write_bytes", "decontam.grams_collect_s",
    "quality.task_cpu_s", "ingest.epoch_s", "ingest.jobs_per_epoch",
    "ingest.stages_per_epoch", "ingest.tasks_per_epoch", "ingest.task_idle_s",
    "ingest.python_worker_s", "ingest.kept_ratio", "ingest.epoch_growth")


def _interval(c: dict) -> float:
    return c["last_end"] - c["first_submit"] if c["jobs"] else 0.0


def _op_metrics(log: EventLog, tracer, res: dict,
                engine_sinks: tuple[str, ...] | None) -> dict:
    """One timed op.  ``engine_sinks`` names the sinks of the jobs that
    execute the compiled projection; None counts every job of the op."""
    i, t0, t1 = res["op"], res["t0"], res["t1"]
    c = log.counters(t0, t1)
    engine = log.counters(t0, t1, engine_sinks)
    waves = log.counters(t0, t1, ("violations", "summary"))
    ds = log.counters(t0, t1, ("dataset_violations",))
    drift = log.counters(t0, t1, ("baseline_stats",))
    execute_end = max((s["end"] for s in tracer.spans
                       if s["name"] == "run.execute" and s["op"] == i),
                      default=None)
    return {
        "compile.annotate_s": tracer.total("compile.annotate", i),
        "engine.task_cpu_s": engine["cpu_s"],
        "engine.tasks": engine["tasks"],
        "engine.python_worker_s": engine["python_worker_s"],
        "run.jobs": c["jobs"], "run.stages": c["stages"], "run.tasks": c["tasks"],
        "run.task_idle_s": max(0.0, (t1 - t0) - c["busy_s"]),
        "run.waves_s": _interval(waves),
        "run.dataset_checks_s": _interval(ds),
        "run.drift_s": _interval(drift),
        "run.report_s": (max(0.0, execute_end - c["last_end"])
                         if execute_end is not None and c["jobs"] else 0.0),
        "dataset.exchanges": ds["exchanges"],
        "dataset.shuffle_write_bytes": ds["shuffle_write_bytes"],
        "dataset.spill_bytes": ds["spill_bytes"],
        "dataset.task_cpu_s": ds["cpu_s"],
        "drift.scans": drift["scans"],
        "drift.task_cpu_s": drift["cpu_s"],
        "checkpoint.commits": (tracer.count("checkpoint.commit_rows", i)
                               + tracer.count("checkpoint.commit", i)),
        "checkpoint.commit_s": (tracer.total("checkpoint.commit_rows", i)
                                + tracer.total("checkpoint.commit", i)),
        "sink.files_written": res["out_files"],
        "sink.bytes_written": res["out_bytes"],
        "spark.executor_cpu_s": c["cpu_s"],
        "spark.executor_run_s": c["run_s"],
        "spark.gc_s": c["gc_s"],
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
        "spark.python_worker_s": c["python_worker_s"],
        "spark.python_bytes_sent": c["python_bytes_sent"],
    }


def _epoch_metrics(log: EventLog, tracer, res: dict) -> dict:
    """One probing epoch of the ingest probe."""
    t0, t1, op = res["t0"], res["t1"], f"ingest-{res['epoch']}"
    c = log.counters(t0, t1)
    f = res["funnel"]
    return {
        "dedup.store_write_s": tracer.total("dedup.write_band_store", op),
        "dedup.store_files": res["store_files"],
        "dedup.store_bytes": res["store_bytes"],
        "dedup.shuffle_write_bytes": log.counters(
            t0, t1, ("band_store",))["shuffle_write_bytes"],
        "quality.task_cpu_s": log.counters(t0, t1, ("corpus",))["cpu_s"],
        "ingest.epoch_s": res["wall"],
        "ingest.jobs_per_epoch": c["jobs"],
        "ingest.stages_per_epoch": c["stages"],
        "ingest.tasks_per_epoch": c["tasks"],
        "ingest.task_idle_s": max(0.0, (t1 - t0) - c["busy_s"]),
        "ingest.python_worker_s": c["python_worker_s"],
        "ingest.kept_ratio": f["n_kept"] / f["n_in"],
    }


def _durations(tracer, name: str, op=None) -> list[float]:
    return [s["end"] - s["start"] for s in tracer.spans
            if s["name"] == name and s["op"] == op]


def _median_of(rows: list[dict]) -> dict:
    return {k: median([m[k] for m in rows]) for k in (rows[0] if rows else {})}


def per_layer(evdir: str, tracer, results: list[dict],
              engine_sinks: tuple[str, ...] | None,
              kill: dict | None, ingest: list[dict] | None) -> dict:
    log = EventLog(read_events(evdir))
    out = _median_of([_op_metrics(log, tracer, r, engine_sinks) for r in results])
    out["setup.datagen_s"] = median(_durations(tracer, "setup.datagen"))
    out["compile.validator_init_s"] = median(
        _durations(tracer, "compile.validator_init"))
    # the kill-and-resume check (fullpass_fresh traced runs; 0 elsewhere)
    ok = kill is not None and kill.get("ok")
    out["killcheck.skipped_partitions"] = kill["skipped_partitions"] if ok else 0
    out["killcheck.resume_s"] = kill["resume_s"] if ok else 0.0
    out["killcheck.done_partitions_s"] = tracer.total(
        "checkpoint.done_partitions", "resume")
    out["killcheck.commits"] = (tracer.count("checkpoint.commit_rows", "resume")
                                + tracer.count("checkpoint.commit", "resume"))
    # the ingest probe (nested_rules traced runs; 0 elsewhere)
    ok_epochs = [r for r in ingest or () if not r["errors"]]
    probing = [r for r in ok_epochs if r["epoch"] > 0]
    out.update(dict.fromkeys(INGEST_METRICS, 0.0))
    if probing and ok_epochs[0]["epoch"] == 0:
        out.update(_median_of([_epoch_metrics(log, tracer, r) for r in probing]))
        out["decontam.grams_collect_s"] = median(_durations(
            tracer, "decontam.collect_benchmark_grams", "ingest-setup"))
        # the last epoch over the seed epoch, which had no store to probe
        out["ingest.epoch_growth"] = probing[-1]["wall"] / ok_epochs[0]["wall"]
    return out
