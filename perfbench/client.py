"""One benchmark client process: a single SparkSession that runs one
workload's jobs back to back (closed loop, one job at a time) and
writes what it saw to a JSON file for run.py.

Untraced (--trace 0): one cold job, then a fixed number of warm jobs.
Every job records its wall and the share of the CPU time it wanted
that the hypervisor stole (hostcpu.py).
Traced (--trace 1): a traced cold job, a warm-up job, a traced and an
untraced warm job, then the workload's extra layer probes, with the
Spark event log on. The per-layer metrics come from the traced warm
job; the tracing overhead is its wall minus the untraced one's.

Every job gets fresh output and work directories, and its outputs are
checked after its wall clock stops.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import traceback

import hostcpu
import tracing
import workloads

# job indices of the traced run: 0 cold (traced), 1 warm-up (the first
# warm job still pays JIT warm-up), 2 traced, 3 untraced
TRACED, UNTRACED = 2, 3


def _run_one(spark, wl, ctx, work, i, tracer=None) -> dict:
    job_dir = os.path.join(work, "jobs", str(i))
    shutil.rmtree(job_dir, ignore_errors=True)
    os.makedirs(job_dir)
    job = {"index": i, "wall_s": None, "errors": [], "out": None}
    cpu = hostcpu.cpu_times()
    t = time.perf_counter()
    try:
        if tracer is None:
            out = wl.run_job(spark, ctx, job_dir)
        else:
            with tracer.span("job"):
                out = wl.run_job(spark, ctx, job_dir, tracer)
        job["wall_s"] = time.perf_counter() - t
        cpu_end = hostcpu.cpu_times()
        job["steal_share"] = hostcpu.steal_share(cpu, cpu_end)
        job["unstolen_s"] = hostcpu.unstolen(job["wall_s"], cpu, cpu_end)
        job["out"] = out
        job["errors"] = wl.check(ctx, out, os.path.join(job_dir, "check"))
        job["output_bytes"] = wl.output_bytes(out)
    except Exception:  # a failed job is counted, and the run goes on
        job["errors"].append(traceback.format_exc())
    return job


def _layers(wl, ctx, tracer, groups, jobs, extras) -> dict:
    """Per-layer metrics of the traced warm job: the workload's own
    layers, then the engine and tracing totals every workload has."""
    job = f"job{TRACED}"
    root = tracing.by_name(tracer.spans, job)["job"][0]
    engine = tracing.engine_totals(
        groups, [sp["id"] for sp in tracer.spans if sp["job"] == job])
    m = wl.layers(ctx, tracer.spans, groups, jobs, TRACED, extras)
    m.update({
        "output_bytes": jobs[TRACED]["output_bytes"],
        "spark.tasks": engine["tasks"],
        "spark.shuffle_write_bytes": engine["shuffle_write_bytes"],
        "spark.shuffle_write_s": engine["shuffle_write_s"],
        "spark.spill_bytes": engine["spill_bytes"],
        "spark.gc_s": engine["gc_s"],
        "trace.job_s": jobs[TRACED]["wall_s"],
        "trace.overhead_s": jobs[TRACED]["wall_s"] - jobs[UNTRACED]["wall_s"],
        "trace.uncovered_s": tracing.self_times(tracer.spans)[root["id"]],
    })
    return m


def _layer_summary(tracer, groups) -> dict:
    """Per job: every span's duration, self time and engine counters,
    and the check that the span self times add up to the job wall."""
    selfs = tracing.self_times(tracer.spans)
    by_job: dict[str, dict] = {}
    for sp in tracer.spans:
        j = by_job.setdefault(str(sp["job"]), {"spans": []})
        eng = tracing.engine_totals(groups, [sp["id"]])
        eng.pop("result_task_s")
        j["spans"].append({
            "id": sp["id"], "name": sp["name"], "parent": sp["parent"],
            "dur_s": sp["end"] - sp["start"], "self_s": selfs[sp["id"]],
            **eng,
        })
    for j in by_job.values():
        roots = [s for s in j["spans"] if s["name"] == "job"]
        if roots:
            j["job_s"] = roots[0]["dur_s"]
            j["uncovered_s"] = roots[0]["self_s"]
            j["layers_self_s"] = sum(s["self_s"] for s in j["spans"]
                                     if s["name"] != "job")
    return by_job


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--work", required=True)
    args = p.parse_args()

    wl = workloads.WORKLOADS[args.workload]
    with open(os.path.join(args.work, "ctx.json")) as fh:
        ctx = json.load(fh)
    conf = {}
    if args.trace:
        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    from adcirctime2cogs_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    result = {"ready_time": time.time(), "ready_cpu": hostcpu.cpu_times(),
              "spark_version": spark.version}

    if not args.trace:
        n = 1 + workloads.warm_jobs(wl, args.seconds)
        jobs = [_run_one(spark, wl, ctx, args.work, i) for i in range(n)]
        spark.stop()
    else:
        tracer = tracing.Tracer(spark)
        jobs = []
        for i, traced in enumerate((True, False, True, False)):
            tracer.job = f"job{i}"
            jobs.append(_run_one(spark, wl, ctx, args.work, i,
                                 tracer if traced else None))
        tracer.job = "extras"
        ok = all(not j["errors"] for j in jobs)
        if ok:
            extras = wl.trace_extras(
                spark, ctx, os.path.join(args.work, "jobs", str(TRACED)),
                tracer)
        spark.stop()  # closes the event log
        if ok:
            groups = tracing.read_event_log(log_dir)
            result["layers"] = _layers(wl, ctx, tracer, groups, jobs, extras)
            trace_dir = os.path.join(args.work, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, "spans.json"))
            with open(os.path.join(trace_dir, "layers.json"), "w") as fh:
                json.dump({"metrics": result["layers"],
                           "jobs": _layer_summary(tracer, groups)},
                          fh, indent=1)
    result["jobs"] = [{k: v for k, v in j.items() if k != "out"}
                      for j in jobs]
    with open(os.path.join(args.work, "client.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
