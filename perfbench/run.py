"""Benchmark entry point.

    python3 perfbench/run.py --workload {forecast,corpus} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It writes seeded inputs under
.bench_work/, starts one client process (perfbench/client.py) that
holds a single SparkSession at local[nproc], waits for it while
sampling the resident memory of its whole process tree from /proc, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics of a separate traced run (see client.py). The lines before it
restate every metric by name and unit, with the host stamp.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CLIENT_TIMEOUT_S = 160
DRIVER_MEM = "4g"  # the session's own default (16g) exceeds a 15 GB host


def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _group_pids(pgid: int) -> list[str]:
    """Live processes in the client's process group: the client, the
    JVM it launched and the JVM's Python workers. A group survives the
    re-parenting that follows a parent's exit, a parent link does not."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st is not None and st[2] == str(pgid) and st[0] != "Z":
                out.append(pid)
    return out


def _group_rss_bytes(pgid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _group_pids(pgid):
        st = _proc_stat(pid)
        if st is not None:
            total += int(st[21]) * page  # field 24: rss in pages
    return total


def _stop_group(pgid: int, wait_s: float) -> None:
    """Wait up to wait_s for every process of the group to end, then
    kill what lingers."""
    for sig, grace in ((None, wait_s), (signal.SIGTERM, 3.0),
                       (signal.SIGKILL, 3.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.time() + grace
        while time.time() < deadline:
            if not _group_pids(pgid):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes of group {pgid} did not end")


def _tree_digest(root: str) -> str:
    """Digest of the program's sources: the checkout is not always a
    git repository, so this stands in for the commit id."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "adcirctime2cogs_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), root).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit(root: str) -> str:
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, check=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "tree-" + _tree_digest(root)


def _stamp(root: str, seed: int, nproc: int, spark_version: str,
           steal_share: float) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "host": platform.node(), "nproc": nproc,
        "mem_gb": round(mem_kb / 2**20, 1),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        # share of the CPU time the run wanted that the virtual
        # machine's host took back (see hostcpu.py)
        "steal_pct": round(100 * steal_share, 1),
        "spark": spark_version, "python": platform.python_version(),
        "seed": seed, "commit": _commit(root),
    }


def _declared_metrics(root: str, kind: str, values: dict) -> dict:
    """Name the values the way BENCHMARK.json declares them, with their
    units. A per-layer metric of a layer the workload bypasses is 0."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    if not values:
        return {}
    unknown = set(values) - set(declared)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    if kind == "end_to_end" and set(values) != set(declared):
        raise RuntimeError(f"end-to-end metrics not measured: "
                           f"{set(declared) - set(values)}")
    return {name: {"value": values.get(name, 0), "unit": unit}
            for name, unit in declared.items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "adcirctime2cogs_spark",
                                       "pipeline.py")):
        print("run from the repository root: adcirctime2cogs_spark/ "
              "is missing", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import hostcpu
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    work = os.path.join(root, ".bench_work", wl.name)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    ctx = wl.make_inputs(os.path.join(work, "inputs"), args.seed)
    ctx["seed"] = args.seed
    with open(os.path.join(work, "ctx.json"), "w") as fh:
        json.dump(ctx, fh)

    nproc = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        # Python workers import the package too; without it on their
        # path they fail outside the repo root
        PYTHONPATH=os.pathsep.join(
            [root] + [x for x in [os.environ.get("PYTHONPATH")] if x]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM (the launcher too): temp files inside the checkout,
        # and no hsperfdata file, which the JVM always puts in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                          "-XX:-UsePerfData",
    )
    cmd = [sys.executable, os.path.join(HERE, "client.py"),
           "--workload", wl.name, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work]
    # a TERM to this process still stops the client's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    peak = 0
    with open(os.path.join(work, "client.log"), "w") as log:
        spawned = time.time()
        cpu_start = hostcpu.cpu_times()
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        timed_out = True
        try:
            while time.time() - spawned < CLIENT_TIMEOUT_S:
                if proc.poll() is not None:
                    timed_out = False
                    break
                peak = max(peak, _group_rss_bytes(proc.pid))
                time.sleep(0.1)
        finally:
            # the JVM exits on its own once the client has gone
            _stop_group(proc.pid, 0.0 if timed_out else 15.0)
            proc.wait()
    result_path = os.path.join(work, "client.json")
    if timed_out or proc.returncode != 0 or not os.path.exists(result_path):
        print(f"client failed (exit {proc.returncode}); see "
              f"{os.path.join(work, 'client.log')}", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)

    jobs = res["jobs"]
    failed = sum(1 for j in jobs if j["errors"])
    stamp = _stamp(root, args.seed, nproc, res["spark_version"],
                   hostcpu.steal_share(cpu_start, hostcpu.cpu_times()))
    print("stamp " + json.dumps(stamp))
    for j in jobs:
        print(f"job {j['index']}: wall_s={j['wall_s']} "
              f"steal_share={j.get('steal_share')} "
              f"unstolen_s={j.get('unstolen_s')} "
              f"errors={len(j['errors'])}")
        for e in j["errors"]:
            print("  " + e.strip().replace("\n", "\n  "))
    print(f"failed_ratio {failed / len(jobs)} ({failed}/{len(jobs)})")

    print(f"peak_rss_mb {peak / 2**20}")
    if args.trace:
        values = res.get("layers", {})
        if values:
            values["peak_rss_mb"] = peak / 2**20
    elif any(j["wall_s"] is None for j in jobs):
        values = {}  # a job raised: there is no wall to report
    else:
        # every timing is a wall less the hypervisor's steal
        walls = [j["unstolen_s"] for j in jobs]
        warm = walls[1:]
        warm_s = statistics.median(warm)
        # a tail percentile needs ten warm jobs beyond it; a run has
        # far fewer, so the walls are printed in order instead
        print(f"warm job walls in order (n={len(warm)}): {warm}")
        print(f"{wl.units_name}_per_s {wl.units(ctx) / warm_s}")
        print("output_bytes " + str(jobs[-1].get("output_bytes")))
        setup_wall = res["ready_time"] - spawned
        print(f"setup wall_s={setup_wall}")
        values = {
            "setup_s": hostcpu.unstolen(setup_wall, cpu_start,
                                        res["ready_cpu"]),
            "cold_job_s": walls[0],
            "warm_job_s": warm_s,
            "items_per_s": wl.units(ctx) / warm_s,
        }
    metrics = _declared_metrics(root, "per_layer" if args.trace
                                else "end_to_end", values)
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": len(jobs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
