"""Run one benchmark workload and print its metrics.

Usage:

    python3 perfbench/run.py --workload registry --seed 1 --seconds 5 --trace 0

One driver process on ``local[<cores>]`` runs the workload's operations
back to back (closed loop, one client).  Set-up is session start plus
input generation plus a warm-up pass that also verifies outputs; then
whole passes run until ``--seconds`` have elapsed (at least one).  With
``--trace 0`` the last stdout line holds the end-to-end metrics: the
Spark jobs and tasks a pass runs, and the set-up time.  With
``--trace 1`` untraced and traced passes alternate, at least
``MIN_TRACED_PASSES`` of each, and it holds the per-layer metrics:
medians over the traced passes, and the latency of the untraced ones.
An earlier line records the environment and the verification result.  Everything the run writes
goes under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
# Two traced passes, so the order of untraced and traced passes can
# alternate and the tracing overhead is not biased by JIT warm-up.
MIN_TRACED_PASSES = 2
DRIVER_MEM = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_calibration() -> float:
    """Seconds for a fixed single-thread sha256 loop (a CPU-speed gauge)."""
    t0 = time.perf_counter()
    b = b"x" * 65536
    for _ in range(2000):
        b = hashlib.sha256(b[:65536]).digest() * 2048
    return time.perf_counter() - t0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runtime:
    """The driver session and the process-level counters around it."""

    def __init__(self, work: str):
        local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
        os.makedirs(local)
        os.makedirs(tmp)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(_cores()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
        })
        from pyspark_scd_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        jvm = self.sc._jvm
        self.jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        self._gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def job_ids(self) -> set:
        """Ids of the Spark jobs run outside any job group so far, once
        the status store has caught up with the listener bus."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup())

    def tasks(self, job_ids) -> int:
        """Tasks the jobs completed (skipped stages run none)."""
        store = self.sc._jsc.sc().statusStore()
        return sum(store.job(j).numCompletedTasks() for j in job_ids)

    def gc_s(self) -> float:
        beans = self._gc_beans
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def release(self) -> int:
        """Drop cached relations and leftover persisted RDDs (operators'
        localCheckpoint blocks survive clearCache); returns how many RDDs
        were still persisted, so a leak shows as a count."""
        rdds = self.sc._jsc.getPersistentRDDs()
        left = rdds.size()
        self.spark.catalog.clearCache()
        for rid in list(rdds.keySet().toArray()):
            jrdd = rdds.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
        return left

    def peak_rss_mb(self) -> float:
        return _hwm_mb(self.jvm_pid) + _hwm_mb("self")

    def env(self) -> dict:
        jvm = self.sc._jvm
        return {
            "cores": _cores(),
            "driver_memory": DRIVER_MEM,
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "java_tmpdir": jvm.java.lang.System.getProperty("java.io.tmpdir"),
            "python": platform.python_version(),
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_pass(rt: Runtime, ops, known_bad: dict, tracer=None) -> dict:
    """One pass over ``ops``; only each ``op.run`` is timed.  An op in
    ``known_bad`` failed verification earlier and counts as failed."""
    lat, names, failed, leaked = [], [], {}, 0
    gc0 = rt.gc_s()
    jobs0 = rt.job_ids()
    for op in ops:
        if op.before:
            op.before()
        first_span = len(tracer.spans) if tracer else 0
        t0 = time.perf_counter()
        try:
            op.run(tracer)
            error = None
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            error = f"error: {e}"[:300]
        lat.append(time.perf_counter() - t0)
        names.append(op.name)
        leaked += rt.release()
        if tracer:
            tracer.harvest(tracer.spans[first_span:])
        msg = error or (op.check() if op.check else None) or known_bad.get(op.name)
        if msg:
            print(f"operation failed: {op.name}: {msg}", file=sys.stderr)
            failed[op.name] = msg
    jobs = rt.job_ids() - jobs0
    return {"lat": lat, "names": names, "failed": failed, "leaked": leaked,
            "gc_s": rt.gc_s() - gc0, "jobs": len(jobs), "tasks": rt.tasks(jobs)}


def _geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def layer_metrics(tracer, p: dict, stored_ratio: float) -> dict:
    """Per-layer numbers of one traced pass."""
    spans = tracer.spans

    def under(s, layer):
        while s is not None:
            if s.layer == layer:
                return True
            s = spans[s.parent] if s.parent is not None else None
        return False

    def layer_s(layer, name=None):
        return sum(s.end - s.start for s in tracer.self_layer_spans(spans, layer)
                   if name is None or s.name == name)

    build = [s for s in spans if under(s, "registry")]
    run = [s for s in spans if not under(s, "registry")]
    stages = {sid: tracer.stages[sid] for s in run for sid in s.stage_ids
              if tracer.stages.get(sid)}
    execs = [tracer.executions[e] for s in run for e in s.execution_ids]
    all_eids = [e for s in spans for e in s.execution_ids]
    writes = [s for s in spans if s.name == "write_staged"]
    mb = 1 / 2**20

    def stage_sum(k):
        return sum(st[k] for st in stages.values())

    def plan_sum(k, shapes=execs):
        return sum(e[k] for e in shapes)

    build_s = layer_s("registry")
    return {
        "registry.build_s": build_s,
        "registry.build_jobs": sum(s.jobs for s in build),
        "registry.build_job_s": sum(s.job_s for s in build),
        "registry.py4j_calls": sum(s.py4j for s in tracer.self_layer_spans(spans, "registry")),
        "registry.build_share": build_s / sum(p["lat"]),
        "operators.exec_s": sum(s.job_s for s in run),
        "operators.exec_jobs": sum(s.jobs for s in run),
        "operators.stages": len(stages),
        "operators.tasks": stage_sum("tasks"),
        "operators.executor_run_s": stage_sum("run_s"),
        "operators.executor_cpu_s": stage_sum("cpu_s"),
        "operators.scan_mb": stage_sum("input_b") * mb,
        "operators.shuffle_read_mb": stage_sum("shuffle_read_b") * mb,
        "operators.shuffle_write_mb": stage_sum("shuffle_write_b") * mb,
        "operators.spill_mb": stage_sum("spill_b") * mb,
        "operators.exchanges": plan_sum("exchanges"),
        "operators.single_partition_exchanges": plan_sum("single"),
        "operators.broadcasts": plan_sum("broadcasts"),
        "operators.cached_scans": plan_sum("cached"),
        "functions.python_nodes": plan_sum("python_nodes", [tracer.executions[e] for e in all_eids]),
        "functions.python_rows": plan_sum("python_rows", [tracer.executions[e] for e in all_eids]),
        "functions.python_s": tracer.python_seconds(all_eids),
        "jobs.run_s": layer_s("jobs", "run"),
        "jobs.run_incremental_s": layer_s("jobs", "run_incremental"),
        "scd.plan_s": layer_s("scd"),
        "quality.validate_s": layer_s("quality"),
        "quality.validate_jobs": sum(s.jobs for s in spans if under(s, "quality")),
        "sources.read_s": layer_s("sources", "read_csv_snapshots"),
        "sources.write_s": layer_s("sources", "write_staged"),
        "sources.write_mb": sum(s.counts["bytes"] for s in writes) * mb,
        "sources.files_written": sum(s.counts["files"] for s in writes),
        "sources.archive_s": layer_s("sources", "archive_files"),
        "sources.stored_bytes_per_input_byte": stored_ratio,
        "runtime.gc_s": p["gc_s"],
        "runtime.persisted_rdds_left": p["leaked"],
    }


def measure(rt: Runtime, wl, seed: int, seconds: float, trace: bool):
    """Set up, verify, run the timed passes; returns (metric values,
    run record, spans of the traced passes)."""
    from spans import Tracer

    gen_s = []
    for _ in range(3):  # the deterministic generator is timed three times
        g0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - g0)
    rng = random.Random(seed)
    warm = run_pass(rt, wl.warmup_ops(), {})
    bad = warm["failed"]
    setup_s = rt.start_s + statistics.median(gen_s) + sum(warm["lat"])

    steal0, ticks0 = _cpu_ticks()
    plain, traced, layers, span_log = [], [], [], []
    start = time.perf_counter()
    min_passes = MIN_TRACED_PASSES if trace else 1
    while len(plain) < min_passes or time.perf_counter() - start < seconds:
        if not trace:
            plain.append(run_pass(rt, wl.ops(rng), bad))
            continue
        # Untraced and traced passes alternate, and so does which of
        # the two runs first, so JIT drift does not bias the overhead.
        order = (False, True) if len(plain) % 2 == 0 else (True, False)
        for traced_now in order:
            if not traced_now:
                plain.append(run_pass(rt, wl.ops(rng), bad))
                continue
            with Tracer(rt.spark) as tracer:
                traced.append(run_pass(rt, wl.ops(rng), bad, tracer))
            layers.append(layer_metrics(tracer, traced[-1], wl.stored_bytes_per_input_byte()))
            span_log.append([dataclasses.asdict(s) for s in tracer.spans])
    steal1, ticks1 = _cpu_ticks()

    passes = [warm] + plain + traced
    attempted = sum(len(p["lat"]) for p in passes)
    failed = sum(len(p["failed"]) for p in passes)
    record = {
        "setup": {"session_s": rt.start_s, "generate_s": gen_s,
                  "warmup_s": dict(zip(warm["names"], warm["lat"]))},
        "verification_failures": bad,
        "passes": len(plain),
        "traced_passes": len(traced),
        "cpu": {"cal_1t_s": _cpu_calibration(),
                "steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
                "measure_s": time.perf_counter() - start},
    }
    walls = [sum(p["lat"]) for p in plain]
    # Each operation's median over the untraced passes; their sum is the
    # latency of a typical pass.
    op_s = [statistics.median(p["lat"][p["names"].index(n)] for p in plain)
            for n in plain[0]["names"]]
    if trace:
        metrics = {k: statistics.median(x[k] for x in layers) for k in layers[0]}
        metrics["session.start_s"] = rt.start_s
        metrics["runtime.peak_rss_mb"] = rt.peak_rss_mb()
        metrics["latency.wall_s"] = sum(op_s)
        metrics["latency.op_geomean_s"] = _geomean(op_s)
        traced_wall = statistics.median(sum(p["lat"]) for p in traced)
        metrics["tracing.overhead_frac"] = traced_wall / statistics.median(walls) - 1
        record["root_span_s"] = _root_spans(span_log[-1])
    else:
        metrics = {
            "spark_jobs": statistics.median(p["jobs"] for p in plain),
            "spark_tasks": statistics.median(p["tasks"] for p in plain),
            "setup_s": setup_s,
        }
    record.update(attempted=attempted, failed=failed, pass_walls_s=walls,
                  pass_jobs=[p["jobs"] for p in plain], pass_tasks=[p["tasks"] for p in plain],
                  pass_ops_s=[dict(zip(p["names"], p["lat"])) for p in plain])
    return metrics, record, span_log


def _root_spans(spans: list[dict]) -> dict:
    """Seconds per top-level span (``layer:name``), e.g. a query's
    builder call and its consuming write."""
    out: dict = {}
    for s in spans:
        if s["parent"] is None:
            key = f"{s['layer']}:{s['name']}"
            out[key] = out.get(key, 0.0) + s["end"] - s["start"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, root]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rt = None
    try:
        rt = Runtime(work)
        wl = workloads.make(args.workload, rt.spark, work, args.seed, args.size)
        values, record, span_log = measure(rt, wl, args.seed, args.seconds, bool(args.trace))
        record.update(workload=args.workload, seed=args.seed, trace=args.trace,
                      size=args.size, env=rt.env())
        if span_log:
            path = os.path.join(base, "spans", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(span_log, f)
            record["spans_file"] = os.path.relpath(path, root)
    finally:
        if rt is not None:
            rt.stop()
        shutil.rmtree(work, ignore_errors=True)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
