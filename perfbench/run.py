#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in this process against a ``local[nproc]`` Spark
session: generate inputs from the seed (cached, untimed), set up, run
the timed pass (a fixed number of operations derived from ``--seconds``,
one client, closed loop), check the outputs, and print one JSON line.
With ``--trace 1`` the run also writes a Spark event log and prints the
per-layer breakdown instead of the end-to-end metrics. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "ingest_upsert": "perfbench.ingest",
    "analytics_read": "perfbench.analytics",
    "llm_curation": "perfbench.curation",
}


class Ctx:
    def __init__(self, **kw) -> None:
        self.__dict__.update(kw)


def driver_mem_mb() -> int:
    """Driver heap derived from the machine: a sixteenth of MemTotal,
    within [1 GiB, 2 GiB]. The session's own default (24g) exceeds small
    boxes. The workloads peak below 0.9 GiB of heap."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return min(2048, max(1024, total_kb // 1024 // 16))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class StealClock:
    """Wall time with the hypervisor's steal taken out.

    On a shared host the hypervisor runs other guests on this VM's vCPUs
    while they have work ("steal" in /proc/stat), which stretches every
    wall time here by whatever the neighbours do. An interval's adjusted
    time is its wall time scaled by executed / (executed + stolen) vCPU
    time over the interval: the wall it would have taken had every
    runnable vCPU been given the CPU. Raw wall and steal go to the
    ``detail`` line."""

    def __init__(self) -> None:
        self.t, self.run, self.steal = self._read()

    @staticmethod
    def _read() -> tuple[float, int, int]:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        # user nice system idle iowait irq softirq steal
        return time.perf_counter(), v[0] + v[1] + v[2] + v[5] + v[6], v[7]

    def lap(self) -> tuple[float, float, float]:
        """(adjusted s, wall s, stolen vCPU-s) since the last lap."""
        t, run, steal = self._read()
        wall, d_run, d_steal = t - self.t, run - self.run, steal - self.steal
        self.t, self.run, self.steal = t, run, steal
        share = d_run / (d_run + d_steal) if d_run + d_steal else 1.0
        return wall * share, wall, d_steal / os.sysconf("SC_CLK_TCK")


def tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest rank with >= 10 samples above.
    Below 21 samples that rank is at or under the median, so the pass's
    slowest operation (percentile 100) is reported instead."""
    s = sorted(lat)
    i = len(s) - 11 if len(s) >= 21 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s)


def isolate(tmp: str, trace: bool, cpus: int, mem_mb: int) -> None:
    """Per-run temp root for Spark's local dirs, JVM/Python temp files,
    the event log and the working directory (derby/metastore)."""
    for sub in ("local", "java", "events"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    confs = ["--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}/java"),
             "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        for k, v in {"enabled": "true", "dir": f"file://{tmp}/events",
                     "compress": "false", "rolling.enabled": "false",
                     "logStageExecutorMetrics": "true"}.items():
            confs.append("--conf " + shlex.quote(f"spark.eventLog.{k}={v}"))
        confs.append("--conf spark.executor.metrics.pollingInterval=100ms")
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "java"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "PYSPARK_SUBMIT_ARGS": " ".join(confs) + " pyspark-shell",
    })
    os.chdir(tmp)


def jvm_alive(spark) -> bool:
    try:
        spark.sparkContext._jvm.System.currentTimeMillis()
        return True
    except Exception:
        return False


def stop_all(spark) -> None:
    """Stop Spark and wait until the JVM and its PySpark daemon and
    workers have exited: the JVM exits when its stdin closes, and the
    daemon when the JVM is gone."""
    from pyspark import SparkContext

    from perfbench.procs import tree

    if jvm_alive(spark):
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def run(args) -> dict:
    from perfbench.procs import TreeSampler
    from perfbench.trace import Tracer

    cpus = len(os.sched_getaffinity(0))
    mem = driver_mem_mb()
    tmp = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    cache = os.path.join(HERE, ".cache")
    os.makedirs(cache, exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tracer = Tracer()
    ctx = Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
              cache=cache, tmp=tmp, tracer=tracer, spark=None, cpus=cpus)
    detail = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "driver_mem_mb": mem, "loadavg_start": loadavg()}
    try:
        wl = importlib.import_module(WORKLOADS[args.workload]).Workload(ctx)
        t = time.perf_counter()
        wl.generate()
        detail["generate_s"] = time.perf_counter() - t
        isolate(tmp, ctx.trace, cpus, mem)
        sampler = TreeSampler().start()

        # ---- set-up: session, starting state, warm-up
        from s3_glue_redshift_guide_spark.session import get_spark

        setup_clock = StealClock()
        t = time.perf_counter()
        with tracer.span("session", "session"):
            spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        ctx.spark = tracer.spark = spark
        tracer.job_groups = ctx.trace
        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_ops = []
        for label, op in wl.warm():
            t_op = time.perf_counter()
            op()
            warm_ops.append((label, round(time.perf_counter() - t_op, 3)))
        warm_s = time.perf_counter() - t
        setup_s, setup_wall, setup_steal = setup_clock.lap()
        detail.update(session_s=session_s, build_s=build_s, warm_s=warm_s,
                      warm_ops=warm_ops, setup_wall_s=setup_wall,
                      setup_steal_s=setup_steal)

        # ---- timed pass: closed loop, one client
        tracer.spans.clear()
        tracer.counters.clear()
        lat, labels, failed, planned = [], [], 0, wl.planned_ops()
        cpu0 = sampler.cpu_s()
        pass_clock = StealClock()
        with tracer.span("pass") as pass_span:
            for label, op in wl.ops():
                op_clock = StealClock()
                try:
                    op()
                except Exception as e:  # counted, and the loop goes on
                    failed += 1
                    print(f"op {label} failed: {e!r}"[:2000], file=sys.stderr)
                    if not jvm_alive(spark):
                        break
                lat.append(op_clock.lap()[0])
                labels.append(label)
        pass_s, pass_wall, pass_steal = pass_clock.lap()
        cpu_s = sampler.cpu_s() - cpu0
        detail.update(pass_wall_s=pass_wall, pass_steal_s=pass_steal)
        peak = dict(sampler.peak)
        failed += planned - len(lat)
        counters = dict(tracer.counters)
        if ctx.trace and failed == 0:
            counters.update(wl.pass_counters())

        # ---- output checks (untimed)
        errors = []
        if failed == 0:
            try:
                errors = wl.verify(sampler)
            except Exception as e:  # a check that cannot run has failed
                errors.append(f"output check raised {e!r}")
        for e in errors:
            print("check failed:", e, file=sys.stderr)
        if jvm_alive(spark):
            spark.stop()  # flushes the event log before it is parsed
        sampler.stop()
        tail_v, tail_p = tail(lat)
        e2e = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_v, "s"),
            "cpu_s": (cpu_s, "s"),
        }
        spans, layers = {}, {}
        for sp in tracer.spans:
            spans[sp.name] = spans.get(sp.name, 0.0) + sp.self_s
            layers[sp.layer] = layers.get(sp.layer, 0.0) + sp.self_s
        detail.update(
            pass_s=pass_s, ops=len(lat), op_tail_pct=tail_p, loadavg_end=loadavg(),
            peak_mb={k: v / 2**20 for k, v in peak.items()},
            span_self_s=spans, layer_self_s=layers,
            op_p50_by_label={k: statistics.median(
                [x for x, lb in zip(lat, labels) if lb == k]) for k in set(labels)})
        if ctx.trace:
            from perfbench.layers import per_layer

            metrics = per_layer(tracer, counters, pass_span, session_s, peak,
                                sampler, os.path.join(tmp, "events"), cpus)
        else:
            metrics = e2e
            _record(cache, args.workload, args.seconds, pass_wall)
        return {"correct": failed == 0 and not errors, "attempted": planned,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "detail": detail, "trace": ctx.trace}
    finally:
        if ctx.spark is not None:
            stop_all(ctx.spark)
        os.chdir(HERE)
        shutil.rmtree(tmp, ignore_errors=True)


def _record(cache: str, workload: str, seconds: int, pass_wall: float) -> None:
    """Keep the untraced pass's raw wall time: the traced run compares
    its own raw wall time against the median of these."""
    with open(os.path.join(cache, "untraced_pass_wall_s.jsonl"), "a") as f:
        f.write(json.dumps({"workload": workload, "seconds": seconds,
                            "pass_wall_s": pass_wall}) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "s3_glue_redshift_guide_spark")):
        print("error: the s3_glue_redshift_guide_spark package is not in "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    res = run(args)
    detail = res.pop("detail")
    print(json.dumps({"detail": detail}))
    if res.pop("trace"):
        from perfbench.layers import print_table

        print_table(res["metrics"], detail, os.path.join(HERE, ".cache"),
                    args.workload, args.seconds)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
