"""Per-layer metrics of a traced run: benchmark spans plus a stdlib
parser for Spark's event log (uncompressed, not rolled).

Each Spark job maps to a layer by its job group, which the tracer set
to the layer of the span that launched it. Jobs with a foreign group
(a streaming query tags its own jobs with its run id) go to the
innermost span open at their submission time. Stage task metrics and
the ``MapInPandas`` "time to run Python workers" metric are summed per
layer, over jobs submitted during the timed pass.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

MB = 2**20
#: job-group layers, named after the package modules they time
ENGINE = ["inference", "incremental", "warehouse_copy", "snapshots_write",
          "snapshots_read", "queries", "text", "dedup", "similarity"]
ENGINE_METRICS = [("jobs", "count"), ("exec_cpu_s", "s"), ("gc_s", "s"),
                  ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("py_worker_s", "s"),
                  ("driver_s", "s"), ("slot_util", "ratio")]
QUERIES = ["q1_pricing_summary", "q5_regional_revenue", "q3_shipping_priority",
           "agg_rollup", "win_rank_topk", "join_asof_events",
           "join_range_events", "ev_session_window"]
#: name -> unit, in report order
PER_LAYER = {
    "session.start_s": "s",
    "crawl.wall_s": "s", "crawl.input_mb": "MB",
    "trigger.poll_s": "s", "job.wall_s": "s", "job.batches": "count",
    "copy.stage_s": "s", "copy.load_s": "s", "copy.staged_mb": "MB",
    "merge.wall_s": "s", "merge.written_mb": "MB", "merge.write_amp": "ratio",
    "optimize.wall_s": "s", "optimize.rewritten_mb": "MB", "table.files": "count",
    "lookup.wall_s": "s", "lookup.files_read_ratio": "ratio",
    "range.wall_s": "s", "cdf.wall_s": "s",
    "catalog.load_s": "s",
    **{f"query.{q}.wall_s": "s" for q in QUERIES},
    "text_stats.wall_s": "s",
    "minhash.wall_s": "s", "minhash.pairs": "count",
    "semdedup.wall_s": "s", "semdedup.pairs": "count",
    "ivfpq.wall_s": "s", "ivfpq.recall": "ratio",
    **{f"{layer}.{m}": u for layer in ENGINE for m, u in ENGINE_METRICS},
    "tree.peak_rss_mb": "MB", "jvm.peak_rss_mb": "MB", "py_workers.peak_rss_mb": "MB",
    "py_workers.count": "count", "jvm.heap_peak_mb": "MB", "jvm.threads": "count",
    "trace.pass_s": "s", "trace.unattributed_s": "s", "trace.attributed_share": "ratio",
}


def read_event_log(events_dir: str):
    """(jobs, stage metrics, peak JVM heap bytes) from the one log file."""
    jobs, stages, stage_job, heap = {}, {}, {}, 0
    for path in glob.glob(os.path.join(events_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "t0": e["Submission Time"] / 1000.0, "t1": None}
                    for s in e["Stage IDs"]:
                        stage_job.setdefault(s, e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    acc = {a["Name"]: float(a["Value"]) for a in info["Accumulables"]
                           if str(a.get("Value", "")).lstrip("-").isdigit()}
                    stages[info["Stage ID"]] = acc
                for upd in e.get("Executor Metrics Updated") or []:
                    heap = max(heap, upd["Executor Metrics"].get("JVMHeapMemory", 0))
                if "Executor Metrics" in e:
                    heap = max(heap, e["Executor Metrics"].get("JVMHeapMemory", 0))
    for sid, acc in stages.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            job.setdefault("stages", []).append(acc)
    return jobs, heap


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer(tracer, counters, pass_span, session_s, peak, sampler,
              events_dir, cpus) -> dict:
    spans = [s for s in tracer.spans if s.t0 >= pass_span.t0 and s.t1 <= pass_span.t1]

    def wall(name):
        return sum(s.wall for s in spans if s.name == name)

    c = counters.get
    m = {
        "session.start_s": session_s,
        "crawl.wall_s": wall("crawl"), "crawl.input_mb": c("crawl.input_bytes", 0) / MB,
        "trigger.poll_s": sum(s.self_s for s in spans if s.name == "poll"),
        "job.wall_s": wall("job"), "job.batches": c("job.batches", 0),
        "copy.stage_s": wall("copy") - wall("copy.load"), "copy.load_s": wall("copy.load"),
        "copy.staged_mb": c("copy.staged_bytes", 0) / MB,
        "merge.wall_s": wall("merge"), "merge.written_mb": c("merge.written_bytes", 0) / MB,
        "merge.write_amp": (c("merge.written_bytes", 0) / c("copy.staged_bytes")
                            if c("copy.staged_bytes") else 0.0),
        "optimize.wall_s": wall("optimize"),
        "optimize.rewritten_mb": c("optimize.rewritten_bytes", 0) / MB,
        "table.files": c("table.files", 0),
        "lookup.wall_s": wall("lookup"),
        "lookup.files_read_ratio": (c("lookup.files_read", 0) / c("lookup.files_total")
                                    if c("lookup.files_total") else 0.0),
        "range.wall_s": wall("range"), "cdf.wall_s": wall("cdf"),
        "catalog.load_s": wall("catalog"),
        **{f"query.{q}.wall_s": wall(f"query.{q}") for q in QUERIES},
        "text_stats.wall_s": wall("text_stats"),
        "minhash.wall_s": wall("minhash"), "minhash.pairs": c("minhash.pairs", 0),
        "semdedup.wall_s": wall("semdedup"), "semdedup.pairs": c("semdedup.pairs", 0),
        "ivfpq.wall_s": wall("ivfpq"), "ivfpq.recall": c("ivfpq.recall", 0.0),
    }

    jobs, heap = read_event_log(events_dir)
    by_layer: dict[str, list] = {}
    for job in jobs.values():
        if job["t1"] is None or not pass_span.t0 <= job["t0"] <= pass_span.t1:
            continue
        layer = job["group"] if job["group"] in ENGINE else None
        if layer is None:
            open_ = [s for s in spans if s.t0 <= job["t0"] <= s.t1]
            layer = max(open_, key=lambda s: s.t0).layer if open_ else None
        by_layer.setdefault(layer, []).append(job)
    for layer in ENGINE:
        lj = by_layer.get(layer, [])
        st = [acc for j in lj for acc in j.get("stages", [])]

        def tot(name, st=st):
            return sum(a.get(name, 0.0) for a in st)

        busy = _union([(j["t0"], j["t1"]) for j in lj])
        self_s = sum(s.self_s for s in spans if s.layer == layer)
        run_s = tot("internal.metrics.executorRunTime") / 1000.0
        m.update({
            f"{layer}.jobs": len(lj),
            f"{layer}.exec_cpu_s": tot("internal.metrics.executorCpuTime") / 1e9,
            f"{layer}.gc_s": tot("internal.metrics.jvmGCTime") / 1000.0,
            f"{layer}.shuffle_mb": tot("internal.metrics.shuffle.write.bytesWritten") / MB,
            f"{layer}.spill_mb": tot("internal.metrics.diskBytesSpilled") / MB,
            f"{layer}.py_worker_s": tot("time to run Python workers") / 1000.0,
            f"{layer}.driver_s": max(0.0, self_s - busy),
            f"{layer}.slot_util": run_s / (cpus * busy) if busy else 0.0,
        })
    attributed = sum(s.self_s for s in spans if s.layer is not None)
    m.update({
        "tree.peak_rss_mb": peak["total"] / MB,
        "jvm.peak_rss_mb": peak["jvm"] / MB,
        "py_workers.peak_rss_mb": peak["py_worker"] / MB,
        "py_workers.count": len(sampler.workers),
        "jvm.heap_peak_mb": heap / MB,
        "jvm.threads": sampler.jvm_threads,
        "trace.pass_s": pass_span.wall,
        "trace.unattributed_s": pass_span.wall - attributed,
        "trace.attributed_share": attributed / pass_span.wall,
    })
    assert list(m) == list(PER_LAYER), set(m) ^ set(PER_LAYER)
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}


def print_table(metrics: dict, detail: dict, cache: str, workload: str,
                seconds: int) -> None:
    """Human-readable per-layer table, then the tracing overhead: this
    traced pass against the median untraced pass recorded in this
    checkout for the same workload and ``--seconds``, both raw wall
    time."""
    val = {k: v["value"] for k, v in metrics.items()}
    print(f"per-layer breakdown of the traced pass ({workload}, "
          f"pass {val['trace.pass_s']:.2f} s)")
    print(f"{'layer':<16}{'self_s':>8}{'jobs':>6}{'cpu_s':>8}{'gc_s':>7}"
          f"{'shufMB':>8}{'spillMB':>8}{'py_s':>8}{'drv_s':>8}{'util':>6}")
    self_by = detail.get("layer_self_s", {})
    for layer in ENGINE:
        g = lambda k: val[f"{layer}.{k}"]  # noqa: E731
        print(f"{layer:<16}{self_by.get(layer, 0.0):>8.2f}{g('jobs'):>6.0f}"
              f"{g('exec_cpu_s'):>8.2f}{g('gc_s'):>7.2f}{g('shuffle_mb'):>8.2f}"
              f"{g('spill_mb'):>8.2f}{g('py_worker_s'):>8.2f}{g('driver_s'):>8.2f}"
              f"{g('slot_util'):>6.2f}")
    print(f"{'(benchmark)':<16}{val['trace.unattributed_s']:>8.2f}")
    print(f"layer self times cover {100 * val['trace.attributed_share']:.1f}% of the pass")
    runs = []
    try:
        with open(os.path.join(cache, "untraced_pass_wall_s.jsonl")) as f:
            runs = [r["pass_wall_s"] for r in map(json.loads, f)
                    if (r["workload"], r["seconds"]) == (workload, seconds)]
    except OSError:
        pass
    if runs:
        base = statistics.median(runs)
        print(f"tracing overhead: {100 * (val['trace.pass_s'] / base - 1):+.1f}% "
              f"(traced pass {val['trace.pass_s']:.2f} s vs median of {len(runs)} "
              f"untraced passes {base:.2f} s, wall time)")
    else:
        print("tracing overhead: no untraced run of this workload recorded yet")
