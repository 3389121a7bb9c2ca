"""Turns the JVM's raw record into the benchmark's metrics.

End-to-end metrics come from every measured job. Per-layer metrics come
from the traced jobs only: each Spark job is attributed to the library
module named by the innermost `graft.*` frame of its call site, or, when
the benchmark itself called the action, to the layer of the benchmark
span that was open when the job started.
"""
import json
import os
import re
import statistics
import sys

MB = 1024 * 1024


def percentile(values, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def quartile_spread(values):
    """Interquartile distance as a share of the median (the steadiness test)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def interval_union(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_FRAME = re.compile(r"^\s*(?:at\s+)?([\w.$]+)\.([\w$<>]+)\(")


def _method(raw):
    # lambdas compile to $anonfun$<enclosing method>$<n>
    if "$anonfun$" in raw:
        raw = raw.split("$anonfun$", 1)[1]
    return raw.split("$")[0] or raw


def module_of(callsite, stream_query="", span_name=""):
    """(module, method) for one Spark job.

    - a streaming micro-batch job belongs to streaming.StreamOps;
    - otherwise the innermost frame of the library (`graft.<pkg>.<Object>`)
      in the call site names the module, e.g. ops.Barrier / cut;
    - an action the benchmark called itself (a `perfbench.` frame comes
      first) belongs to the layer of the enclosing benchmark span, e.g.
      the lazy frame `ml.IvfIndex.search` returned and the benchmark
      collected, or to `bench` for the benchmark's own checks;
    - anything else is `unattributed`.
    """
    if stream_query:
        return "streaming.StreamOps", "trigger"
    for line in callsite.splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        cls, meth = m.group(1), m.group(2)
        if cls.startswith("graft."):
            return cls[len("graft."):].split("$")[0], _method(meth)
        if cls.startswith("perfbench."):
            parts = span_name.split(".")
            if len(parts) >= 3 and parts[0] != "bench":
                return ".".join(parts[:2]), parts[2]
            return "bench", span_name or "job"
    return "unattributed", ""


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _jobs_by_iter(raw, spans_by_id):
    out = {}
    for j in raw["spark_jobs"]:
        span = spans_by_id.get(j["parent"], {}).get("name", "")
        j["module"], j["method"] = module_of(j["callsite"], j["stream"], span)
        out.setdefault(j["iter"], []).append(j)
    return out


def self_times(spans, jobs):
    """Self time (ms) per span name: duration minus what its child spans
    and the Spark jobs it started cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in jobs:
        children.setdefault(j["parent"], []).append((j["start"], j["end"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
        out[s["name"]] = out.get(s["name"], 0) + (s["end"] - s["start"]) - interval_union(kids)
    return out


def _layer_metrics(jobs, spans, triggers, cores, job_wall_s):
    # the benchmark's own check jobs run after the timed job: leave them out
    jobs = [j for j in jobs if j["module"] != "bench"]

    def sel(module, methods=None):
        return [j for j in jobs if j["module"] == module
                and (methods is None or j["method"] in methods)]

    def wall(js):
        return interval_union([(j["start"], j["end"]) for j in js]) / 1000.0

    def total(js, key, scale=1.0):
        return sum(j[key] for j in js) / scale

    barrier = sel("ops.Barrier")
    sources = sel("ops.Sources")
    fit = sel("ml.Prod2Vec", {"train"})
    io = sel("ml.Prod2Vec", {"save", "load"})
    build = sel("ml.IvfIndex", {"build"})
    search = sel("ml.IvfIndex", {"search"})
    stream_jobs = sel("streaming.StreamOps")
    nojob = sum(ms for name, ms in self_times(spans, jobs).items()
                if name not in ("job", "bench.check"))
    all_wall = wall(jobs)
    task_s = total(jobs, "task_ms", 1000.0)
    return {
        "barrier.jobs": len(barrier), "barrier.wall_s": wall(barrier),
        "barrier.task_s": total(barrier, "task_ms", 1000.0),
        "sources.jobs": len(sources),
        "sources.read_jobs": len([j for j in sources if not j["method"].startswith("write")]),
        "sources.wall_s": wall(sources), "sources.write_mb": total(sources, "output", MB),
        "quality.jobs": len(sel("ops.Quality")), "quality.wall_s": wall(sel("ops.Quality")),
        "dedup.jobs": len(sel("ops.Dedup")), "dedup.wall_s": wall(sel("ops.Dedup")),
        "curate.count_jobs": len(sel("app.CorpusPipeline")),
        "curate.wall_s": wall(sel("app.CorpusPipeline")),
        "prod2vec.fit_wall_s": wall(fit), "prod2vec.fit_task_s": total(fit, "task_ms", 1000.0),
        "prod2vec.io_wall_s": wall(io),
        "ivf.build_jobs": len(build), "ivf.build_wall_s": wall(build),
        "ivf.search_jobs": len(search), "ivf.search_task_s": total(search, "task_ms", 1000.0),
        "stream.add_batch_ms": _med([t["durations"].get("addBatch", 0) for t in triggers]),
        "stream.planning_ms": _med([t["durations"].get("queryPlanning", 0) for t in triggers]),
        "stream.wal_commit_ms": _med([t["durations"].get("walCommit", 0) for t in triggers]),
        "stream.state_commit_ms": _med([t["state_commit_ms"] for t in triggers]),
        "stream.state_rows": max([t["state_rows"] for t in triggers], default=0),
        "stream.state_mb": max([t["state_bytes"] for t in triggers], default=0) / MB,
        "stream.trigger_tasks": total(stream_jobs, "tasks") / len(triggers) if triggers else 0,
        "stream.events_per_s": sum(t["rows"] for t in triggers) / job_wall_s if triggers else 0,
        "driver.nojob_s": nojob / 1000.0,
        "exec.jobs": len(jobs), "exec.tasks": total(jobs, "tasks"),
        "exec.task_s": task_s, "exec.cpu_s": total(jobs, "cpu_ns", 1e9),
        "exec.gc_s": total(jobs, "gc_ms", 1000.0),
        "exec.core_util": task_s / (job_wall_s * cores) if job_wall_s else 0,
        "exec.job_wall_s": all_wall,
        "exec.shuffle_write_mb": total(jobs, "shuffle_write", MB),
        "exec.shuffle_read_mb": total(jobs, "shuffle_read", MB),
        "exec.spill_mb": total(jobs, "spill", MB),
        "exec.failed_tasks": total(jobs, "failed_tasks"),
    }


def summarize(raw, units, trace_dir):
    """The result object: end-to-end metrics, or per-layer ones when traced.
    `units` maps metric name -> unit (from BENCHMARK.json); a traced run's
    spans go to a file under `trace_dir`."""
    jobs = raw["jobs"]
    walls = [j["wall_s"] for j in jobs if j["ok"]]
    ops = [o for j in jobs for o in j["ops_ms"]]
    if not raw["trace"]:
        metrics = {
            "setup_s": _med(raw["setup_s"]),
            "job_s": _med(walls),
            "job_cpu_s": _med([j["cpu_s"] for j in jobs if j["ok"]]),
        }
    else:
        spans = raw["spans"]
        spans_by_id = {s["id"]: s for s in spans}
        per_iter = _jobs_by_iter(raw, spans_by_id)
        traced = [j for j in jobs if j["traced"]]
        rows = []
        for j in traced:
            it = j["iter"]
            rows.append(_layer_metrics(
                per_iter.get(it, []), [s for s in spans if s["iter"] == it],
                [t for t in raw["triggers"] if t["iter"] == it], raw["cores"], j["wall_s"]))
        metrics = {k: _med([r[k] for r in rows]) for k in rows[0]} if rows else {}
        # operation latencies of every job in the run: triggers of the
        # stream, probe batches of the IVF lookup
        kind = "stream.trigger" if raw["workload"] == "event_stream" else "ivf.query"
        for other in ("stream.trigger", "ivf.query"):
            for p in (50, 90):
                metrics[f"{other}_p{p}_ms"] = percentile(ops, p) if ops and other == kind else 0.0
        all_jobs = [j for js in per_iter.values() for j in js]
        attributed = [j for j in all_jobs if j["module"] != "unattributed"]
        metrics["jvm.peak_heap_mb"] = raw["peak_heap_mb"]
        metrics["trace.attributed_pct"] = 100.0 * len(attributed) / max(1, len(all_jobs))
        # the first job of a batch run is cold: compare warm jobs only
        untraced = [j["wall_s"] for j in jobs if not j["traced"] and j["ok"] and j["iter"] > 1]
        metrics["trace.overhead_s"] = (_med([j["wall_s"] for j in traced]) - _med(untraced)
                                      if traced and untraced else 0.0)
        write_trace(raw, all_jobs, trace_dir)
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def write_trace(raw, jobs, trace_dir):
    """Spans (benchmark calls, Spark jobs as their children) as JSON
    lines, and self time per layer on stderr."""
    os.makedirs(trace_dir, exist_ok=True)
    run_id = f"{raw['workload']}-seed{raw['seed']}-{os.getpid()}"
    path = os.path.join(trace_dir, run_id + ".jsonl")
    job_spans = [{"id": f"job{j['id']}", "name": f"spark.job:{j['module']}", "start": j["start"],
                  "end": j["end"], "parent": j["parent"], "iter": j["iter"]} for j in jobs]
    with open(path, "w") as fh:
        for s in raw["spans"] + job_spans:
            fh.write(json.dumps(dict(s, run=run_id)) + "\n")
    selfs = self_times(raw["spans"], jobs)
    print(f"perfbench: spans written to {path}", file=sys.stderr)
    print("perfbench: self time per layer (ms, all traced jobs):", file=sys.stderr)
    for name, ms in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  {name:45s} {ms:10.0f}", file=sys.stderr)
