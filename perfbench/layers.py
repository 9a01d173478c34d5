"""Per-layer metrics of a traced run, computed from its span file.

Every metric here is derived from the spans alone (plus the list of
kernel-bound query names the run records), so a kept span file can be
re-analysed later. Times are seconds, sizes bytes; a metric of a layer the
workload never calls reads 0, and each ratio is reported with its base.
"""
import bisect
import statistics


def _dur(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _union_s(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e6


def compute(spans, kernel_queries=()):
    ops = [s for s in spans if s["name"].startswith("op.")]
    ops.sort(key=lambda s: s["start_us"])
    by_id = {s["id"]: s for s in ops}
    jobs = {}
    for s in spans:
        if s["name"] == "job" and s["op"] in by_id:
            jobs.setdefault(s["op"], []).append(s)
    # planning phases carry no op id: the op whose interval holds them owns them
    starts = [o["start_us"] for o in ops]
    phases = {}
    for s in spans:
        if s["name"].startswith("phase."):
            i = bisect.bisect_right(starts, s["start_us"]) - 1
            if i >= 0 and s["start_us"] <= ops[i]["end_us"]:
                key = s["name"][len("phase."):]
                phases[key] = phases.get(key, 0.0) + _dur(s)

    def job_sum(op_ids, key):
        return [sum(j["attrs"].get(key, 0) for j in jobs.get(o, [])) for o in op_ids]

    def gap(o):
        return max(0.0, _dur(o) - _union_s([(j["start_us"], j["end_us"]) for j in jobs.get(o["id"], [])]))

    def named(name):
        return [s for s in spans if s["name"] == name]

    ids = [o["id"] for o in ops]
    n = max(1, len(ops))
    m = {
        "planning.analysis_s": phases.get("analysis", 0.0) / n,
        "planning.optimization_s": phases.get("optimization", 0.0) / n,
        "planning.physical_s": phases.get("planning", 0.0) / n,
        "jobs.count": _mean([len(jobs.get(i, [])) for i in ids]),
        "jobs.driver_gap_s": _mean([gap(o) for o in ops]),
        "jobs.task_s": _mean([t / 1e9 for t in job_sum(ids, "task_ns")]),
        "jobs.tasks": _mean(job_sum(ids, "tasks")),
        "shuffle.read_bytes": _mean(job_sum(ids, "shuffle_read_bytes")),
        "shuffle.write_bytes": _mean(job_sum(ids, "shuffle_write_bytes")),
    }
    for fam in ("core", "analytics", "relational", "pipeline", "ext"):
        m[f"mix.{fam}_s"] = _median([_dur(o) for o in ops
                                     if o["name"] == "op.query" and o["attrs"].get("family") == fam])
    kern = [o["id"] for o in ops if o["name"] == "op.query" and o["attrs"].get("name") in set(kernel_queries)]
    m["mix.kernel_task_s"] = _mean([t / 1e9 for t in job_sum(kern, "task_ns")])

    scans = [o["id"] for o in ops if o["name"] == "op.scan"] or ids
    rows, task_ns = job_sum(scans, "input_rows"), job_sum(scans, "task_ns")
    m["scan.input_rows"] = _mean(rows)
    m["scan.input_bytes"] = _mean(job_sum(scans, "input_bytes"))
    m["scan.rows_per_s"] = sum(rows) / (sum(task_ns) / 1e9) if sum(task_ns) else 0.0

    for kind in ("append", "merge", "delete", "compact"):
        m[f"store.{kind}_s"] = _median([_dur(s) for s in named(f"store.{kind}")])
    m["store.output_bytes"] = _mean([s["attrs"]["bytes"] for s in named("store.output")])
    files = named("store.files")
    m["store.files_live"] = files[-1]["attrs"]["files_live"] if files else 0
    m["store.delete_files_live"] = files[-1]["attrs"]["delete_files_live"] if files else 0

    refresh_ops = [o for o in ops if o["name"] == "op.refresh"]
    results = named("mview.result")
    m["mview.refresh_s"] = _median([_dur(s) for s in named("mview.refresh")])
    m["mview.refresh_jobs"] = _mean([len(jobs.get(o["id"], [])) for o in refresh_ops])
    m["mview.refresh_driver_gap_s"] = _mean([gap(o) for o in refresh_ops])
    m["mview.groups_changed"] = _mean([s["attrs"]["groups_changed"] for s in results])
    m["mview.incremental_ratio"] = (
        sum(s["attrs"]["mode"] == "incremental" for s in results) / len(results) if results else 0.0)
    m["mview.refreshes"] = len(results)

    serves = named("rewrite")
    m["rewrite.hit_ratio"] = sum(bool(s["attrs"]["hit"]) for s in serves) / len(serves) if serves else 0.0
    m["rewrite.serves"] = len(serves)

    fits = named("soccer.fit")
    m["soccer.features_s"] = _median([_dur(s) for s in named("soccer.features")])
    m["soccer.fit_s"] = _median([_dur(s) for s in fits])
    m["soccer.fit_jobs"] = _mean([
        sum(1 for j in jobs.get(f["op"], []) if f["start_us"] <= j["start_us"] <= f["end_us"])
        for f in fits])
    m["soccer.model_io_s"] = _median([_dur(s) for s in named("soccer.model_io")])
    m["soccer.predict_s"] = _median([_dur(s) for s in named("soccer.predict")])

    gc = named("jvm.gc")
    m["jvm.gc_s"] = gc[-1]["attrs"]["gc_ms"] / 1000.0 if gc else 0.0
    m["jvm.gc_count"] = gc[-1]["attrs"]["gc_count"] if gc else 0
    return m
