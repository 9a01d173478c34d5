#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload sql-mix --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, into
perfbench/target), generates the workload's inputs from the seed inside a
fresh work directory under .perfbench-work/, runs one JVM (local[4], one
client thread, closed loop), checks every op's answer outside its timer,
deletes the work directory, and prints each metric by name and unit (names
and units from BENCHMARK.json and metrics.json). The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics of a traced run
(--trace 1). Optional: --out FILE writes the full result there, --spans FILE
keeps the traced run's span file.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("sql-mix", "store-churn", "soccer-pipeline")
SQL_MIX_SF = 0.02  # sql_mix_costs.json is measured at this scale
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt when the sources changed, and
    returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    fp = sources_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    log("perfbench: building engine + benchmark with sbt ...")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cps:
        log(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cps[-1]}, f)
    return cps[-1]


def pct(xs, q):
    """Linear-interpolated percentile (inclusive), q in (0, 1)."""
    xs = sorted(xs)
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0]
    i = q * (len(xs) - 1)
    lo = int(i)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)


def times(samples, kind=None, **attrs):
    return [s["s"] for s in samples if not s["failed"] and (kind is None or s["kind"] == kind)
            and all(s.get(k) == v for k, v in attrs.items())]


def kind_medians(samples):
    """Median time of each op kind (a query, or a store op on one table or
    view), so a percentile over kinds does not move with how many times
    each kind ran in the window."""
    by = {}
    for s in samples:
        if not s["failed"]:
            by.setdefault(f"{s['kind']}:{s['name']}", []).append(s["s"])
    return [statistics.median(v) for v in by.values()]


def named_metrics(workload, res, samples, timed_s, setup_s, error_rate):
    """Every end-to-end metric of the workload: name -> (value, n). Rates
    are per second spent inside timed ops, so untimed checks do not count."""
    ok = times(samples)
    kinds = kind_medians(samples)
    m = {
        "setup_s": (setup_s, 1),
        "error_rate": (error_rate, len(samples)),
        "live_heap_mb": (res["live_heap_mb"], 1),
        "ops_per_s": (len(ok) / timed_s, len(ok)),
        "kind_geomean_s": (math.exp(statistics.fmean(map(math.log, kinds))) if kinds else None,
                           len(kinds)),
        "kind_p90_s": (pct(kinds, 0.9), len(kinds)),
    }
    if workload == "sql-mix":
        qs = times(samples, "query")
        m["queries_per_s"] = (len(qs) / timed_s, len(qs))
        m["query_p50_s"] = (pct(qs, 0.5), len(qs))
        m["query_p90_s"] = (pct(qs, 0.9), len(qs))
    if workload == "store-churn":
        for name, kind, attrs in [("commit_p50_s", "commit", {}),
                                  ("refresh_small_p50_s", "refresh", {"class": "small"}),
                                  ("refresh_large_p50_s", "refresh", {"class": "large"}),
                                  ("serve_p50_s", "serve", {}), ("scan_p50_s", "scan", {})]:
            xs = times(samples, kind, **attrs)
            m[name] = (pct(xs, 0.5), len(xs))
        m["store_bytes_per_row"] = (res["store_bytes_per_row"], res["fact_rows"])
    if workload == "soccer-pipeline":
        for kind in ("features", "train", "predict"):
            xs = times(samples, kind)
            m[f"{kind}_p50_s"] = (pct(xs, 0.5), len(xs))
    return m


def catalog():
    """BENCHMARK.json (the contract metrics and the per-layer metrics, with
    their units) and metrics.json (every other end-to-end metric)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        extra = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update({k: v["unit"] for k, v in extra["end_to_end"].items()})
    return bench, units


def run_jvm(classpath, work, args, data_dir, deadline):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--result", result,
        "--costs", os.path.join(HERE, "sql_mix_costs.json")]
    if data_dir:
        cmd += ["--data", data_dir]
    jlog = os.path.join(work, "jvm.log")
    with open(jlog, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(jlog) as f:
            log(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM ended with {rc}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write the full result JSON to this file")
    ap.add_argument("--spans", help="keep the traced run's span file here")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found next to perfbench/")
    bench, units = catalog()
    classpath = build()

    t_setup0 = time.time()
    deadline = t_setup0 + RUN_LIMIT_S
    work = os.path.join(ROOT, ".perfbench-work",
                        f"{args.workload}-{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        data_dir, parts = None, {}
        if args.workload == "sql-mix":
            import gen_tables
            data_dir = os.path.join(work, "data")
            gen_tables.write(data_dir, args.seed, SQL_MIX_SF)
            parts["generate"] = time.time() - t_setup0
        res = run_jvm(classpath, work, args, data_dir, deadline)
        samples = res["samples"]
        problems = list(res["problems"])
        wrong_queries = {}
        if args.workload == "sql-mix":
            import oracle
            wrong_queries = {k: v for k, v in oracle.check(
                ROOT, data_dir, os.path.join(work, "ref")).items() if v}
            problems += [f"oracle: {k}: {v}" for k, v in sorted(wrong_queries.items())]
        all_samples = samples + res.get("traced_samples", []) + res.get("after_samples", [])
        bad = [s for s in all_samples if s["failed"] or s["wrong"] or s["name"] in wrong_queries]
        attempted = len(all_samples)
        error_rate = len(bad) / max(1, attempted)
        setup_s = res["first_op_epoch_ms"] / 1000.0 - t_setup0
        named = named_metrics(args.workload, res, samples, res["timed_s"], setup_s, error_rate)
        out = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "setup_parts": {**parts, **res["setup_parts"]},
               "samples": samples,
               "end_to_end": {k: {"value": v, "unit": units[k], "n": n}
                              for k, (v, n) in named.items()},
               "problems": problems}
        for k, (v, n) in named.items():
            print(f"{args.workload:16s} {k:22s} {v if v is not None else float('nan'):14.6f} "
                  f"{units[k]:6s} n={n}")
        if args.trace:
            import layers
            with open(res["spans"]) as f:
                spans = json.load(f)
            per_layer = layers.compute(spans, res.get("kernel_queries", []))
            traced = named_metrics(args.workload, res, res["traced_samples"],
                                   res["traced_timed_s"], setup_s, error_rate)
            after = named_metrics(args.workload, res, res["after_samples"],
                                  res["after_timed_s"], setup_s, error_rate)
            # against the untraced window after the traced one: the first
            # window holds the coldest pass, which would hide the overhead
            base = after["kind_geomean_s"][0]
            tr = traced["kind_geomean_s"][0]
            per_layer["trace.overhead_s"] = tr - base
            per_layer["trace.overhead_ratio"] = (tr - base) / base
            out["per_layer"] = per_layer
            out["traced_end_to_end"] = {k: v for k, (v, _) in traced.items()}
            for k in sorted(per_layer):
                print(f"{args.workload:16s} {k:28s} {per_layer[k]:16.6f} {units[k]}")
            if args.spans:
                shutil.copyfile(res["spans"], args.spans)
        log("perfbench: set-up parts (s): " + ", ".join(
            f"{k} {v:.2f}" for k, v in out["setup_parts"].items()))
        for p in problems[:20]:
            log(f"perfbench: {p}")
        if args.out:
            with open(args.out, "w") as f:
                json.dump(out, f, indent=1)
        if args.trace:
            metrics = {m["name"]: {"value": out["per_layer"][m["name"]], "unit": m["unit"]}
                       for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: {"value": named[m["name"]][0], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        complete = all(v["value"] is not None for v in metrics.values())
        print(json.dumps({"correct": not bad and not problems and complete, "attempted": attempted,
                          "failed": len(bad), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
