"""Sync-pipeline benchmark of the graft engine: one command, one workload.

    python3 benchmark/run.py --workload cdc_serve|curation \\
        --seed N --seconds S --trace 0|1

Builds the engine and harness from source (see build.py), cuts the
inputs for the seed from the checked-in test-data extract (inputs.py),
runs the workload in one JVM with ``local[nproc]`` as one closed-loop
client, checks the outputs, and prints
as the last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the per-layer
metrics from spans timed around each public call. The line before it is a
detail object (seed, environment, sample counts, the per-workload metric
names of README.md). See README.md for the metric map.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("cdc_serve", "curation")
JVM_TIMEOUT_S = 170
HEAP = "2g"

# End-to-end metrics: (name, unit). Every workload reports all of them;
# what "op" and "read" are per workload is in README.md. Set-up, op and
# read are gated on the CPU time of the application threads, not on wall
# time: on a shared host wall times follow the neighbours' load (README.md,
# "Why CPU seconds"); the wall medians are in the detail.
END_TO_END = [("setup_s", "s"), ("op_cpu_p50_s", "s"), ("read_cpu_p50_s", "s"),
              ("retained_heap_mb", "MB")]

# Spans the traced run records, by layer. Each gets <span>.spark_tasks,
# <span>.spark_exec_s and <span>.spark_busy_frac.
SPANS = ["olap.dims_build", "olap.fact_build", "sources.write_dim",
         "sources.fact_open", "sources.write_fact", "olap.sync_incremental",
         "streaming.scd1_merge", "queries.scan", "queries.pruned", "olap.status",
         "ops.quality_filter", "ops.minhash_lsh", "ops.decontaminate",
         "ops.dsir_resample", "ops.pack_sequences", "sources.write_range_sorted",
         "queries.ladder", "queries.plan"]
SPARK_ROUND = ["jobs", "stages", "tasks", "exec_run_s", "gc_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb", "task_p50_s", "task_max_s", "busy_frac"]
LAYER_UNITS = {
    "sources.fact_open_s": "s", "sources.fact_open_tasks": "count",
    "sources.write_dim_s": "s", "sources.write_fact_s": "s",
    "sources.fact_files": "count", "sources.mb_written": "MB",
    "sources.read_files": "count", "sources.files_pruned_frac": "ratio",
    "sources.write_range_sorted_s": "s",
    "olap.dims_build_s": "s", "olap.fact_build_s": "s",
    "olap.sync_incremental_s": "s", "olap.rows_rewritten": "count",
    "olap.partitions_rewritten": "count", "olap.rewrite_useful_frac": "ratio",
    "olap.status_s": "s",
    "streaming.scd1_merge_s": "s", "streaming.state_mb_written": "MB",
    "queries.plan_s": "s", "queries.scan_s": "s", "queries.pruned_s": "s",
    "queries.ladder_s": "s",
    "ops.quality_filter_s": "s", "ops.minhash_lsh_s": "s",
    "ops.decontaminate_s": "s", "ops.dsir_resample_s": "s",
    "ops.pack_sequences_s": "s", "ops.n_gated": "count", "ops.n_deduped": "count",
    "ops.n_clean": "count", "ops.n_sampled": "count", "ops.pins_live": "count",
    "ops.cached_mb": "MB",
    "trace.untraced_round_s": "s", "trace.traced_round_s": "s",
}
for _k in SPARK_ROUND:
    LAYER_UNITS[f"spark.{_k}"] = ("s" if _k.endswith("_s") else "MB" if _k.endswith("_mb")
                                  else "ratio" if _k.endswith("_frac") else "count")
for _s in SPANS:
    LAYER_UNITS[f"{_s}.spark_tasks"] = "count"
    LAYER_UNITS[f"{_s}.spark_exec_s"] = "s"
    LAYER_UNITS[f"{_s}.spark_busy_frac"] = "ratio"
PER_LAYER = list(LAYER_UNITS)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it, as
    (percentile, value); None when there are not enough samples. The value
    is the sample at 0-based rank n - beyond - 1 of the sorted samples."""
    n = len(xs)
    if n < beyond + 1:
        return None
    return 100.0 * (n - beyond) / n, sorted(xs)[n - beyond - 1]


def self_times(spans):
    """Span id -> self time in seconds: the span's duration minus the part
    of it that its child spans cover (children may overlap each other)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, lo, hi = 0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"])
            if b <= a:
                continue
            if hi is None or a > hi:
                covered += 0 if hi is None else hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        covered += 0 if hi is None else hi - lo
        out[s["id"]] = (s["end_us"] - s["start_us"] - covered) / 1e6
    return out


def layer_metrics(raw, cores):
    """Per-layer metrics of a traced run. Each is computed per traced round
    from the spans of that round, and the median over the rounds that ran
    the layer is reported; a layer the workload never calls reads 0."""
    spans = raw["spans"]
    selfs = self_times(spans)
    rounds = {}
    for s in spans:
        rounds.setdefault(s["round"], []).append(s)
    per_round = []
    for _, ss in sorted(rounds.items()):
        by = {}
        for s in ss:
            by.setdefault(s["name"], []).append(s)

        def ctr(name, key):
            return sum(s["counters"].get(key, 0.0) for s in by.get(name, []))

        def wall(name):
            return sum((s["end_us"] - s["start_us"]) / 1e6 for s in by.get(name, []))

        m = {}
        for name in SPANS:
            if name in by:
                m[f"{name}_s"] = sum(selfs[s["id"]] for s in by[name])
                m[f"{name}.spark_tasks"] = ctr(name, "spark.tasks")
                m[f"{name}.spark_exec_s"] = ctr(name, "spark.exec_run_s")
                m[f"{name}.spark_busy_frac"] = ctr(name, "spark.exec_run_s") / (wall(name) * cores)
        if "sources.fact_open" in by:
            m["sources.fact_open_tasks"] = ctr("sources.fact_open", "spark.tasks")
        if "sources.write_fact" in by:
            m["sources.fact_files"] = ctr("sources.write_fact", "files")
        writes = [n for n in ("sources.write_dim", "sources.write_fact",
                              "sources.write_range_sorted") if n in by]
        if writes:
            m["sources.mb_written"] = sum(ctr(n, "spark.output_mb") for n in writes)
        if "queries.pruned" in by:
            read = ctr("queries.pruned", "read_files")
            m["sources.read_files"] = read
            m["sources.files_pruned_frac"] = 1.0 - read / ctr("queries.pruned", "total_files")
        if "olap.sync_incremental" in by:
            rows = ctr("olap.sync_incremental", "rows_rewritten")
            m["olap.rows_rewritten"] = rows
            m["olap.partitions_rewritten"] = ctr("olap.sync_incremental", "partitions_rewritten")
            if rows:  # a batch whose buyers have no orders in the window rewrites nothing
                m["olap.rewrite_useful_frac"] = ctr("olap.sync_incremental", "useful_rows") / rows
        if "streaming.scd1_merge" in by:
            m["streaming.state_mb_written"] = ctr("streaming.scd1_merge", "spark.output_mb")
        if "curation.round" in by:
            for k in ("n_gated", "n_deduped", "n_clean", "n_sampled", "pins_live", "cached_mb"):
                m[f"ops.{k}"] = ctr("curation.round", k)
        roots = [s for s in ss if s["parent"] == -1]
        if roots and roots[0]["name"].endswith(".round"):
            # whole-round scheduler totals, over every span of the round
            for k in SPARK_ROUND:
                vals = [s["counters"].get(f"spark.{k}", 0.0) for s in ss]
                if k == "task_max_s":
                    m[f"spark.{k}"] = max(vals)
                elif k == "task_p50_s":
                    m[f"spark.{k}"] = median([v for v in vals if v]) or 0.0
                elif k != "busy_frac":
                    m[f"spark.{k}"] = sum(vals)
            m["spark.busy_frac"] = m["spark.exec_run_s"] / (wall(roots[0]["name"]) * cores)
        per_round.append(m)
    out = {}
    for k in PER_LAYER:
        vals = [r[k] for r in per_round if k in r]
        out[k] = median(vals) if vals else 0.0
    out["trace.untraced_round_s"] = median(raw["samples"].get("round_untraced", [])) or 0.0
    out["trace.traced_round_s"] = median(raw["samples"].get("round_traced", [])) or 0.0
    return out


def end_to_end(raw):
    s = raw["samples"]
    return {"setup_s": median(s.get("setup_cpu", [])),
            "op_cpu_p50_s": median(s.get("op_cpu", [])),
            "read_cpu_p50_s": median(s.get("read_cpu", [])),
            "retained_heap_mb": raw["info"].get("retained_heap_mb")}


def detail(raw, workload):
    """Per-workload metrics under the names README.md maps, with sample
    counts and each tail's percentile."""
    s = raw["samples"]
    d = {"setup_wall_s": median(s.get("setup", [])),
         "op_p50_s": median(s.get("op", [])), "read_p50_s": median(s.get("read", []))}

    def timing(name, key):
        xs = s.get(key, [])
        d[f"{name}_p50_s"] = median(xs)
        t = tail(xs)
        d[f"{name}_tail_s"] = None if t is None else t[1]
        d[f"{name}_tail_pct"] = None if t is None else round(t[0], 1)
        d[f"{name}_n"] = len(xs)

    if workload == "cdc_serve":
        timing("cdc_batch", "op")
        for q in ("scan", "pruned", "status"):
            timing(f"query_{q}", q)
        reads = s.get("scan", []) + s.get("pruned", []) + s.get("status", [])
        t = tail(reads)
        d.update(query_tail_s=None if t is None else t[1],
                 query_tail_pct=None if t is None else round(t[0], 1), query_n=len(reads))
        full = median(s.get("setup", []))
        d["full_sync_s"] = full
        d["cdc_over_full"] = (median(s["op"]) / full) if s.get("op") and full else None
    else:
        timing("curation", "op")
        timing("ladder_read", "read")
    return d


# ---------------------------------------------------------------- running

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    if not os.path.exists(os.path.join(build.ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def dir_mb(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, f))
    return total / 1e6


OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(jar, args, work, log_path, timeout):
    """Runs the harness main; returns its exit code, or None on timeout
    (the JVM is then killed and reaped)."""
    # no hsperfdata file: the run writes nothing outside its build directory
    cmd = ["java", "-XX:-UsePerfData", *OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-cp", build.classpath(jar),
           "graftbench.Main", *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft sync-pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", choices=sorted(inputs.DATA), default="sf0.1",
                    help="test-data extract the inputs are cut from")
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jar = build.build()
    t_start = time.time()  # a run's time limit starts once the build is done
    work = os.path.join(build.build_dir(), "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    tables = inputs.write(a.seed, inputs.DATA[a.data], data)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    try:
        code = run_jvm(jar, ["--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--data", data, "--work", work, "--out", out],
                       work, log, JVM_TIMEOUT_S - (time.time() - t_start))
        if code != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-8000:])
            raise SystemExit(f"harness JVM failed (exit {code})")
        with open(out) as fh:
            raw = json.load(fh)
        if raw.get("error"):
            sys.stderr.write(raw["error"])
        failed_checks = [c for c in raw["checks"] if not c["ok"]]
        for c in failed_checks:
            print(f"[check failed] {c['name']}: {c['detail']}", file=sys.stderr)
        attempted = max(1, raw["attempted"])
        info = raw["info"]
        det = {"workload": a.workload, "seed": a.seed, "data": a.data,
               "inputs": tables, "nproc": nproc(),
               "cores": info.get("cores"), "heap_mb": info.get("heap_mb"),
               "commit": commit(), "rounds": info.get("rounds"),
               "setup_n": len(raw["samples"].get("setup", [])),
               "checks": len(raw["checks"]), "checks_failed": len(failed_checks),
               "check_names": sorted({c["name"].split(".")[0] for c in raw["checks"]}),
               "failed_frac": raw["failed"] / attempted,
               "samples": raw["samples"],
               **{k: v for k, v in info.items() if k in (
                   "month", "residue", "target", "start_s", "setup_total_s", "loop_s", "checks_s",
                   "workload_s", "retained_heap_mb", "peak_rss_mb")}}
        if a.trace:
            metrics = layer_metrics(raw, info["cores"])
            units = LAYER_UNITS
        else:
            det.update(detail(raw, a.workload))
            if a.workload == "cdc_serve":
                det["star_mb"] = dir_mb(os.path.join(work, "star"))
            metrics = end_to_end(raw)
            units = dict(END_TO_END)
        missing = [k for k, v in metrics.items() if v is None]
        if missing:
            raise SystemExit(f"no samples for {missing}")
        print(json.dumps({"detail": det}))
        print(json.dumps({
            "correct": not failed_checks and raw["error"] is None,
            "attempted": attempted, "failed": raw["failed"],
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
