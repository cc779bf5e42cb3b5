#!/usr/bin/env python3
"""End-to-end, layer-by-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 8 --trace 0

Run from the repository root. Builds the program from source (cached
under `.bench_build/`), generates the workload's inputs from `--seed`,
runs it, checks every output, and prints one JSON object as the last
line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones of a traced run. See `perfbench/README.md`.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

CPUS = 4
HEAP = "3g"
SETUP_PROBES = 1  # medallion set-up only JVMs; with the CLI's own, 2 samples
RUN_BUDGET_S = 170  # after the build; a run must end within 180 s

# A sample of the plan library: the middle query (registry order) of each
# module, plus two of the queries ROADMAP.md names as regressed by the
# prefix-sum rework. PipelineQueries is absent because all five of its
# queries read fixture files by absolute path, outside any checkout.
SUITE = ("q_sliding_agg q_embedding_neardup q_semantic_contamination q_vocab_topk "
         "q_salted_join q_windowed_agg q_filter_auc q_classifier_report").split()

WORKLOADS = {
    "suite": {"kind": "queries", "sf": 0.01, "queries": SUITE},
    "medallion": {"kind": "medallion", "reviews": 50_000, "buckets": 8},
}

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "rows_per_s": "1/s", "write_amp": "ratio", "peak_rss_mb": "MB", "ok_frac": "frac",
}
MODULES = ["ParityQueries", "LlmQueries", "CurationQueries", "AnalyticsQueries",
           "PipelineQueries", "MiningQueries", "SparkEntry"]
PER_LAYER = {
    "session.jvm_s": "s", "session.spark_s": "s", "tables.load_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    **{f"queries.{m}.s": "s" for m in MODULES},
    "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.core_busy": "ratio", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_mb": "MB", "exec.task_skew": "ratio",
    "exec.failed_tasks": "count", "exec.codegen_compiles": "count",
    "exec.codegen_compile_s": "s",
    "cache.persisted_mb": "MB", "cache.unpersist_s": "s",
    "pipeline.extract_s": "s", "pipeline.clean_s": "s", "pipeline.enrich_s": "s",
    "io.written_mb": "MB", "io.files_written": "count", "io.rows_written": "count",
    "trace.overhead_s": "s",
}

# The JVM flags of the sbt build (build.sbt `javaOptions`) with the heap
# set explicitly; no perf-data file in the system temp directory.
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xms{HEAP}", f"-Xmx{HEAP}",
    "-XX:-UsePerfData"]


class BenchError(Exception):
    pass


deadline = time.time() + RUN_BUDGET_S


class Proc:
    """A child JVM run in its log's directory, with Spark's scratch space
    under it; waited for with its resource usage; killed on timeout."""

    def __init__(self, cmd, log, env=None):
        self.log = log
        tmp = Path(log).parent / "tmp"
        tmp.mkdir(exist_ok=True)
        # graft.Main reads SPARK_GRAFT_CPUS as its shuffle-partition count;
        # the benchmark runs the program's own default.
        env = {k: v for k, v in (env or os.environ).items() if k != "SPARK_GRAFT_CPUS"}
        env["SPARK_LOCAL_DIRS"] = str(tmp)
        cmd = cmd[:1] + [f"-Djava.io.tmpdir={tmp}"] + cmd[1:]
        with open(log, "w") as out:
            self.launch = time.time()
            self.p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                      env=env, cwd=Path(log).parent)

    def wait(self):
        timer = threading.Timer(max(1.0, deadline - time.time()), self.p.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(self.p.pid, 0)
        finally:
            timer.cancel()
        self.end = time.time()
        self.p.returncode = os.waitstatus_to_exitcode(status)
        self.rss_mb = usage.ru_maxrss / 1024.0
        if self.p.returncode != 0:
            tail = Path(self.log).read_text(errors="replace")[-3000:]
            raise BenchError(f"process exited {self.p.returncode}; log tail:\n{tail}")
        return self


def harness(cp, mode, opts, log):
    """Run a harness JVM; return its report and the finished process."""
    report = Path(log).with_suffix(".json")
    launch = time.time()
    p = Proc(["java", *JAVA_OPTS, "-cp", cp, "perfbench.Harness",
              f"mode={mode}", f"out={report}", f"cpus={CPUS}", f"launch={launch!r}"]
             + [f"{k}={v}" for k, v in opts.items()], log).wait()
    return json.loads(report.read_text()), p


def setup_probes(cp, opts, run_dir):
    return [harness(cp, "setup", opts, run_dir / f"probe{i}.log")[0]["setup"]["setup_s"]
            for i in range(SETUP_PROBES)]


def quantile90(xs):
    """The 90th percentile, interpolated within the samples."""
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) >= 2 else xs[0]


def inputs_dir(work, name, seed, size, make):
    """Generated inputs for (workload, seed, size, generator source), made
    once and kept for reuse; the oracle cache is keyed by the same name."""
    base = work / "inputs" / name
    gen_key = hashlib.sha256(Path(gen.__file__).read_bytes()).hexdigest()[:12]
    d = base / f"{seed}-{size}-{gen_key}"
    if not (d / ".ok").exists():
        shutil.rmtree(d, ignore_errors=True)
        meta = make(d)
        (d / ".ok").write_text(json.dumps(meta))
    keep = sorted(base.iterdir(), key=lambda p: p.stat().st_mtime)[:-4]
    for old in keep:
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    return d, json.loads((d / ".ok").read_text())


def run_queries(cp, work, name, spec, seed, seconds, trace, run_dir):
    tables, _ = inputs_dir(work, name, seed, spec["sf"],
                           lambda d: gen.tables(d, seed, spec["sf"]))
    names = list(spec["queries"])
    random.Random(seed).shuffle(names)
    results = run_dir / "results"
    results.mkdir()
    opts = {"sf": tables, "queries": ",".join(names), "seconds": seconds,
            "results": results, "trace": trace, "run": f"{name}-{seed}"}
    rep, proc = harness(cp, "queries", opts, run_dir / "main.log")
    # A second fresh JVM sets up and runs the cold pass: two samples of
    # each for the end-to-end metrics; a traced run reports neither.
    probe = {"cold": {"ops": []}, "errors": {}} if trace else harness(
        cp, "cold", {"sf": tables, "queries": opts["queries"]}, run_dir / "probe.log")[0]

    verdict = check.queries(tables, results, names,
                            json.loads((results / "oracle_sql.json").read_text()),
                            work / "oracle" / name / tables.name)
    passes = [rep["cold"], probe["cold"]] + rep["warmup"] + rep["warm"] + rep["traced"]
    ops = [op for p in passes for op in p["ops"]]
    attempted = len(ops) + len(names)
    failed = sum(op["error"] is not None for op in ops) + sum(v is not None for v in verdict.values())
    problems = {**{k: v for k, v in verdict.items() if v}, **probe["errors"], **rep["errors"]}

    warm_s = [p["seconds"] for p in rep["warm"]]
    # Latency percentiles are taken within each warm pass, over its
    # queries, and then the median over the passes is reported.
    op_s = [[op["seconds"] for op in p["ops"]] for p in rep["warm"]]
    wall = statistics.median(warm_s)
    in_bytes, _ = check.tree_bytes(tables)
    out_bytes, _ = check.tree_bytes(results)
    st = rep["setup"]
    if trace:
        metrics = dict(rep["layers"])
        metrics.update({
            "session.jvm_s": st["jvm_s"], "session.spark_s": st["spark_s"],
            "tables.load_s": st["tables_s"],
            "trace.overhead_s": statistics.median(p["seconds"] for p in rep["traced"]) - wall,
        })
        (run_dir / "trace.json").write_text(json.dumps(rep["spans"]))
    else:
        metrics = {
            "setup_s": statistics.median([st["setup_s"], probe["setup"]["setup_s"]]),
            "cold_s": statistics.median([rep["cold"]["seconds"], probe["cold"]["seconds"]]),
            "wall_s": wall,
            "op_p50_s": statistics.median(statistics.median(p) for p in op_s),
            "op_p90_s": statistics.median(quantile90(p) for p in op_s),
            "rows_per_s": check.result_rows(results, names) / wall,
            "write_amp": out_bytes / in_bytes,
            "peak_rss_mb": proc.rss_mb,
            "ok_frac": (attempted - failed) / attempted,
        }
    info = {"heap_mb": rep["heap_mb"], "warm_passes": len(warm_s),
            "queries": names, "sf": spec["sf"]}
    return metrics, attempted, failed, problems, info


def medallion_cli(cp, input_dir, lake, run_dir, buckets):
    """The untraced CLI job: `graft.Main --pipeline run-all` in a fresh JVM."""
    marks = run_dir / "marks.json"
    env = dict(os.environ, SPARK_MASTER=f"local[{CPUS}]")
    p = Proc(["java", *JAVA_OPTS, "-Dspark.extraListeners=perfbench.CliMarks",
              f"-Dperfbench.marks={marks}", "-cp", cp, "graft.Main",
              "--pipeline", "run-all", "--input_dir", str(input_dir),
              "--lake_dir", str(lake), "--buckets", str(buckets)],
             run_dir / "cli.log", env=env).wait()
    marks = json.loads(marks.read_text())
    start = marks["first_job"]
    # Each job commits its table with a _SUCCESS marker; job i ran from
    # the previous commit (or the first Spark job) to its own.
    ends = sorted((lake / t / "_SUCCESS").stat().st_mtime_ns / 1e9
                  for t in check.lake_tables(gen.yelp_sizes(1), 1))
    jobs = [b - a for a, b in zip([start] + ends[:-1], ends)]
    return p, start, ends[-1] - start, jobs


def run_medallion(cp, work, name, spec, seed, trace, run_dir):
    def make(d):
        sizes, in_bytes = gen.yelp(d, seed, spec["reviews"])
        return {"sizes": sizes, "bytes": in_bytes}
    input_dir, meta = inputs_dir(work, name, seed, spec["reviews"], make)
    sizes, in_bytes = meta["sizes"], meta["bytes"]
    lake = run_dir / "lake"
    proc, start, wall, jobs = medallion_cli(cp, input_dir, lake, run_dir, spec["buckets"])
    verdict, _ = check.medallion(lake, sizes, gen.CHECKIN_TIMES)
    probes = [] if trace else setup_probes(cp, {"input": input_dir}, run_dir)
    out_bytes, files = check.tree_bytes(lake)
    metrics = {
        "setup_s": statistics.median([start - proc.launch] + probes),
        "cold_s": proc.end - proc.launch,
        "wall_s": wall,
        "op_p50_s": statistics.median(jobs),
        "op_p90_s": quantile90(jobs),
        "rows_per_s": sum(sizes.values()) / wall,
        "write_amp": out_bytes / in_bytes,
        "peak_rss_mb": proc.rss_mb,
    }
    if trace:
        traced_lake = run_dir / "traced_lake"
        rep, _ = harness(cp, "medallion", {"input": input_dir, "lake": traced_lake,
                                           "buckets": spec["buckets"], "run": f"{name}-{seed}"},
                         run_dir / "traced.log")
        traced_verdict, rows = check.medallion(traced_lake, sizes, gen.CHECKIN_TIMES)
        verdict.update({f"traced {k}": v for k, v in traced_verdict.items()})
        st = rep["setup"]
        t_bytes, t_files = check.tree_bytes(traced_lake)
        layers = dict(rep["layers"])
        layers.update({
            "session.jvm_s": st["jvm_s"], "session.spark_s": st["spark_s"],
            "tables.load_s": st["tables_s"],
            "io.written_mb": t_bytes / 1048576.0, "io.files_written": t_files,
            "io.rows_written": rows, "trace.overhead_s": rep["wall_s"] - wall,
        })
        (run_dir / "trace.json").write_text(json.dumps(rep["spans"]))
    attempted = len(verdict) + len(jobs)
    failed = sum(v is not None for v in verdict.values())
    metrics["ok_frac"] = (attempted - failed) / attempted
    if trace:
        metrics = layers
    problems = {k: v for k, v in verdict.items() if v}
    return metrics, attempted, failed, problems, {"sizes": sizes, "input_bytes": in_bytes,
                                                  "jobs_s": jobs, "lake_files": files}


def loadavg():
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = Path.cwd()
    env_info = {"nproc": os.cpu_count(), "loadavg_start": loadavg(), "heap": HEAP,
                "cpus": CPUS, "commit": commit(root)}
    steal0 = steal_s()
    try:
        cp, source_key = build.ensure(root)
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    env_info["source_hash"] = source_key
    global deadline
    deadline = time.time() + RUN_BUDGET_S
    work = build.work_dir(root)
    run_dir = work / "runs" / a.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    spec = WORKLOADS[a.workload]
    try:
        if spec["kind"] == "queries":
            out = run_queries(cp, work, a.workload, spec, a.seed, a.seconds, a.trace, run_dir)
        else:
            out = run_medallion(cp, work, a.workload, spec, a.seed, a.trace, run_dir)
    except (BenchError, OSError, ValueError, KeyError) as e:
        sys.exit(f"perfbench: {a.workload} failed: {e}")
    metrics, attempted, failed, problems, info = out

    units = PER_LAYER if a.trace else END_TO_END
    missing = sorted(set(units) - set(metrics))
    metrics.update({k: 0.0 for k in missing})
    env_info.update(info, loadavg_end=loadavg(), steal_s=steal_s() - steal0,
                    workload=a.workload, seed=a.seed, not_exercised=missing)
    for k, v in problems.items():
        print(f"perfbench: FAILED {k}: {v}", file=sys.stderr)
    print("perfbench-env " + json.dumps(env_info))
    (run_dir / "env.json").write_text(json.dumps(env_info))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
