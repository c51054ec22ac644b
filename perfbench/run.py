#!/usr/bin/env python3
"""Layer-attributed benchmark of the query engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload llm_index --seed 1 --seconds 40 --trace 0

Builds the program and the harness from source when the sources changed,
runs one workload in a fresh JVM (perfbench/src/main/scala/perfbench/
Harness.scala), checks every query's output digest against
perfbench/expected.json, prints every metric by name with its unit, and
prints as its last stdout line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics of BENCHMARK.json, `--trace 1` its per-layer metrics. The full result,
with the environment record, lands in `--results` (default
.bench_build/perfbench/results). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
# The program stages sink and replay files under this root, keyed by the
# fixture directory (graft.U.scratch), and reuses them across JVMs.
PROGRAM_SCRATCH = "/tmp/graft_scratch"
HEAP = "4g"
# A run is one first pass, one warm-up pass and up to three timed later
# passes; the first four passes always run, the fifth when the measured time
# stays within --seconds. The warm-up pass is excluded because the JIT is
# still compiling the queries' code in it (it runs 15-25% slower than the
# next one); a fixed pass count keeps later runs from pulling the figures
# down as the JVM keeps warming.
PASSES = 5
MIN_PASSES = 4
WARM_PASSES = 1
TIMED_FROM = 2 + WARM_PASSES  # number of the first timed later pass
RUN_LIMIT_S = 170
# A run is flagged, not dropped, when the host was contended: more than 2 s
# of hypervisor steal, or a 1-minute load above twice the cores.
GATE_STEAL_S = 2.0
GATE_LOAD_PER_CORE = 2.0
# A Spark job whose stages read parquet footers or list files for schema
# inference; its stage is named after the read call site.
SCHEMA_STAGE = re.compile(r"^(parquet|load|json|csv|orc|text) at |Listing leaf files")


class RunError(Exception):
    """A failure that makes the run unusable: the run exits non-zero."""


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build reads: the program's and the harness's."""
    project = os.path.join(ROOT, "project")
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    files += [os.path.join(project, f) for f in os.listdir(project)
              if f.endswith((".sbt", ".properties", ".scala"))]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def check_checkout():
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")]
    missing = [os.path.relpath(p, ROOT) for p in needed if not os.path.exists(p)]
    if missing:
        raise RunError("not a checkout of the program, missing: " + ", ".join(missing))


def build():
    """Compile program + harness with sbt when the sources changed; returns
    (java args, source digest, seconds spent building)."""
    t0 = time.time()
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    fresh = (os.path.exists(LAUNCH) and os.path.exists(stamp)
             and open(stamp).read() == digest)
    if not fresh:
        os.makedirs(WORK, exist_ok=True)
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        env["SPARK_DRIVER_MEM"] = HEAP
        env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "local")
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as f:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL).returncode
        if rc != 0 or not os.path.exists(LAUNCH):
            raise RunError(f"build failed (sbt exit {rc}), see {log}")
        with open(stamp, "w") as f:
            f.write(digest)
        print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    return ["-cp", lines[0]] + lines[1:], digest, time.time() - t0


# ---------------------------------------------------------------- plan

def pass_orders(queries, seed, passes=PASSES):
    """The seed permutes the query order within each pass, nothing else."""
    orders = []
    for p in range(passes):
        order = sorted(queries)
        random.Random(f"{seed}:{p}").shuffle(order)
        orders.append(order)
    return orders


def scratch_key(sf_dir):
    return re.sub(r"[^A-Za-z0-9.]", "_", sf_dir)


def reset_state(sf_dir):
    """Every run starts from the same on-disk state: no staged files from an
    earlier JVM, empty Spark local and temp dirs."""
    for d in (os.path.join(PROGRAM_SCRATCH, scratch_key(sf_dir)),
              os.path.join(WORK, "local"), os.path.join(WORK, "tmp"), os.path.join(WORK, "cwd")):
        shutil.rmtree(d, ignore_errors=True)
    for d in ("local", "tmp", "cwd"):
        os.makedirs(os.path.join(WORK, d))


def run_jvm(java_args, workload, seed, seconds, trace, deadline):
    sf_dir = FIXTURES
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        raise RunError(f"fixtures missing under {sf_dir}")
    reset_state(sf_dir)
    plan = os.path.join(WORK, "plan.txt")
    out = os.path.join(WORK, "records.jsonl")
    with open(plan, "w") as f:
        f.write(f"seconds {seconds} min_passes {MIN_PASSES}\n")
        for order in pass_orders(workload["queries"], seed):
            f.write(",".join(order) + "\n")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # no hsperfdata file under the system temp dir
    cmd = (["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")] +
           java_args +
           ["perfbench.Harness", sf_dir, plan, out, str(trace)])
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=os.path.join(WORK, "cwd"), env=env, stdout=f,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RunError(f"run exceeded its time limit, see {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            shutil.rmtree(os.path.join(PROGRAM_SCRATCH, scratch_key(sf_dir)), ignore_errors=True)
    if rc != 0:
        with open(log) as f:
            lines = [l.strip() for l in re.split(r"[\r\n]+", f.read()) if l.strip()]
        cause = next((l for l in lines if "Exception" in l or "Error" in l), None)
        raise RunError(f"JVM exited {rc} (set-up or harness failure): "
                       + (cause or " / ".join(lines[-5:]))[:1000] + f", see {log}")
    with open(out) as f:
        records = [json.loads(l) for l in f if l.strip()]
    if not any(r["k"] == "env" for r in records):
        raise RunError("harness did not finish its record")
    return records


# ---------------------------------------------------------------- metrics

def pct(values, p):
    """Linear-interpolated percentile of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def check_outputs(queries, expected):
    """Marks each query attempt ok or not: it must not throw and its digest
    must equal the expected one. Returns the failing attempts."""
    bad = []
    for q in queries:
        exp = expected.get(q["name"])
        q["ok"] = (q["error"] is None and exp is not None
                   and [q["rows"], q["hash"]] == exp)
        if not q["ok"]:
            why = q["error"] or ("no expected digest" if exp is None else
                                 f"digest {q['rows']}/{q['hash']} != expected {exp[0]}/{exp[1]}")
            bad.append({"name": q["name"], "pass": q["pass"], "why": why})
    return bad


def build_spans(records):
    """Span tree of a traced run: run > setup, pass > query > build/plan/exec
    > batch > job. Each span is a dict with kind, start, end, parent, module."""
    spans = []

    def add(kind, start, end, parent, **kw):
        s = dict(kind=kind, start=start, end=end, parent=parent, id=len(spans), **kw)
        spans.append(s)
        return s

    host = next(r for r in records if r["k"] == "host")
    setup = next(r for r in records if r["k"] == "setup")
    run = add("run", setup["epoch_ms"] - setup["setup_ms"], host["end_ms"], None)
    add("setup", run["start"], setup["epoch_ms"], run["id"])
    passes = {r["pass"]: add("pass", r["start_ms"], r["end_ms"], run["id"], pass_no=r["pass"])
              for r in records if r["k"] == "pass"}
    phases = {}
    for q in (r for r in records if r["k"] == "q"):
        qs = add("query", q["start_ms"], q["end_ms"], passes[q["pass"]]["id"],
                 module=q["module"], name=q["name"], attempt=q["attempt"], pass_no=q["pass"])
        marks = q["marks_ms"] + ([q["end_ms"]] if len(q["marks_ms"]) < 4 else [])
        for i, ph in enumerate(("build", "plan", "exec")[:len(marks) - 1]):
            phases[(q["attempt"], ph)] = add(ph, marks[i], marks[i + 1], qs["id"],
                                             module=q["module"], attempt=q["attempt"],
                                             pass_no=q["pass"])
    phase_list = sorted(phases.values(), key=lambda s: s["start"])

    def phase_at(t):
        for s in phase_list:
            if s["start"] <= t < s["end"]:
                return s
        return None

    batches = []
    for b in (r for r in records if r["k"] == "batch"):
        parent = phase_at(b["start_ms"])
        if parent is not None:
            batches.append(add("batch", b["start_ms"], b["start_ms"] + b["batch_ms"], parent["id"],
                               module=parent["module"], attempt=parent["attempt"],
                               pass_no=parent["pass_no"], rec=b))
    for j in (r for r in records if r["k"] == "job"):
        parent = None
        if j["attempt"] is not None:
            parent = phases.get((int(j["attempt"]), j["phase"]))
        if parent is None:
            parent = phase_at(j["start_ms"])
        if parent is None:
            continue
        for b in batches:
            if b["attempt"] == parent["attempt"] and b["start"] <= j["start_ms"] < b["end"]:
                parent = b
                break
        layer = parent["kind"] if parent["kind"] != "batch" else "build"
        add("job", j["start_ms"], max(j["end_ms"], j["start_ms"]), parent["id"],
            module=parent["module"], attempt=parent["attempt"], pass_no=parent["pass_no"],
            layer=layer, rec=j)
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self"] = (s["end"] - s["start"]) - union_ms(children.get(s["id"], []), s["start"], s["end"])
    return spans


def summarize(records, workload, expected, trace):
    """Pure function from harness records to the result: metrics, checks and
    the failures by name."""
    setup = next(r for r in records if r["k"] == "setup")
    env = next(r for r in records if r["k"] == "env")
    host = next(r for r in records if r["k"] == "host")
    passes = sorted((r for r in records if r["k"] == "pass"), key=lambda r: r["pass"])
    queries = [r for r in records if r["k"] == "q"]
    if len(passes) < MIN_PASSES:
        raise RunError(f"fewer than {MIN_PASSES} passes ran")
    failures = check_outputs(queries, expected)
    later = [q for q in queries if q["pass"] >= TIMED_FROM]
    first = [q for q in queries if q["pass"] == 1]
    # Hypervisor steal comes in bursts of a few seconds, so the warm figures
    # are built from each query's median over the timed later passes: a burst
    # that hits one query in one pass and another query in another pass moves
    # neither. Failed attempts count in `failed`, not as latencies.
    samples = {}
    for q in later:
        if q["ok"]:
            samples.setdefault(q["name"], []).append(q)
    if not samples:
        raise RunError("no query of the later passes succeeded")
    n = env["nproc"]
    e2e = {
        "setup_s": (setup["setup_ms"] / 1e3, "s"),
        "first_pass_s": (passes[0]["wall_ms"] / 1e3, "s"),
        # a median pass: every query at its median time, its release included
        "pass_s": (sum(statistics.median(q["wall_ms"] + q["release_ms"] for q in qs)
                       for qs in samples.values()) / 1e3, "s"),
    }
    result = {
        "workload": workload["name"], "trace": trace,
        "attempted": len(queries), "failed": len({(f["name"], f["pass"]) for f in failures}),
        "failures": failures, "passes": len(passes), "later_samples": len(later),
        "setup": setup, "host": host, "env": env,
        "pass_records": passes,
        "queries": [{k: q[k] for k in ("name", "module", "pass", "wall_ms", "release_ms",
                                        "build_ms", "plan_ms", "exec_ms", "ok")}
                    for q in queries],
    }
    steal_s = host["steal_jiffies"] / 100.0 if host["steal_jiffies"] >= 0 else -1.0
    result["host_gate_breached"] = (steal_s > GATE_STEAL_S
                                    or host["load1"] > GATE_LOAD_PER_CORE * n)
    if not trace:
        result["metrics"] = e2e
        return result

    spans = build_spans(records)
    jobs = [s for s in spans if s["kind"] == "job"]
    later_jobs = [s for s in jobs if s["pass_no"] >= TIMED_FROM]
    nq = max(1, len(later))

    def jobs_of(layer):
        return [s for s in later_jobs if s["layer"] == layer]

    def per_q(field, layer):
        """Sum of a job field over the layer's later-pass jobs, per query."""
        return sum(s["rec"][field] for s in jobs_of(layer)) / nq

    exec_ms = sum(q["exec_ms"] or 0 for q in later)
    replays = {}
    for s in spans:
        if s["kind"] == "batch" and s["pass_no"] >= TIMED_FROM:
            replays.setdefault(s["attempt"], []).append(s["rec"])
    qby = {q["attempt"]: q for q in queries}
    batch_ms = [b["batch_ms"] for bs in replays.values() for b in bs]
    trig = sum(b["trigger_ms"] or 0 for bs in replays.values() for b in bs)
    rows = sum(b["input_rows"] for bs in replays.values() for b in bs)
    nr = max(1, len(replays))

    def per_r(field):
        return sum(b[field] or 0 for bs in replays.values() for b in bs) / nr

    first_build = mean([q["build_ms"] for q in first if q["build_ms"] is not None])
    later_build = mean([q["build_ms"] for q in later if q["build_ms"] is not None])
    rdds_pass1 = [q["rdds"] for q in first][-1]
    self_ms = {k: sum(s["self"] for s in spans
                      if s["kind"] == k and s.get("pass_no", 0) >= TIMED_FROM) / nq
               for k in ("query", "build", "plan", "exec", "batch")}
    pl = {
        "build.ms": (later_build, "ms"),
        "build.jobs": (len(jobs_of("build")) / nq, "count"),
        "build.tasks": (per_q("tasks", "build"), "count"),
        "build.schema_jobs": (sum(1 for s in jobs_of("build") if any(
            SCHEMA_STAGE.search(n) for n in s["rec"]["stage_names"])) / nq, "count"),
        "build.first_extra_ms": (first_build - later_build, "ms"),
        "plan.ms": (mean([q["plan_ms"] for q in later if q["plan_ms"] is not None]), "ms"),
        "plan.analysis_ms": (mean([q["analysis_ms"] or 0 for q in later]), "ms"),
        "plan.optimization_ms": (mean([q["optimization_ms"] or 0 for q in later]), "ms"),
        "plan.planning_ms": (mean([q["planning_ms"] or 0 for q in later]), "ms"),
        "exec.ms": (exec_ms / nq, "ms"),
        "exec.jobs": (len(jobs_of("exec")) / nq, "count"),
        "exec.stages": (per_q("stages", "exec"), "count"),
        "exec.tasks": (per_q("tasks", "exec"), "count"),
        "exec.task_run_ms": (per_q("task_run_ms", "exec"), "ms"),
        "exec.task_cpu_ms": (per_q("task_cpu_ms", "exec"), "ms"),
        "exec.gc_ms": (per_q("gc_ms", "exec"), "ms"),
        "exec.task_wait_ms": (per_q("task_wait_ms", "exec"), "ms"),
        "exec.core_util": (sum(s["rec"]["task_run_ms"] for s in jobs_of("exec")) / (exec_ms * n)
                           if exec_ms else 0.0, "ratio"),
        "exec.shuffle_write_mb": (per_q("shuffle_write_bytes", "exec") / 2**20, "MB"),
        "exec.shuffle_read_mb": (per_q("shuffle_read_bytes", "exec") / 2**20, "MB"),
        "exec.spill_mb": (per_q("spill_bytes", "exec") / 2**20, "MB"),
        "exec.input_rows": (per_q("input_rows", "exec"), "count"),
        "stream.replays": (len(replays) / max(1, len(passes) - TIMED_FROM + 1), "count"),
        "stream.batches": (sum(len(bs) for bs in replays.values()) / nr, "count"),
        "stream.input_rows": (rows / nr, "count"),
        "stream.trigger_ms": (trig / nr, "ms"),
        "stream.add_batch_ms": (per_r("add_batch_ms"), "ms"),
        "stream.query_planning_ms": (per_r("query_planning_ms"), "ms"),
        "stream.wal_commit_ms": (per_r("wal_commit_ms"), "ms"),
        "stream.state_commit_ms": (per_r("state_commit_ms"), "ms"),
        "stream.state_update_ms": (per_r("state_update_ms"), "ms"),
        "stream.state_rows": (mean([max(b["state_rows"] for b in bs) for bs in replays.values()]),
                              "count"),
        "stream.state_mem_mb": (mean([max(b["state_mem_bytes"] for b in bs)
                                      for bs in replays.values()]) / 2**20, "MB"),
        "stream.overhead_ms": (mean([(qby[a]["build_ms"] or 0) - sum(b["trigger_ms"] or 0 for b in bs)
                                     for a, bs in replays.items()]), "ms"),
        "stream_rows_per_s": (rows / (trig / 1e3) if trig else 0.0, "rows/s"),
        "batch_p50_ms": (pct(batch_ms, 50) if batch_ms else 0.0, "ms"),
        "batch_p90_ms": (pct(batch_ms, 90) if batch_ms else 0.0, "ms"),
        "cache.storage_mb": (max(q["storage_bytes"] for q in queries) / 2**20, "MB"),
        "cache.rdds": (max(q["rdds"] for q in queries), "count"),
        "cache.leaked_rdds": (queries[-1]["rdds"] - rdds_pass1, "count"),
        "storage_mb": (queries[-1]["storage_bytes"] / 2**20, "MB"),
        "fail_ratio": (result["failed"] / len(queries), "ratio"),
        "self.query_ms": (self_ms["query"], "ms"),
        "self.build_ms": (self_ms["build"], "ms"),
        "self.plan_ms": (self_ms["plan"], "ms"),
        "self.exec_ms": (self_ms["exec"], "ms"),
        "self.batch_ms": (self_ms["batch"], "ms"),
        "self.build_job_ms": (sum(s["self"] for s in jobs_of("build")) / nq, "ms"),
        "self.plan_job_ms": (sum(s["self"] for s in jobs_of("plan")) / nq, "ms"),
        "self.exec_job_ms": (sum(s["self"] for s in jobs_of("exec")) / nq, "ms"),
        "trace.pass_s": (e2e["pass_s"][0], "s"),
        # with 2-5 queries a workload's p50 is one query's time: too noisy
        # between JVMs for an end-to-end bound, kept here for its layer
        "query_p50_s": (pct([statistics.median(q["wall_ms"] for q in qs)
                             for qs in samples.values()], 50) / 1e3, "s"),
        "host.steal_s": (steal_s, "s"),
        "host.load1": (host["load1"], "load"),
        "jvm.gc_ms": (host["jvm_gc_ms"], "ms"),
    }
    result["metrics"] = pl
    result["by_module"] = self_time_by_module(spans)
    result["coverage"] = span_coverage(spans)
    result["orphan_jobs"] = sum(1 for r in records if r["k"] == "job") - len(jobs)
    return result


def self_time_by_module(spans):
    """Self time (ms, later passes) per owning module and span kind; Spark
    jobs are split by the query phase that fired them."""
    table = {}
    for s in spans:
        if s.get("pass_no", 0) < TIMED_FROM or "module" not in s:
            continue
        kind = f"{s['layer']}.job" if s["kind"] == "job" else s["kind"]
        row = table.setdefault(s["module"], {})
        row[kind] = row.get(kind, 0.0) + s["self"]
    return table


def span_coverage(spans):
    """Worst share of a query's wall time that its build/plan/exec spans cover."""
    cover = {}
    for s in spans:
        if s["kind"] in ("build", "plan", "exec"):
            cover.setdefault(s["parent"], []).append((s["start"], s["end"]))
    worst = 1.0
    for s in spans:
        if s["kind"] == "query":
            wall = s["end"] - s["start"]
            covered = union_ms(cover.get(s["id"], []), s["start"], s["end"])
            worst = min(worst, covered / wall if wall > 0 else 1.0)
    return worst


# ---------------------------------------------------------------- main

def contract_line(result, names):
    metrics = {n: {"value": result["metrics"][n][0], "unit": result["metrics"][n][1]}
               for n in names}
    return json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                       "failed": result["failed"], "metrics": metrics})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=os.path.join(WORK, "results"),
                    help="directory that receives the full result file")
    args = ap.parse_args(argv)
    t_start = time.time()
    # a terminated run still stops its JVM (the `finally` in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        check_checkout()
        bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        workloads = load_json("workloads.json")
        if args.workload not in workloads:
            raise RunError(f"unknown workload {args.workload}; known: {sorted(workloads)}")
        workload = dict(workloads[args.workload], name=args.workload)
        java_args, src_digest, build_s = build()
        # the first run in a checkout may also spend time on the build
        records = run_jvm(java_args, workload, args.seed, args.seconds, args.trace,
                          t_start + build_s + RUN_LIMIT_S)
        result = summarize(records, workload, load_json("expected.json"), args.trace)
    except RunError as e:
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        return 1
    if args.trace and result["coverage"] < 0.99:
        print(f"[perfbench] run failed: layer spans cover only {result['coverage']:.3f} "
              "of a query's wall time", file=sys.stderr)
        return 1
    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    missing = sorted(set(names) - set(result["metrics"]))
    if missing:
        print(f"[perfbench] run failed: metrics not produced: {missing}", file=sys.stderr)
        return 1
    result["env"] = relative_paths(result["env"])
    result.update(seed=args.seed, seconds=args.seconds, source_sha256=src_digest,
                  commit=git_commit(), scratch_state="emptied before and after the run",
                  spark_local_dir_effective=os.path.relpath(os.path.join(WORK, "local"), ROOT),
                  fixtures=os.path.relpath(FIXTURES, ROOT), wall_s=time.time() - t_start)
    os.makedirs(args.results, exist_ok=True)
    path = os.path.join(args.results, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    if args.trace:
        with open(os.path.join(WORK, "records.jsonl")) as f:
            raw = [json.loads(l) for l in f if l.strip()]
        with open(path[:-len(".json")] + ".records.jsonl", "w") as f:
            for r in raw:
                f.write(json.dumps(relative_paths(r) if r["k"] == "env" else r) + "\n")
    for f in result["failures"]:
        print(f"FAILED {f['name']} (pass {f['pass']}): {f['why']}")
    if result["host_gate_breached"]:
        print("[perfbench] host gate breached: steal or load above the gate", file=sys.stderr)
    for n in names:
        v, unit = result["metrics"][n]
        print(f"{n:28s} {v:14.4f} {unit}")
    print(contract_line(result, names))
    return 0


def relative_paths(record):
    """Paths inside the checkout are recorded relative to its root."""
    return {k: os.path.relpath(v, ROOT) if isinstance(v, str) and v.startswith(ROOT + os.sep)
            else v for k, v in record.items()}


def git_commit():
    """HEAD when the checkout is a git repository of its own, else None."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    sys.exit(main())
