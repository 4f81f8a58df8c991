#!/usr/bin/env python3
"""Feature-store benchmark: one workload, one seed, one run.

  python3 fsbench/run.py --workload serve_pit --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and
the harness from source with sbt (fsbench/build.sbt depends on the
engine build one level up) and caches the classpath under
`.bench_build/`; later runs rebuild only when a Scala source changed.

A run generates the workload's inputs from the seed (gen.py), starts
the harness JVM (Harness.scala) on them, checks every operation's
result against an independent DuckDB reference (reference.py), and
prints the metrics. The last stdout line is one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the harness runs a traced closed loop in place of the
timed one and the metrics are the per-layer ones, with the spans and
the self-time summary left in the run directory.

Workloads (see gen.py): serve_pit (tiny point-in-time reads) and
write_churn (versioned writes and the reads that follow them), the two
that BENCHMARK.json gates, and train_asof (large as-of reads), which
runs the same way by hand.
"""
import argparse
import collections
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# End-to-end metrics (measured with tracing off), with their units.
END_TO_END = [
    ("setup_s", "s"), ("ops_per_s", "1/s"), ("read_p50_ms", "ms"),
    ("bytes_per_user_byte", "ratio"),
]
# Per-layer metrics of the traced run, by module, with their units.
# Each is a mean per traced operation unless it says otherwise: the
# `store.build_*` metrics average over reads, `store.write_*` and
# `storage.*_written` over writes (0 on read-only workloads), and
# `storage.live_*`/`storage.catalog_bytes` are taken at the end of the run.
# `self.*` split every operation's wall time over the innermost layer
# covering each instant: Spark jobs (exec), Catalyst phases, the store
# call that builds the DataFrame (store) and the rest of the action (gap).
PER_LAYER = {
    "store.build_ms": "ms", "store.build_jobs": "count",
    "store.write_ms": "ms", "store.write_jobs": "count",
    "store.write_driver_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compile_ms": "ms", "codegen.compiles": "count",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.in_job_ms": "ms", "exec.gap_ms": "ms",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.task_gc_ms": "ms", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio", "exec.failed_tasks": "count",
    "exec.input_rows": "count", "exec.input_bytes": "bytes",
    "exec.rows_per_result": "ratio",
    "storage.bytes_written": "bytes", "storage.files_written": "count",
    "storage.live_files": "count", "storage.live_bytes": "bytes",
    "storage.catalog_bytes": "bytes",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "jvm.heap_used_mb": "MB",
    "self.store_ms": "ms", "self.catalyst_ms": "ms", "self.exec_ms": "ms",
    "self.gap_ms": "ms",
    "trace.ops": "count", "trace.spans": "count", "trace.overhead_pct": "%",
}
SETUP_REPS = 2
HEAP = "3g"
BUILD_TIMEOUT = 850
RUN_TIMEOUT = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[fsbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest(root):
    h = hashlib.sha256()
    for base in ("src/main", "fsbench/src", "build.sbt", "fsbench/build.sbt",
                 "project/build.properties", "fsbench/project/build.properties"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness; return the runtime classpath."""
    stamp = os.path.join(out, "classpath.txt")
    digest = sources_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -XX:-UsePerfData").strip()
    log = os.path.join(out, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "fsbench"), stdout=fh,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env,
            timeout=BUILD_TIMEOUT)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0:
        fail("build failed:\n" + "\n".join(lines[-30:]), 3)
    cp = next((ln for ln in reversed(lines)
               if os.pathsep in ln and ".jar" in ln and not ln.startswith("[")),
              None)
    if cp is None:
        fail("build printed no classpath; see " + log, 3)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    print(f"[fsbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return None
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def verify(run_dir, plan, results):
    """Check every executed operation; returns (checked rows, failures).
    A row is (phase, op, kind, is_write, latency_ms, rows, good, cpu_ms)."""
    from reference import Reference
    ref = Reference(run_dir, plan)
    ops = {op["id"]: op for phase in ("warm", "timed") for op in plan[phase]}
    checked, failures = [], []
    plain = None
    for r in results:
        phase, oid, kind, rw, status, lat_ns, cpu_ns, rows, version, payload = r
        if phase != "warm" and plain is None:
            plain = ref.plain_bytes()  # the live rows after the warm-up
        op = ops[oid]
        good = status == "ok"
        if rw == "w":
            if good:
                ref.apply(op, int(version))
            else:
                failures.append(f"{oid} {kind}: {payload}")
        elif not good:
            failures.append(f"{oid} {kind}: {payload}")
        else:
            try:
                want = ref.expected(op, int(version))
            except Exception as e:  # the reference itself cannot answer
                want = f"<reference error {type(e).__name__}: {e}>"
            if want != payload:
                good = False
                failures.append(f"{oid} {kind}: result differs from the "
                                f"reference (got {payload[:160]!r}, want "
                                f"{want[:160]!r})")
        checked.append((phase, oid, kind, rw == "w", int(lat_ns) / 1e6,
                        int(rows), good, int(cpu_ns) / 1e6))
    return checked, failures, plain if plain is not None else ref.plain_bytes()


def read_p50(ok):
    """Typical read latency of a mix: the geometric mean of the median
    latency of each read kind, so the figure does not jump between kinds
    when the mix of completed operations shifts by one."""
    kinds = {}
    for c in ok:
        if not c[3]:
            kinds.setdefault(c[2], []).append(c[4])
    if not kinds:
        return float("nan")
    return math.exp(statistics.mean(
        math.log(statistics.median(xs)) for xs in kinds.values()))


def mix_mean(ok, mix, field):
    """Mean of a per-operation figure over the workload's operation mix:
    each kind's median, weighted by the kind's share of the timed plan.
    Medians keep a burst of host noise or a late JIT compile from moving
    the figure, and the fixed weights keep it from depending on how many
    slow or fast operations happened to fit in the run. Kinds that
    completed no operation are left out and the weights renormalised."""
    by = {}
    for c in ok:
        by.setdefault(c[2], []).append(c[field])
    w = {k: n for k, n in mix.items() if k in by}
    if not w:
        return float("nan")
    return sum(n * statistics.median(by[k]) for k, n in w.items()) / sum(w.values())


def end_to_end(summary, checked, gen_s, mix):
    ok = [c for c in checked if c[0] == "timed" and c[6]]
    return {
        "setup_s": gen_s + summary["session_s"]
        + statistics.median(summary["setup_rep_s"]) + summary["warm_s"],
        "ops_per_s": 1000.0 / mix_mean(ok, mix, 4),
        "read_p50_ms": read_p50(ok),
        "cpu_ms_per_op": mix_mean(ok, mix, 7),
        "bytes_per_user_byte": summary["store_bytes"] / summary["plain_bytes"],
    }


def detail(checked, summary):
    """Figures that are not gated: per-kind latency with sample counts,
    p90 where there are at least 100 samples, write latency, training
    rows per second."""
    timed = [c for c in checked if c[0] == "timed" and c[6]]
    out = {}
    for label, sel in (("read", lambda c: not c[3]), ("write", lambda c: c[3])):
        xs = [c[4] for c in timed if sel(c)]
        if xs:
            out[f"{label}_p50_ms"] = (statistics.median(xs), len(xs))
            if len(xs) >= 100:
                out[f"{label}_p90_ms"] = (quantile(xs, 0.9), len(xs))
    for kind in sorted({c[2] for c in timed}):
        xs = [c[4] for c in timed if c[2] == kind]
        out[f"{kind}_p50_ms"] = (statistics.median(xs), len(xs))
    train = [c for c in timed if c[2] in ("train", "view", "window")]
    if train:
        out["train_rows_per_s"] = (sum(c[5] for c in train)
                                   / (sum(c[4] for c in train) / 1000), len(train))
    out["wall_s"] = (summary["timed_wall_s"], len(timed))
    out["completed_per_s"] = (len(timed) / summary["timed_wall_s"], len(timed))
    out["cpu_s"] = (summary["timed_cpu_ms"] / 1000, len(timed))
    out["heap_live_mb"] = (summary["heap_live_mb"], 1)
    return out


def overhead(checked):
    """Tracing overhead: each kind's median latency in the traced loop
    over its median in the untraced loops around it, weighted by the
    kind's traced count. Medians damp the JIT warm-up that still speeds
    up the operations of the first untraced loop."""
    by = {}
    for c in checked:
        if c[0] in ("untraced", "traced") and c[6]:
            by.setdefault((c[0], c[2]), []).append(c[4])
    num = den = 0.0
    for (phase, kind), xs in by.items():
        if phase == "traced" and ("untraced", kind) in by:
            num += len(xs) * statistics.median(xs)
            den += len(xs) * statistics.median(by[("untraced", kind)])
    return 100.0 * (num / den - 1) if den else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_pit", "train_asof", "write_churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-faults", action="store_true",
                    help="add one throwing and one wrong-result operation "
                         "(the benchmark's own test)")
    ap.add_argument("--record", help="append this run's record (JSON line) "
                                     "to the file, for compare.py")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/store/FeatureStore.scala")):
        fail("no engine sources under src/main/scala: run from the root of "
             "a full checkout")
    load0 = os.getloadavg()
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    # the run's own time limit starts after the build, which only the
    # first run of a checkout pays
    t_start = time.time()

    import gen
    run_dir = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.time()
    plan = gen.generate(a.workload, a.seed, run_dir, inject=a.inject_faults)
    gen_s = time.time() - t0

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    scratch = os.path.join(run_dir, "scratch")
    with open(os.path.join(run_dir, "run.properties"), "w") as f:
        f.write(f"seconds={a.seconds}\ntrace={a.trace}\n"
                f"setup_reps={SETUP_REPS}\ncpus={cpus}\nscratch={scratch}\n")
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={scratch}", "-Dspark.ui.enabled=false",
              "-cp", cp, "fsbench.Harness", run_dir])
    os.makedirs(scratch, exist_ok=True)
    budget = RUN_TIMEOUT - (time.time() - t_start) - 20
    t0 = time.time()
    with open(os.path.join(run_dir, "harness.out"), "w") as so, \
            open(os.path.join(run_dir, "harness.err"), "w") as se:
        try:
            p = subprocess.run(cmd, stdout=so, stderr=se,
                               stdin=subprocess.DEVNULL, timeout=max(30, budget))
        except subprocess.TimeoutExpired:
            fail("harness timed out", 5)
    if p.returncode != 0:
        with open(os.path.join(run_dir, "harness.err")) as f:
            tail = [ln for ln in f.read().splitlines() if "[fsbench]" in ln
                    or "Exception" in ln][-10:]
        fail(f"harness exited with {p.returncode}:\n" + "\n".join(tail), 4)
    harness_s = time.time() - t0

    with open(os.path.join(run_dir, "results.tsv")) as f:
        results = [ln.rstrip("\n").split("\t", 9) for ln in f if ln.strip()]
    with open(os.path.join(run_dir, "summary.json")) as f:
        summary = json.load(f)
    t0 = time.time()
    checked, failures, summary["plain_bytes"] = verify(run_dir, plan, results)
    verify_s = time.time() - t0

    attempted, failed = len(checked), sum(1 for c in checked if not c[6])
    if a.trace:
        with open(os.path.join(run_dir, "layers.json")) as f:
            metrics = json.load(f)
        metrics["trace.overhead_pct"] = overhead(checked)
        reported = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
        extra = {}
    else:
        mix = collections.Counter(op["kind"] for op in plan["timed"])
        e2e = end_to_end(summary, checked, gen_s, mix)
        reported = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        extra = detail(checked, summary)
        # printed, not gated: it spread too wide between runs on one host
        extra["cpu_ms_per_op"] = (e2e["cpu_ms_per_op"], extra["wall_s"][1])

    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "spark_version": summary["spark_version"], "nproc": os.cpu_count(),
        "cores_used": cpus, "commit": commit(root),
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "conf": summary["conf"],
    }
    with open(os.path.join(run_dir, "run_info.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"spark {info['spark_version']}, {cpus} cores, commit {info['commit']}, "
          f"load {load0[0]:.2f} -> {info['loadavg_end'][0]:.2f}; "
          f"generate {gen_s:.1f}s, harness {harness_s:.1f}s, check {verify_s:.1f}s")
    for k, v in reported.items():
        print(f"  {k:28s} {v['value']:14.4f} {v['unit']}")
    for k, (v, n) in extra.items():
        print(f"  ({k:26s} {v:14.4f} over {n} samples)")
    print(f"  correctness: {attempted - failed}/{attempted} operations match "
          f"the DuckDB reference; fail_ratio {failed / attempted:.4f}")
    for msg in failures[:10]:
        print(f"  FAILED {msg}")

    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                "trace": a.trace, "metrics": {
                                    k: v["value"] for k, v in reported.items()},
                                "attempted": attempted, "failed": failed}) + "\n")
    # keep what explains the run; drop the inputs and the store
    for name in os.listdir(run_dir):
        if name not in ("results.tsv", "summary.json", "layers.json",
                        "spans.jsonl", "run_info.json", "harness.err",
                        "plan.json"):
            p = os.path.join(run_dir, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": reported}))


def commit(root):
    try:
        # the ceiling keeps git from reporting an enclosing repository
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10,
                              env=env, check=True).stdout.strip()
    except Exception:
        return "unknown"


if __name__ == "__main__":
    main()
