#!/usr/bin/env python3
"""The repository's benchmark: one command per workload.

    python3 perfbench/run.py --workload <medallion|bi_reports|catalog> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (under perfbench/target and target/) and
generates the seed's inputs (cached under perfbench/.work/inputs); neither
counts in any metric. Each run then starts fresh JVMs, measures for
`--seconds`, checks every output with DuckDB, prints the metric table and the
environment record, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the spans and per-layer table are written under
perfbench/out/. See perfbench/NOTES.md for why each workload exists.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
sys.path.insert(0, BENCH)

import olistgen  # noqa: E402
import stats  # noqa: E402

# Input sizes. Multiplier 1 is the public Olist size (~100 MB of CSV). At 0.1
# a cold pipeline cycle takes ~30 s on four cores, most of it JIT and per-job
# cost; bi_reports uses 0.05 so that the per-query floor dominates and its
# cold gold build in set-up stays short.
MEDALLION_MULT = 0.1
BI_REPORTS_MULT = 0.05
# The catalog runs on a GenData fixture at 0.01 x sf0.1 (the sf0.001 shape),
# every CATALOG_STRIDE-th query by name: the whole catalog does not fit a run.
CATALOG_MULT = 0.01
CATALOG_STRIDE = 4
MAX_CORES = 4
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 170
RUN_BUDGET_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = [  # name, unit (as in BENCHMARK.json)
    ("setup_s", "s"), ("run_s", "s"), ("cpu_s", "s"), ("retained_heap_mb", "MB"),
]

PER_LAYER = [
    ("bronze.wall_s", "s"), ("bronze.jobs", "count"), ("bronze.task_cpu_s", "s"),
    ("bronze.input_bytes", "bytes"), ("bronze.bytes_written", "bytes"),
    ("silver.wall_s", "s"), ("silver.jobs", "count"), ("silver.task_cpu_s", "s"),
    ("silver.shuffle_bytes", "bytes"), ("silver.bytes_written", "bytes"),
    ("silver.rows_kept_ratio", "ratio"),
    ("quality.wall_s", "s"), ("quality.jobs", "count"), ("quality.input_bytes", "bytes"),
    ("gold_dims.wall_s", "s"), ("gold_dims.jobs", "count"), ("gold_dims.bytes_written", "bytes"),
    ("gold_facts.wall_s", "s"), ("gold_facts.jobs", "count"),
    ("gold_facts.shuffle_bytes", "bytes"), ("gold_facts.spill_bytes", "bytes"),
    ("gold_facts.bytes_written", "bytes"),
    ("pipeline.recount_s", "s"), ("pipeline.recount_jobs", "count"),
    ("pipeline.retries", "count"),
    ("reports.wall_s", "s"), ("reports.jobs", "count"), ("reports.input_bytes", "bytes"),
    ("construct.wall_s", "s"), ("construct.jobs", "count"),
    ("optimize.wall_s", "s"), ("plan.wall_s", "s"),
    ("execute.wall_s", "s"), ("execute.jobs", "count"), ("execute.stages", "count"),
    ("execute.tasks", "count"), ("execute.task_cpu_s", "s"),
    ("execute.shuffle_bytes", "bytes"), ("execute.spill_bytes", "bytes"),
    ("execute.input_bytes", "bytes"), ("execute.core_idle_ratio", "ratio"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
    ("trace.run_s", "s"), ("trace.overhead_s", "s"), ("trace.gap_s", "s"),
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------- build

def _sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.*"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return the classpath."""
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "build.sbt")):
        if not os.path.exists(need):
            fail(f"program sources not found ({os.path.relpath(need, ROOT)}); "
                 "run from the root of a checkout of the repository")
    digest = _sources_digest()
    stamp = os.path.join(WORK, "build", "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest:
            return s["classpath"], s["digest"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=lf, text=True, env=env, timeout=840)
    lines = p.stdout.splitlines()
    with open(log, "a") as lf:
        lf.write(p.stdout)
    cp = [ln for ln in lines if "perfbench" in ln and ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        fail(f"build failed (exit {p.returncode}); see {os.path.relpath(log, ROOT)}", 3)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip(), digest


# ------------------------------------------------------------------ inputs

def catalog_fixture(cp, cores):
    """The GenData fixture and every `SparkEntry.queries` name, made once."""
    d = os.path.join(WORK, "inputs", f"catalog_m{CATALOG_MULT}")
    names = os.path.join(d, "query_names.txt")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        res = jvm(cp, ["--workload", "gen-catalog", "--input", d, "--names", names,
                       "--multiplier", str(CATALOG_MULT)], cores, "gen-catalog")
        if res is None:
            fail("catalog fixture generation failed", 4)
        shutil.rmtree(res["_dir"], ignore_errors=True)
        open(os.path.join(d, "_DONE"), "w").close()
    with open(names) as f:
        every = sorted(n.strip() for n in f if n.strip())
    # every CATALOG_STRIDE-th query by name, a fixed slice of the catalog
    return d, every[::CATALOG_STRIDE]


# --------------------------------------------------------------------- jvm

def jvm(cp, args, cores, label, trace=False):
    """Run one harness JVM in a fresh work dir; return its result, or None."""
    run_dir = os.path.join(WORK, "runs", f"{label}-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--cores", str(cores), "--work", run_dir,
            "--out", out, "--trace", "1" if trace else "0"] + args
    log = os.path.join(run_dir, "jvm.log")
    launched = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as lf:
            tail = lf.read()[-3000:]
        print(f"perfbench: {label} JVM failed (exit {code}):\n{tail}", file=sys.stderr)
        return None
    with open(out) as f:
        res = json.load(f)
    res["_launched"] = launched
    res["_dir"] = run_dir
    return res


def tree_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def meminfo():
    try:
        with open("/proc/meminfo") as f:
            return {ln.split(":")[0]: int(ln.split()[1]) for ln in f if ln.split()[1:]}
    except OSError:
        return {}


# --------------------------------------------------------------- workloads

class Outcome:
    def __init__(self):
        self.results = []      # harness result dicts, one per JVM
        self.attempted = 0
        self.failed = 0
        self.failures = []     # named failures


def run_medallion(cp, cores, seed, seconds, trace):
    csv_dir, manifest = olistgen.ensure(os.path.join(WORK, "inputs"), seed, MEDALLION_MULT)
    import checks
    # the expected figures depend only on the inputs: derive them once per seed
    exp_file = os.path.join(csv_dir, "expected_medallion.json")
    if not os.path.exists(exp_file):
        with open(exp_file + ".tmp", "w") as f:
            json.dump(checks.expected_medallion(csv_dir), f)
        os.rename(exp_file + ".tmp", exp_file)
    with open(exp_file) as f:
        expected = json.load(f)
    o = Outcome()
    csv_bytes = sum(os.path.getsize(os.path.join(csv_dir, f)) for f in os.listdir(csv_dir)
                    if f.endswith(".csv"))
    t0 = time.time()
    k = 0
    last = 0.0
    # fresh JVM per cycle; with trace 1, untraced and traced cycles alternate;
    # no cycle starts that would end past RUN_BUDGET_S
    while k < (2 if trace else 1) or (time.time() - t0 < seconds
                                      and time.time() - t0 + last < RUN_BUDGET_S):
        started = time.time()
        traced = trace and k % 2 == 1
        res = jvm(cp, ["--workload", "medallion", "--seed", str(seed), "--seconds", str(seconds),
                       "--input", csv_dir], cores, "medallion", trace=traced)
        k += 1
        last = time.time() - started
        o.attempted += 6  # the pipeline run and five reports
        if res is None:
            o.failed += 6
            o.failures.append("medallion JVM failed")
            continue
        res["_traced"] = traced
        bad = checks.check_medallion(res["gold_dir"], res["run_report"], expected)
        bad_reports = checks.check_reports(res["gold_dir"], res["reports"])
        o.failed += (1 if bad else 0) + len(bad_reports) + len(res["errors"])
        o.failures += bad + bad_reports + res["errors"]
        out_dir = os.path.join(res["_dir"], "medallion")
        res["_bytes_written_ratio"] = tree_bytes(out_dir) / csv_bytes
        res["_rows_kept"] = (sum(res["run_report"]["silver_rows"].values())
                             / sum(v for t, v in manifest["rows"].items()
                                   if t != "product_category_name_translation"))
        o.results.append(res)
        shutil.rmtree(res["_dir"], ignore_errors=True)
    return o


def run_bi_reports(cp, cores, seed, seconds, trace):
    csv_dir, _ = olistgen.ensure(os.path.join(WORK, "inputs"), seed, BI_REPORTS_MULT)
    import checks
    o = Outcome()
    res = jvm(cp, ["--workload", "bi_reports", "--seed", str(seed), "--seconds", str(seconds),
                   "--input", csv_dir], cores, "bi_reports", trace=trace)
    if res is None:
        o.attempted, o.failed = 1, 1
        o.failures.append("bi_reports JVM failed")
        return o
    runs = [q for u in res["units"] for q in u["queries"]]
    o.attempted = len(runs)
    bad = checks.check_reports(res["gold_dir"], res["reports"])
    bad_names = {b.split(":")[0] for b in bad}
    o.failed = sum(1 for q in runs if q["name"] in bad_names) + res["refresh_mismatches"]
    o.failures = bad + res["errors"]
    o.results.append(res)
    shutil.rmtree(res["_dir"], ignore_errors=True)
    return o


def run_catalog(cp, cores, seed, seconds, trace):
    fixture, names = catalog_fixture(cp, cores)
    import checks
    o = Outcome()
    qfile = os.path.join(WORK, "inputs", f"catalog_stride{CATALOG_STRIDE}.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(names) + "\n")
    res = jvm(cp, ["--workload", "catalog", "--seed", str(seed), "--seconds", str(seconds),
                   "--input", fixture, "--queries", qfile], cores, "catalog", trace=trace)
    if res is None:
        o.attempted, o.failed = 1, 1
        o.failures.append("catalog JVM failed")
        return o
    runs = [q for u in res["units"] for q in u["queries"]]
    bad = checks.check_catalog(fixture, res["dump_dir"],
                               [n for n in names if n not in res["failed_queries"]],
                               res["oracle_sql"])
    bad_names = set(bad) | set(res["failed_queries"])
    # a query that failed in some pass is missing from that pass's samples
    passes = len(res["units"])
    o.attempted = passes * len(names)
    o.failed = sum(1 for q in runs if q["name"] in bad_names) + (o.attempted - len(runs))
    o.failures = [f"{n}: {m}" for n, m in sorted(bad.items())] + res["errors"]
    o.results.append(res)
    shutil.rmtree(res["_dir"], ignore_errors=True)
    return o


# ----------------------------------------------------------------- metrics

def end_to_end(o):
    """Every end-to-end figure the run gives, as {name: (value, unit, n)}."""
    untraced = [u for r in o.results for u in r["units"] if not u["traced"]]
    queries = [q["s"] for u in untraced for q in u.get("queries", [])]
    setups = [r["first_call_epoch_ms"] / 1e3 - r["_launched"] for r in o.results
              if not r.get("_traced")]
    heaps = [r["retained_heap_mb"] for r in o.results if not r.get("_traced")]
    m = {
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "run_s": (statistics.median([u["wall_s"] for u in untraced]), "s", len(untraced)),
        "query_p50_s": (statistics.median(queries), "s", len(queries)),
        "query_p95_s": (stats.percentile(queries, 0.95), "s", len(queries)),
        # CPU of the whole timed section per unit: JIT bursts land in single
        # units, so a per-unit median would sample them unevenly
        "cpu_s": (sum(u["cpu_s"] for u in untraced) / len(untraced), "s", len(untraced)),
        "retained_heap_mb": (statistics.median(heaps), "MB", len(heaps)),
    }
    ratios = [r["_bytes_written_ratio"] for r in o.results if "_bytes_written_ratio" in r]
    if ratios:
        m["bytes_written_ratio"] = (statistics.median(ratios), "ratio", len(ratios))
    m["error_ratio"] = (o.failed / o.attempted, "ratio", o.attempted)
    return m


def per_layer(o, workload):
    traced = [r for r in o.results if r["layers"]]
    layers = {}
    for name, _ in PER_LAYER:
        vals = [r["layers"][name] for r in traced if name in r["layers"]]
        layers[name] = statistics.median(vals) if vals else 0.0
    n_units = [max(1, r["layers"]["traced_units"]) for r in traced]
    for key, name in (("codegen_compiles", "codegen.compiles"), ("codegen_s", "codegen.compile_s"),
                      ("jit_s", "jvm.jit_s"), ("gc_s", "jvm.gc_s")):
        layers[name] = statistics.median([r["jvm"][key] / n for r, n in zip(traced, n_units)])
    if workload == "medallion":
        layers["pipeline.retries"] = statistics.median([r["retries"] for r in traced])
        layers["silver.rows_kept_ratio"] = statistics.median([r["_rows_kept"] for r in traced])
    untraced_run = statistics.median([u["wall_s"] for r in o.results for u in r["units"]
                                 if not u["traced"]])
    layers["trace.run_s"] = statistics.median([r["layers"]["traced_run_s"] for r in traced])
    layers["trace.overhead_s"] = layers["trace.run_s"] - untraced_run
    stage_walls = (["bronze", "silver", "quality", "gold_dims", "gold_facts", "reports"]
                   if workload == "medallion" else ["construct", "optimize", "plan", "execute"])
    covered = sum(layers[f"{s}.wall_s"] for s in stage_walls)
    if workload == "medallion":
        covered += layers["pipeline.recount_s"]
    layers["trace.gap_s"] = layers["trace.run_s"] - covered
    return layers


def write_trace(o, workload, seed, layers):
    os.makedirs(OUT, exist_ok=True)
    spans = [dict(s, jvm=i) for i, r in enumerate(o.results) for s in r["spans"]]
    base = os.path.join(OUT, f"{workload}-seed{seed}")
    with open(base + "-spans.json", "w") as f:
        json.dump(spans, f)
    units = sum(r["layers"]["traced_units"] for r in o.results if r["layers"])
    self_t = {}
    for r in o.results:
        for k, v in stats.self_times(r["spans"]).items():
            self_t[k] = self_t.get(k, 0.0) + v
    lines = [f"per-layer table: {workload}, seed {seed}, {units} traced unit(s)",
             f"{'metric':32} {'value':>16}"]
    lines += [f"{k:32} {v:16.6g}" for k, v in layers.items()]
    lines += ["", "self time per traced unit (span duration minus child spans)",
              f"{'layer':32} {'self_s':>16}"]
    lines += [f"{k:32} {v / max(1, units):16.6f}" for k, v in sorted(self_t.items())]
    text = "\n".join(lines)
    with open(base + "-layers.txt", "w") as f:
        f.write(text + "\n")
    return text, base


def source_id():
    """The git commit, when the checkout is a git repository."""
    # the ceiling keeps git from finding a repository above the checkout
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10, env=env)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["medallion", "bi_reports", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so that a running JVM is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp, digest = build()
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    mem_before = meminfo()
    o = {"medallion": run_medallion, "bi_reports": run_bi_reports,
         "catalog": run_catalog}[a.workload](cp, cores, a.seed, a.seconds, a.trace == 1)
    mem_after = meminfo()
    if not o.results:
        fail("no JVM completed; see the errors above", 5)

    e2e = end_to_end(o)
    print(f"workload {a.workload}, seed {a.seed}, {a.seconds:g} s measured, "
          f"{len(o.results)} JVM(s), {cores} cores")
    print(f"{'metric':20} {'value':>14} {'unit':6} {'samples':>8}")
    for name, (v, unit, n) in e2e.items():
        shown = f"{v:14.6f}" if v is not None else f"{'n/a':>14}"
        note = "  (fewer than 10 samples beyond p95)" if v is None else ""
        print(f"{name:20} {shown} {unit:6} {n:8d}{note}")
    for msg in o.failures[:20]:
        print(f"FAIL {msg}")
    env = {
        "nproc": os.cpu_count(), "cores_used": cores,
        "jvm_max_heap_mb": o.results[0]["env"]["jvm_max_heap_mb"],
        "local_dir_free_gb": o.results[0]["env"]["local_dir_free_gb"],
        "spark_version": o.results[0]["env"]["spark_version"],
        "calibration_s": [r["calibration_s"] for r in o.results],
        "meminfo_kb_before": {k: mem_before.get(k) for k in ("MemTotal", "MemAvailable", "Cached")},
        "meminfo_kb_after": {k: mem_after.get(k) for k in ("MemTotal", "MemAvailable", "Cached")},
        "git_commit": source_id(), "source_sha256": digest,
    }
    print("env " + json.dumps(env, sort_keys=True))

    if a.trace:
        layers = per_layer(o, a.workload)
        text, base = write_trace(o, a.workload, a.seed, layers)
        print(text)
        print(f"spans: {os.path.relpath(base, ROOT)}-spans.json")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n][0], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": o.failed == 0, "attempted": o.attempted, "failed": o.failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
