#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
this harness from source with sbt (into `.bench_build/` and the sbt
`target/` dirs) and later runs reuse the build while the sources are
unchanged. Each run then

1. generates the workload's inputs from the seed (once per seed, cached
   under `.bench_build/inputs/`, outside any timing);
2. starts one JVM (`graft.perfbench.Harness`) at `local[nproc]` that sets
   up Spark, makes the workload's cold operation, one unmeasured warm-up
   operation (the program JIT-warms over it), then measured operations
   for `--seconds` (at least three), closed loop with one caller, and
   writes its raw measurements;
3. checks the outputs with DuckDB (see checks.py), after the JVM has
   exited so the oracle never competes with the measured program;
4. prints a `perfbench-detail` JSON line (every workload metric by name
   and unit with sample counts, every span's counters, the input shape
   and the run context) and, as the last line, the result object with
   the end-to-end metrics (`--trace 0`) or the per-layer metrics
   (`--trace 1`).

Workloads (all closed-loop, one caller, no concurrency):
- weather_etl: one bulk WeatherPipeline.run over a seeded raw zone, then
  31-day WeatherPipeline.incremental batches; Q1-Q3 after the bulk load
  and after every measured batch. The operation is one upsert batch.
- catalog_mix: a fixed list of catalog keys over a seeded documents
  table (corpus_prep_e2e and the iterative graph_pagerank), each timed
  as the key function plus count(). The operation is one pass over the
  list. A traced run also times the corpus key's stages one by one,
  which gives the seed's stage populations.

End-to-end metrics, the same names on every workload:
- setup_s: JVM start to the first timed call (session with
  GraftExtensions, table warm-up).
- cold_s: the first operation: the bulk load / the cold pass.
- op_p50_s: median measured operation: an upsert batch / a warm pass.
- heap_peak_mb: old-generation heap in use after a full GC, after the
  measured operations.

Per-layer metrics (`--trace 1`) are `<phase>.<counter>` for the cold
operation and per measured operation, summed over the program calls
inside (Spark jobs, tasks, task metrics, Catalyst phases, files). The
detail line splits them by span (`wx.upsert`, `key.build`, ...) and, in
composed calls, by issuing module. The traced run detaches the tracer
for every other measured operation; the ratio of the two sides'
medians, less one, is `trace.overhead_frac`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

WORKLOADS = ("weather_etl", "catalog_mix")
RUN_DEADLINE_S = 170  # after the build, a run must end within 180 s

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

COUNTERS = ["wall_s", "jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_write_mb", "spill_mb", "input_files", "output_files",
            "output_mb", "catalyst_analysis_s", "catalyst_optimize_s",
            "catalyst_plan_s", "slot_util"]
UNITS = {"wall_s": "s", "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
         "catalyst_analysis_s": "s", "catalyst_optimize_s": "s",
         "catalyst_plan_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "output_mb": "MB", "slot_util": "frac", "jobs": "count",
         "tasks": "count", "input_files": "count", "output_files": "count"}
# phases every workload runs; the per-layer metrics are their counters
PHASES = ["cold", "op"]
# spans each workload's traced run must have run, with jobs
SPANS = {"weather_etl": ["wx.transform", "wx.write", "wx.upsert", "wx.query"],
         "catalog_mix": ["key.build", "key.action", "corpus.c4", "corpus.ladder",
                         "corpus.lm_fit", "corpus.lm_score", "corpus.prepare"]}


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = [(f"{p}.{c}", UNITS[c]) for p in PHASES for c in COUNTERS]
    out.append(("trace.overhead_frac", "frac"))
    return out


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_times():
    """The host-wide CPU counters (user ... steal) from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_frac(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: a contended window shows here."""
    if not t0 or not t1 or sum(t1) == sum(t0):
        return None
    return (t1[7] - t0[7]) / (sum(t1) - sum(t0))


def driver_mem():
    """Spark driver heap as the test suite sizes it: half of MemTotal in
    GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(max(g, 2), 8)}g"


# --- build -----------------------------------------------------------------

def _sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties"):
        for base in (ROOT, HERE):
            p = os.path.join(base, f)
            if os.path.exists(p):
                yield p


def source_digest():
    h = hashlib.sha1()
    for p in sorted(_sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build(src_digest):
    """Compile the program and the harness; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == src_digest:
                with open(cp_file) as fh2:
                    return fh2.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("sbt not found on PATH")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building program and harness with sbt")
    t0 = time.time()
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {BUILD}/build.log)")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(src_digest)
    return lines[-1].strip()


# --- inputs ----------------------------------------------------------------

def inputs(workload, seed):
    """The seed's inputs, generated on first use; the directory is keyed
    by the generator's source so an edited generator never reuses them."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:8]
    d = os.path.join(BUILD, "inputs", f"{workload}-s{seed}-{version}")
    if not os.path.exists(os.path.join(d, "shape.json")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if workload == "weather_etl":
            gen.gen_weather(tmp, seed)
        else:
            gen.gen_corpus(tmp, seed)
        os.rename(tmp, d)
    with open(os.path.join(d, "shape.json")) as fh:
        return d, json.load(fh)


# --- the JVM run -----------------------------------------------------------

def run_jvm(cp, workload, seed, seconds, trace, input_dir, extra, deadline):
    work = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    # no hsperfdata file: the JVM would write it under the system temp dir
    cmd = [java, f"-Xmx{driver_mem()}", *ADD_OPENS, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graft.perfbench.Harness",
           f"workload={workload}", f"input={input_dir}", f"work={work}",
           f"seconds={seconds}", f"trace={trace}", f"cpus={nproc()}",
           f"out={out}", *[f"{k}={v}" for k, v in extra.items()]]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"harness timed out (log: {work}/jvm.log)")
    if proc.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"harness failed with {proc.returncode} (log: {work}/jvm.log)")
    with open(out) as fh:
        return work, json.load(fh)


# --- checks ----------------------------------------------------------------

def cached(name, compute):
    path = os.path.join(BUILD, "cache", name + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    v = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(v, fh)
    return v


def documents_digest(input_dir):
    with open(os.path.join(input_dir, "documents.parquet"), "rb") as fh:
        return hashlib.sha1(fh.read()).hexdigest()[:12]


def oracle_digests(input_dir, oracle_sql):
    """The DuckDB oracle's digest of every mix key over the input, cached
    per input content and oracle text (the corpus oracle takes about as
    long as the Spark run)."""
    data = documents_digest(input_dir)
    con = None
    out = {}
    for key, sql in sorted(oracle_sql.items()):
        name = f"oracle-{key}-{data}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}"

        def compute():
            nonlocal con
            con = con or checks.oracle_con(input_dir)
            return checks.rows_digest(con, sql)
        out[key] = cached(name, compute)
    return out


def run_checks(workload, seed, input_dir, shape, work, res):
    if workload == "weather_etl":
        return checks.check_weather(seed, shape, os.path.join(work, "clean"),
                                    res["batches_applied"], res)
    want = oracle_digests(input_dir, res["oracle_sql"])
    return checks.check_mix(want, work, res["row_counts"])


# --- metrics ---------------------------------------------------------------

def tail(xs):
    """(percentile, value): the highest percentile that still has at least
    ten samples beyond it (nearest rank); None with fewer than 11."""
    xs = sorted(xs)
    k = len(xs) - 10
    return (round(100 * k / len(xs)), xs[k - 1]) if k >= 1 else (None, None)


def timing(xs, unit="s"):
    return {"value": statistics.median(xs) if xs else None, "unit": unit, "n": len(xs)}


def workload_metrics(workload, res, shape):
    """Every metric the workload defines, by name, with unit and samples,
    and the end-to-end metrics."""
    s = res["samples"]
    m = {"setup_s": timing(s["setup_s"]),
         "op_fail_frac": {"value": res["failed"] / max(1, res["attempted"]),
                          "unit": "frac", "n": res["attempted"]},
         "heap_peak_mb": {"value": res["heap_peak_mb"], "unit": "MB", "n": 1}}
    cold, op = s.get("cold_s", []), s.get("op_s", [])
    if workload == "weather_etl":
        m["bulk_rows_per_s"] = {"value": shape["bulk_rows"] / cold[0] if cold else None,
                                "unit": "rows/s", "n": len(cold)}
        m["upsert_p50_s"] = timing(op)
        m["query_p50_s"] = timing(s.get("query_s", []))
        p, v = tail(s.get("query_s", []))
        m["query_tail_s"] = {"value": v, "unit": "s", "percentile": p,
                             "n": len(s.get("query_s", []))}
        m["table_bytes_per_row"] = {"value": res.get("table_bytes_per_row"),
                                    "unit": "B/row", "n": 1}
    else:
        corpus = s.get("op:corpus_prep_e2e", [])
        m["corpus_cold_s"] = timing(s.get("cold:corpus_prep_e2e", []))
        m["corpus_docs_per_s"] = {
            "value": shape["documents"] / statistics.median(corpus) if corpus else None,
            "unit": "docs/s", "n": len(corpus)}
        m["mix_cold_s"] = timing(cold)
        m["mix_warm_s"] = timing(op)
        keys = [x for k, v in s.items() if k.startswith("op:") for x in v]
        m["key_p50_s"] = timing(keys)
        p, v = tail(keys)
        m["key_tail_s"] = {"value": v, "unit": "s", "percentile": p, "n": len(keys)}
        m["key_p50_s_by_key"] = {k[3:]: timing(v) for k, v in s.items() if k.startswith("op:")}
    end_to_end = {
        "setup_s": m["setup_s"]["value"],
        "cold_s": cold[0] if cold else None,
        "op_p50_s": statistics.median(op) if op else None,
        "heap_peak_mb": res["heap_peak_mb"],
    }
    return m, end_to_end


E2E_UNITS = {"setup_s": "s", "cold_s": "s", "op_p50_s": "s", "heap_peak_mb": "MB"}


def counters(c, cpus, per=1):
    """One span or phase's counters, divided by `per` calls."""
    out = {k: c.get(k, 0) / per for k in COUNTERS if k != "slot_util"}
    out["slot_util"] = c["task_run_s"] / (c["wall_s"] * cpus) if c.get("wall_s") else 0.0
    return out


def add(into, c):
    for k, v in c.items():
        if isinstance(v, (int, float)):
            into[k] = into.get(k, 0) + v


def layer_tables(res, cpus, batch_rows):
    """Trace counters by phase and by span (sums over the `<phase>/<span>`
    keys the harness recorded) and module counters per measured
    operation. Raises when a span or phase that must have run has no
    calls or no jobs: a tracer that saw nothing is a failed run."""
    by_phase, by_span = {}, {}
    for key, c in res.get("spans", {}).items():
        phase, span = key.split("/", 1)
        add(by_phase.setdefault(phase, {}), c)
        add(by_span.setdefault(span, {}), c)
    missing = [f"{n} ({'calls' if not t.get('calls') else 'jobs'})"
               for n, t in [(s, by_span.get(s, {})) for s in SPANS[res["workload"]]]
               + [(p, by_phase.get(p, {})) for p in PHASES]
               if not t.get("calls") or not t.get("jobs")]
    if missing:
        raise SystemExit(f"trace recorded nothing for: {', '.join(missing)}")
    ops = {"cold": 1, "op": res["traced_ops"]}
    phases = {p: counters(by_phase[p], cpus, ops[p]) for p in PHASES}
    spans = {s: dict(counters(c, cpus, c["calls"]), calls=c["calls"])
             for s, c in by_span.items() if s != "untraced"}
    if "wx.upsert" in by_span:
        up = res["spans"].get("op/wx.upsert", {})
        spans["wx.upsert"]["rows_written_per_batch_row"] = (
            up.get("output_rows", 0) / batch_rows if batch_rows else None)
    modules = {kind: {k[3:]: {n: v / res["traced_ops"] for n, v in c.items()}
                      for k, c in res.get(kind, {}).items() if k.startswith("op/")}
               for kind in ("modules", "operators")}
    return phases, spans, modules


def layer_metrics(phases, overhead):
    units = dict(per_layer_names())
    out = {f"{p}.{k}": {"value": v, "unit": units[f"{p}.{k}"]}
           for p in PHASES for k, v in phases[p].items()}
    out["trace.overhead_frac"] = {"value": overhead, "unit": "frac"}
    return out


def record_table(seed, shape, clean, res):
    """The final clean table's size: rows, files, partitions, bytes/row."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(clean)
             for f in fs if f.endswith(".parquet")]
    rows = len(gen.weather_truth(seed, shape["bulk_days"], shape["batches"],
                                 res["batches_applied"]))
    res["table_bytes_per_row"] = sum(os.path.getsize(f) for f in files) / rows
    shape["final_rows"], shape["final_files"] = rows, len(files)
    shape["final_partitions"] = len({os.path.dirname(f) for f in files})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                            "SparkEntry.scala"))):
        log(f"no program sources under {ROOT}: run from a full checkout")
        return 2
    os.makedirs(BUILD, exist_ok=True)
    load_start, cpu_start = os.getloadavg()[0], cpu_times()
    src_digest = source_digest()
    cp = build(src_digest)
    deadline = time.time() + RUN_DEADLINE_S
    input_dir, shape = inputs(a.workload, a.seed)

    extra = {"batches": shape["batches"]} if a.workload == "weather_etl" else {}
    t0 = time.time()
    work, res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, input_dir, extra,
                        deadline)
    res["workload"] = a.workload
    log(f"harness ran {time.time() - t0:.1f} s")
    if a.workload == "catalog_mix":
        # the stage populations come from a traced run on the same input
        pops = os.path.join(BUILD, "cache", f"populations-{documents_digest(input_dir)}.json")
        if "populations" in res:
            os.makedirs(os.path.dirname(pops), exist_ok=True)
            with open(pops, "w") as fh:
                json.dump(res["populations"], fh)
        shape["populations"] = {"docs": shape["documents"]}
        if os.path.exists(pops):
            with open(pops) as fh:
                shape["populations"] = json.load(fh)
        shape["populations"]["fuzzy_survivors"] = duckdb.sql(
            f"SELECT count(*) FROM '{work}/warm/corpus_prep_e2e/*.parquet'").fetchone()[0]
    else:
        record_table(a.seed, shape, os.path.join(work, "clean"), res)

    t0 = time.time()
    problems = run_checks(a.workload, a.seed, input_dir, shape, work, res)
    log(f"checks ran {time.time() - t0:.1f} s")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    metrics, e2e = workload_metrics(a.workload, res, shape)

    layers = {}
    if a.trace:
        batch_rows = sum(shape["batch_rows"][k - 1] for k in res.get("traced_batches", []))
        phases, spans, modules = layer_tables(res, nproc(), batch_rows)
        raw = res["samples"]
        overhead = (statistics.median(raw["op_traced_s"])
                    / statistics.median(raw["op_untraced_s"]) - 1)
        layers = {"phases": phases, "spans": spans, "per_op": modules,
                  "overhead_samples": {"traced": raw["op_traced_s"],
                                       "untraced": raw["op_untraced_s"]}}
        final = layer_metrics(phases, overhead)
    else:
        final = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        head = r.stdout.strip() or None
    context = {"seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "nproc": nproc(), "driver_mem": driver_mem(),
               "load_avg_1m_start": load_start, "load_avg_1m_end": os.getloadavg()[0],
               "cpu_steal_frac": steal_frac(cpu_start, cpu_times()),
               "jdk": res.get("java_version"), "spark": res.get("spark_version"),
               "git_head": head, "source_sha1": src_digest,
               "errors": res.get("errors", {})}
    detail = {"workload": a.workload, "metrics": metrics, "layers": layers,
              "input": shape, "context": context, "problems": problems}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump({"detail": detail, "final": final, "raw": res}, fh)
    print("perfbench-detail " + json.dumps(detail))
    if any(v["value"] is None for v in final.values()):
        log("a metric could not be measured")
        return 1
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": final}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
