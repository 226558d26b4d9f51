#!/usr/bin/env python3
"""The engine's benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--data-dir <dir>]

Builds the engine and the harness (perfbench/build.py), prepares the data
and the DuckDB oracle answers (cached under .bench_build), then starts one
JVM that runs the workload through the engine's public entry points
(graft.perfbench.Harness). It checks every result, prints a report line
with provenance, and as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

# At most 4 cores and 4 clients: the session is local[N] with N <= nproc.
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "4g"
SETUP_REPS = 3
MIN_STEADY_PASSES = 2
JVM_TIMEOUT_S = 160
# a run is contended when the end canary is this much slower than the start,
# or when other guests took this share of the CPU time during the run
CANARY_CONTENDED_RATIO = 1.5
STEAL_CONTENDED_SHARE = 0.05

# Each workload is a fixed set of queries; the seed fixes only the order of
# each pass (for concurrent_sf1, the order in which the clients take them).
# The sets are samples of the spec groups the workloads are named after,
# sized so that a run's cold pass and several steady passes fit its time.
# pass_s is a warm pass's length on a quiet 4-core VM: --seconds buys
# round(seconds / pass_s) steady passes, a count that does not depend on
# how fast the machine happens to be, so every run has the same samples.
WORKLOADS = {
    # Pipeline and Curation operators over sf0.1, one client: eager Spark
    # jobs during construction, iterative operators (Components, KMeans),
    # pair shuffles and the custom functions do most of the work.
    "curation_sf0.1": dict(data="sf0.1", clients=1, sql=False, pass_s=7.0, queries=[
        "dedup_components", "kmeans_fit", "dedup_embedding_exact",
        "multimodal_pseudo_decode", "ann_ivf_topk", "text_perplexity",
        "text_quality", "sample_stratified", "text_decontaminate_ac"]),
    # Relational queries over a 10x copy of sf0.1, sent as SQL text (their
    # oracle SQL, which Spark parses) through createTable + sqlToken/fetch by
    # CORES closed-loop clients: scan, shuffle and joins dominate, and the
    # queries share the cores.
    "concurrent_sf1": dict(data="sf1", clients=CORES, sql=True, pass_s=3.5, queries=[
        "q1_agg", "q3_topk", "q6_filter", "q14_promo", "q19_disjunctive",
        "agg_stats", "join_semi"]),
}

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "latency_p50_s": "s",
              "latency_tail_s": "s", "throughput_qps": "1/s"}

PER_LAYER = {
    "GraftContext.session_s": "s", "GraftContext.register_s": "s",
    "queries.construct_s": "s", "operators.eager_jobs": "count",
    "plans.plan_s": "s", "plans.exchanges_final": "count",
    "plans.broadcast_joins": "count", "plans.skew_splits": "count",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_wait_s": "s",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.cpu_ratio": "ratio", "Tables.input_mb": "MB",
    "Tables.input_rows": "count", "Tables.rows_per_result_row": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s", "spill.memory_mb": "MB", "spill.disk_mb": "MB",
    "exec.peak_exec_mem_mb": "MB", "exec.gc_s": "s", "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB", "operators.cache_retained_mb": "MB",
    "GraftContext.token_wait_s": "s", "GraftContext.fetch_s": "s",
    "self.query_s": "s", "self.construct_s": "s", "self.plan_s": "s",
    "self.execute_s": "s", "self.submit_s": "s", "self.fetch_s": "s",
    "self.job_s": "s", "self.stage_s": "s",
    "trace.accounted_share": "ratio", "trace.overhead_pct": "%",
}


def log(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.stderr.flush()


def fail(msg):
    log(msg)
    sys.exit(2)


def testdata_root():
    return os.environ.get("PERFBENCH_TESTDATA", os.path.expanduser("~/testdata"))


def java(classpath, main, args, out_dir, env_extra=None, timeout=JVM_TIMEOUT_S):
    """Run one JVM to completion with its output in out_dir; never leave it
    running."""
    tmp = os.path.join(BUILD, "tmp")
    work = os.path.join(BUILD, "work")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    # the benchmark measures the session users get: no SPARK_GRAFT_* overrides
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(env_extra or {})
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
           + build.jvm_module_flags() + ["-cp", classpath, main] + args)
    with open(os.path.join(out_dir, main.split(".")[-1] + ".out"), "w") as out, \
            open(os.path.join(out_dir, main.split(".")[-1] + ".err"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=err)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{main} did not finish within {timeout} s (see {out_dir})")
    if code != 0:
        with open(os.path.join(out_dir, main.split(".")[-1] + ".err")) as fh:
            tail = [ln for ln in fh.read().splitlines() if " INFO " not in ln][-20:]
        fail(f"{main} exited with {code}:\n" + "\n".join(tail))
    with open(os.path.join(out_dir, main.split(".")[-1] + ".out")) as fh:
        return fh.read()


def query_catalog(classpath, digest):
    """name -> oracle SQL or None, from the engine's registry (cached per build)."""
    path = os.path.join(BUILD, "queries.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["queries"]
    out_dir = os.path.join(BUILD, "logs")
    os.makedirs(out_dir, exist_ok=True)
    queries = json.loads(java(classpath, "graft.perfbench.ListQueries", [], out_dir)
                         .strip().splitlines()[-1])
    with open(path, "w") as fh:
        json.dump({"digest": digest, "queries": queries}, fh)
    return queries


def data_dir(kind, classpath):
    """The fixture directory for a workload: sf0.1 as shipped, sf1 as a 10x
    copy made by graft.tools.ScaleData (once per checkout)."""
    src = os.path.join(testdata_root(), "sf0.1")
    if not os.path.isdir(src):
        fail(f"no fixtures at {src} (set PERFBENCH_TESTDATA to the directory "
             "holding sf0.1)")
    if kind == "sf0.1":
        return src
    dst = os.path.join(BUILD, "data", "sf1")
    if os.path.exists(os.path.join(dst, "_COMPLETE")):
        return dst
    log("making the sf1 copy with graft.tools.ScaleData (once per checkout)")
    tmp = dst + ".partial"
    subprocess.run(["rm", "-rf", tmp, dst], check=True)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    java(classpath, "graft.tools.ScaleData", [src, tmp, "10"], logs,
         env_extra={"SPARK_GRAFT_CPUS": str(CORES)}, timeout=600)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    os.rename(tmp, dst)
    return dst


def cpu_times():
    """The machine's aggregate CPU time counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between."""
    if not before or not after or len(before) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total > 0 else None


def git_state():
    """(sha, dirty) of the checkout, or (None, None) when it is not a git
    checkout of its own."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"], cwd=ROOT,
                             text=True, capture_output=True, timeout=10)
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(ROOT):
            return None, None
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, text=True, capture_output=True, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        return None, None


# ---- metrics -------------------------------------------------------------

def tail(samples):
    """(value, percentile, n): the highest whole percentile that has at
    least ten samples beyond it (nearest rank)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100, n
    p = (100 * (n - 10)) // n
    rank = max(1, -(-p * n // 100))
    return xs[rank - 1], p, n


def latency(e):
    return (e["end"] - e["start"]) / 1e3


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spans_of(p, sql):
    """The pass's spans: query -> phases -> jobs -> stages, each with its
    parent, in epoch ms."""
    spans = []
    phase_of = {}
    for e in p["execs"]:
        qid = e["qid"]
        q = {"id": f"q{qid}", "parent": None, "name": "query", "query": e["name"],
             "start": e["start"], "end": e["end"]}
        spans.append(q)
        phases = ([("submit", e["start"], e["submit_end"]), ("fetch", e["submit_end"], e["end"])]
                  if sql else
                  [("construct", e["start"], e["construct_end"]),
                   ("plan", e["construct_end"], e["plan_end"]),
                   ("execute", e["plan_end"], e["end"])])
        for name, a, b in phases:
            s = {"id": f"q{qid}.{name}", "parent": q["id"], "name": name,
                 "query": e["name"], "start": a, "end": b}
            spans.append(s)
            phase_of[(qid, name)] = s["id"]
    names = {e["qid"]: e["name"] for e in p["execs"]}
    for j in p["jobs"]:
        spans.append({"id": f"j{j['id']}", "parent": phase_of.get((j["qid"], j["phase"])),
                      "name": "job", "query": names.get(j["qid"]),
                      "start": j["start"], "end": j["end"] or j["start"]})
    for s in p["stages"]:
        spans.append({"id": f"s{s['id']}.{s['attempt']}",
                      "parent": f"j{s['job']}" if s["job"] >= 0 else None,
                      "name": "stage", "start": s["submit"], "end": s["end"] or s["submit"]})
    return spans


def self_times(spans):
    """Per span name: total duration and self time (duration minus the part
    its children cover), in seconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        dur = s["end"] - s["start"]
        own = dur - union_ms(children.get(s["id"], []), s["start"], s["end"])
        d = out.setdefault(s["name"], [0.0, 0.0])
        d[0] += dur / 1e3
        d[1] += own / 1e3
    return out


def per_layer(h, sql):
    steady = h["passes"][1:]
    traced = [p for p in steady if p["traced"]]
    k = len(traced)
    setup = h["setup"]
    m = {n: 0.0 for n in PER_LAYER}
    peaks = {"exec.peak_exec_mem_mb": 0.0, "jvm.heap_peak_mb": 0.0,
             "operators.cache_retained_mb": 0.0}
    all_spans = []
    result_rows = 0
    for p in traced:
        stages, jobs = p["stages"], p["jobs"]
        by_qid = {}
        for j in jobs:
            by_qid.setdefault(j["qid"], []).append(j)
        plans = {c["execution"]: c for c in p["plans"]}
        for e in p["execs"]:
            result_rows += e["rows"]
            js = by_qid.get(e["qid"], [])
            # the final plans of the query's own executions (not of the
            # eager jobs run while it was constructed)
            for x in {j["execution"] for j in js if j["phase"] in ("execute", "fetch")}:
                if x in plans:
                    m["plans.exchanges_final"] += plans[x]["exchanges"]
                    m["plans.broadcast_joins"] += plans[x]["broadcast_joins"]
                    m["plans.skew_splits"] += plans[x]["skew_splits"]
            if sql:
                spans = [(j["start"], j["end"]) for j in js]
                m["exec.execute_s"] += union_ms(spans, e["start"], e["end"]) / 1e3
                if js:
                    m["GraftContext.token_wait_s"] += (min(j["start"] for j in js) - e["start"]) / 1e3
                    last = max(max(j["end"] for j in js), e["submit_end"])
                    m["GraftContext.fetch_s"] += max(0.0, e["end"] - last) / 1e3
            else:
                m["queries.construct_s"] += (e["construct_end"] - e["start"]) / 1e3
                m["plans.plan_s"] += (e["plan_end"] - e["construct_end"]) / 1e3
                m["exec.execute_s"] += (e["end"] - e["plan_end"]) / 1e3
        m["operators.eager_jobs"] += sum(1 for j in jobs if j["phase"] == "construct")
        m["exec.jobs"] += len(jobs)
        m["exec.stages"] += len(stages)
        for s in stages:
            m["exec.tasks"] += s["tasks"]
            m["exec.task_wait_s"] += s["wait_ms"] / 1e3
            m["exec.executor_run_s"] += s["run_ms"] / 1e3
            m["exec.executor_cpu_s"] += s["cpu_ns"] / 1e9
            m["Tables.input_mb"] += s["input_bytes"] / 1e6
            m["Tables.input_rows"] += s["input_records"]
            m["shuffle.write_mb"] += s["shuffle_write_bytes"] / 1e6
            m["shuffle.read_mb"] += s["shuffle_read_bytes"] / 1e6
            m["shuffle.write_s"] += s["shuffle_write_ns"] / 1e9
            m["shuffle.fetch_wait_s"] += s["fetch_wait_ms"] / 1e3
            m["spill.memory_mb"] += s["memory_spill"] / 1e6
            m["spill.disk_mb"] += s["disk_spill"] / 1e6
            m["exec.gc_s"] += s["gc_ms"] / 1e3
        m["jvm.gc_s"] += p["jvm_gc_s"]
        peaks["exec.peak_exec_mem_mb"] = max([peaks["exec.peak_exec_mem_mb"]] + [
            s["peak_exec_mem"] / 1e6 for s in stages])
        peaks["jvm.heap_peak_mb"] = max(peaks["jvm.heap_peak_mb"], p["heap_peak_mb"])
        peaks["operators.cache_retained_mb"] = max(peaks["operators.cache_retained_mb"],
                                                   p["cache_retained_mb"])
        all_spans += spans_of(p, sql)
    # counters are per pass: sums over the traced passes divided by their
    # number; peaks are the highest seen
    m = {n: (v / k if k else 0.0) for n, v in m.items()}
    m.update(peaks)
    m["GraftContext.session_s"] = statistics.median(r["session_s"] for r in setup)
    m["GraftContext.register_s"] = statistics.median(r["register_s"] for r in setup)
    m["exec.cpu_ratio"] = (m["exec.executor_cpu_s"] / m["exec.executor_run_s"]
                           if m["exec.executor_run_s"] else 0.0)
    m["Tables.rows_per_result_row"] = (m["Tables.input_rows"] / (result_rows / max(k, 1))
                                       if result_rows else 0.0)
    st = self_times(all_spans)
    for name in ("query", "construct", "plan", "execute", "submit", "fetch", "job", "stage"):
        m[f"self.{name}_s"] = st.get(name, [0.0, 0.0])[1] / max(k, 1)
    q_total = st.get("query", [0.0, 0.0])[0]
    m["trace.accounted_share"] = 1 - st["query"][1] / q_total if q_total else 0.0
    # passes come in untraced/traced pairs; the first pair is left out when
    # there are more, as its first pass is still warming up
    pairs = len(steady) // 2
    later = steady[2:] if pairs > 1 else steady
    t_lat = sum(latency(e) for p in later if p["traced"] for e in p["execs"])
    u_lat = sum(latency(e) for p in later if not p["traced"] for e in p["execs"])
    m["trace.overhead_pct"] = 100 * (t_lat / u_lat - 1) if u_lat else 0.0
    return m, all_spans


def end_to_end(h):
    steady = [p for p in h["passes"][1:] if not p["traced"]]
    lat = [latency(e) for p in steady for e in p["execs"] if not e["error"]]
    value, pct, n = tail(lat)
    n_done = sum(len(p["execs"]) for p in steady)
    m = {
        "setup_s": statistics.median(r["session_s"] + r["register_s"] for r in h["setup"]),
        "cold_pass_s": h["passes"][0]["wall_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": value,
        "throughput_qps": n_done / sum(p["wall_s"] for p in steady),
    }
    return m, {"percentile": pct, "samples": n,
               "rounds": n_done // len(h["passes"][0]["execs"])}


def judge(h, verdicts):
    """Every execution is an operation. It fails when it raised, when its
    result differs from its own cold-pass result, when the cold-pass result
    failed the oracle check, or (no-oracle queries) when its result hash
    differs from the cold pass's."""
    cold_hash = {e["name"]: e["hash"] for e in h["passes"][0]["execs"]}
    no_oracle = set(h["no_oracle"])
    attempted = failed = 0
    bad = {}
    for p in h["passes"]:
        for e in p["execs"]:
            attempted += 1
            why = (e["error"]
                   or ("differs from the cold-pass result" if not e["matches_cold"] else "")
                   or ("; ".join(verdicts.get(e["name"], ["not checked"])))
                   or ("result hash differs from the cold pass"
                       if e["name"] in no_oracle and e["hash"] != cold_hash.get(e["name"]) else ""))
            if why:
                failed += 1
                bad.setdefault(e["name"], why)
    return attempted, failed, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", help="run on this fixture directory instead "
                    "of the workload's own (the smoke test uses sf0.001)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    wl = WORKLOADS[args.workload]
    os.makedirs(BUILD, exist_ok=True)

    t_prep = time.time()
    classpath, digest = build.build()
    catalog = query_catalog(classpath, digest)
    import oracle  # duckdb and pandas load only once the build is done

    def prepare(workload, ddir):
        """Checksum of the data and the oracle answers for the workload."""
        queries = WORKLOADS[workload]["queries"]
        missing = [q for q in queries if q not in catalog]
        if missing:
            fail(f"queries not in the engine's registry: {missing}")
        checksum = oracle.data_checksum(ddir)
        sql = {q: catalog[q] for q in queries if catalog[q] is not None}
        return checksum, oracle.answers(ddir, checksum, sql, os.path.join(BUILD, "oracle"))

    # the first run in a checkout (and after each rebuild) prepares every
    # workload's data and oracle answers, so that later runs only time
    prepared = os.path.join(BUILD, "prepared")
    if not args.data_dir and not (os.path.exists(prepared) and open(prepared).read() == digest):
        for w, spec in WORKLOADS.items():
            prepare(w, data_dir(spec["data"], classpath))
        with open(prepared, "w") as fh:
            fh.write(digest)
    ddir = args.data_dir or data_dir(wl["data"], classpath)
    checksum, answers = prepare(args.workload, ddir)
    prep_s = time.time() - t_prep

    run_id = time.strftime("%Y%m%dT%H%M%S") + f"-{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    os.makedirs(run_dir)
    passes = max(MIN_STEADY_PASSES, round(args.seconds / wl["pass_s"]))
    passes += passes % 2 if args.trace else 0  # traced runs need whole pairs
    plan = {
        "workload": args.workload, "data_dir": ddir, "queries": ",".join(wl["queries"]),
        "sql_path": str(wl["sql"]).lower(), "clients": wl["clients"], "cores": CORES,
        "seed": args.seed, "passes": passes, "trace": str(bool(args.trace)).lower(),
        "setup_reps": SETUP_REPS, "out_dir": run_dir,
    }
    plan_path = os.path.join(run_dir, "plan.properties")
    with open(plan_path, "w") as fh:
        fh.writelines(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n" for k, v in plan.items())
    load_start, cpu_start = os.getloadavg(), cpu_times()
    java(classpath, "graft.perfbench.Harness", [plan_path], run_dir)
    load_end, steal = os.getloadavg(), steal_share(cpu_start, cpu_times())
    with open(os.path.join(run_dir, "harness.json")) as fh:
        h = json.load(fh)

    verdicts = oracle.check(os.path.join(run_dir, "cold_results.jsonl"), answers)
    attempted, failed, bad = judge(h, verdicts)
    e2e, tail_info = end_to_end(h)
    layers, spans = per_layer(h, wl["sql"]) if args.trace else ({}, [])
    if args.trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(spans, fh)

    canary_ratio = min(h["canary_end_s"]) / min(h["canary_start_s"])
    foreign = sorted(set(h["foreign_jvms_start"]) | set(h["foreign_jvms_end"]))
    sha, dirty = git_state()
    report = {
        "report": "perfbench", "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "data_dir": ddir,
        "data_checksum": checksum, "metrics": e2e, "latency_tail": tail_info,
        "error_rate": failed / attempted, "failed_queries": bad,
        "per_layer": layers, "prep_s": prep_s, "run_dir": os.path.relpath(run_dir, ROOT),
        "ambient": {
            "contended": (bool(foreign) or canary_ratio > CANARY_CONTENDED_RATIO
                          or (steal or 0.0) > STEAL_CONTENDED_SHARE),
            "foreign_spark_jvms": foreign, "steal_share": steal,
            "canary_start_s": h["canary_start_s"],
            "canary_end_s": h["canary_end_s"], "loadavg_start": load_start,
            "loadavg_end": load_end},
        "provenance": {
            "git_sha": sha, "git_dirty": dirty, "source_sha256": digest,
            "nproc": len(os.sched_getaffinity(0)), "cores": CORES, "heap": HEAP,
            "jvm": h["jvm"], "confs": {c["key"]: c["value"] for c in h["confs"]}},
    }
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    if report["ambient"]["contended"]:
        log("this run was CONTENDED (foreign Spark JVMs, a slower end canary or "
            "CPU steal); do not use it as a clean run")
    for name, why in bad.items():
        log(f"FAILED {name}: {why}")
    units = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
