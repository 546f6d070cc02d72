#!/usr/bin/env python3
"""Same-box benchmark of the graft Spark program.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program from source (cached by source digest), makes the
seeded inputs (cached per seed), runs one workload in fresh JVMs, checks
every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics; with --trace 1 they are the
per-layer metrics of a traced run, whose span file and layer self-time
table are written under .bench_build/runs/.

Workloads, metrics and the layer predictions are described in
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench import inputs, oracle, spans, stats  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
BENCH_DIR = os.path.join(ROOT, "perfbench")
CORES = 4
HEAP = "4g"
# the fixed TPC-H-ish testdata tables the program's tests also read
TESTDATA = os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))

# the curation chain, in pipeline order: every memo-building key and its
# consumers; dedup_winnow_pairs, text_decontaminate and
# dedup_decon_neardup are left out to keep a run inside the time budget
CURATE_KEYS = [
    "text_quality_filter", "dedup_exact", "dedup_minhash_md5", "dedup_groups_md5",
    "dedup_cluster_best", "dedup_source_matrix", "dedup_prefix_pairs", "dedup_pipeline"]
SEARCH_KEYS = [
    "sim_bruteforce_topk", "sim_mips_topk", "sim_ivf_topk", "sim_hard_negatives",
    "sim_knn_graph", "sim_outliers", "text_bm25", "sim_cosine_neardup",
    "sim_semantic_groups"]
ANALYTICS_KEYS = [
    "bearly_sum_lineitem", "q1_pricing_summary", "q3_top_revenue", "q5_local_supplier",
    "q17_corr_subquery_df", "q21_exists_shape", "q_star_join_region_year",
    "q_window_topk", "q_percentiles_approx", "q_recursive_cte", "ev_sessionize",
    "ev_asof_native", "ev_heavy_hitters"]

MODULES = ["Dedup", "TextAnalysis", "Similarity", "Relational", "EventOps", "Bearly"]


def module_of(key):
    """The operator module a registry key's entry calls (the keys above)."""
    if key in ("text_quality_filter", "text_bm25"):
        return "TextAnalysis"
    # text_decontaminate is registered as Dedup.decontaminate
    return {"dedup": "Dedup", "text": "Dedup", "sim": "Similarity", "ev": "EventOps",
            "bearly": "Bearly"}.get(key.split("_")[0], "Relational")


# Corpus: graft.ScaleData.generate over these testdata tables, REPS
# replicas with a seed-chosen alphabet (replica 0 keeps the source text).
CORPUS_SOURCE = "sf0.01"
CORPUS_REPS = 2
ANALYTICS_SOURCE = "sf0.01"

WORKLOADS = {
    "curate_cold": {"mode": "chain"},
    "search_warm": {"mode": "loop", "rounds_per_10s": 4},
    "analytics_warm": {"mode": "loop", "rounds_per_10s": 4},
    "stream_curate": {"mode": "stream", "seconds_per_batch": 5, "warm_batches": 2},
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ----------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha1()
    files = []
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        # build outputs, and sbt's meta-build under a project/ directory
        skip = {"target", "project"} if base.endswith("project") else {"target"}
        for d, dirs, names in os.walk(os.path.join(ROOT, base)):
            dirs[:] = [x for x in dirs if x not in skip]
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["COURSIER_MODE"] = "offline"
    return env


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(WORK, f"classpath-{source_digest()}.txt")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    log("building the program and harness with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=BENCH_DIR, env=sbt_env(),
                           stdout=subprocess.PIPE, stderr=lf, text=True)
    lines = [x for x in p.stdout.splitlines() if x.startswith("/") and ".jar" in x]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed (see .bench_build/build.log)")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def harness(cp, run_dir, plan, name):
    """Run one harness JVM on `plan`; return its JSON result."""
    plan = dict(plan, cores=CORES, spawn_epoch_ms=int(time.time() * 1000))
    plan_path = os.path.join(run_dir, f"{name}.properties")
    out_path = os.path.join(run_dir, f"{name}.json")
    with open(plan_path, "w") as fh:
        for k, v in plan.items():
            fh.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p)] + [
        # a fixed-size heap: no GC-driven heap resizing from run to run
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Harness", plan_path, out_path]
    with open(os.path.join(run_dir, f"{name}.log"), "w") as lf:
        p = subprocess.run(cmd, cwd=WORK, stdout=lf, stderr=subprocess.STDOUT)
    if p.returncode != 0 or not os.path.exists(out_path):
        fail(f"harness {name} exited {p.returncode} (see {os.path.relpath(lf.name, ROOT)})")
    with open(out_path) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- inputs

def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(path) for n in ns)


def table_digest(path):
    """sha1 over a table's part files, in name order."""
    h = hashlib.sha1()
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            with open(os.path.join(path, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def prepare_corpus(cp, seed):
    """The seed's corpus: graft.ScaleData over the source tables with a
    seed-chosen alphabet, built once per seed and cached with a manifest
    of row counts, bytes and content digests."""
    base = os.path.join(WORK, "inputs", f"corpus-{inputs.alphabet(seed)}")
    if os.path.exists(os.path.join(base, "manifest.json")):
        return base
    tmp = base + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"generating the corpus for seed {seed} (alphabet {inputs.alphabet(seed)})")
    corpus = os.path.join(tmp, "corpus")
    harness(cp, tmp, {"mode": "prepare", "trace": 0, "data": corpus, "reps": CORPUS_REPS,
                      "source": os.path.join(TESTDATA, CORPUS_SOURCE),
                      "alphabet": inputs.alphabet(seed)}, "prepare")
    con = oracle.duck_connection(corpus)
    tables = {}
    for t in ("documents", "embeddings"):
        p = os.path.join(corpus, f"{t}.parquet")
        tables[t] = {"rows": con.execute(f"SELECT count(*) FROM {t}").fetchone()[0],
                     "bytes": dir_bytes(p), "sha1": table_digest(p)}
    con.close()
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump({"alphabet": inputs.alphabet(seed), "reps": CORPUS_REPS,
                   "source": CORPUS_SOURCE, "tables": tables}, fh, indent=1)
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    return base


# ---------------------------------------------------------------- checks

def check_results(results_dir, data_dir, cache_dir, keys, oracles, twins):
    """Compare each key's parquet result with DuckDB; return {key: error or None}.

    Keys without an oracle get a row-count check against their
    noOracleEvidence twin's oracle when there is one, else rows > 0.
    DuckDB results are cached per input and SQL text.
    """
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for key in keys:
        try:
            got = oracle.read_result(os.path.join(results_dir, key))
        except Exception as e:  # no output is a failure, not a crash
            out[key] = f"no result: {e}"
            continue
        sql = oracles.get(key) or oracles.get(twins.get(key) or "")
        if sql is None:
            out[key] = None if len(got) > 0 else "no rows"
            continue
        cached = os.path.join(cache_dir, hashlib.sha1(sql.encode()).hexdigest()[:16] + ".parquet")
        if not os.path.exists(cached):
            con = con or oracle.duck_connection(data_dir)
            oracle.save(con, sql, cached)
        want = oracle.read_result(cached)
        if key in oracles:
            out[key] = oracle.compare(got, want)
        else:
            out[key] = None if len(got) == len(want) else \
                f"rows {len(got)} vs twin {twins[key]} {len(want)}"
    return out


# ------------------------------------------------------------------ runs

def run_workload(cp, name, seed, seconds, trace, run_dir):
    """Run the workload and check its outputs; return (requests, summary, harness result)."""
    wl = WORKLOADS[name]
    if name == "analytics_warm":
        data_dir = os.path.join(TESTDATA, ANALYTICS_SOURCE)
        cache = os.path.join(WORK, "inputs", "analytics-expected")
    else:
        base = prepare_corpus(cp, seed)
        data_dir, cache = os.path.join(base, "corpus"), os.path.join(base, "expected")
    check_dir = os.path.join(run_dir, "results")
    plan = {"trace": trace, "data": data_dir, "check_dir": check_dir, "mode": wl["mode"]}
    if wl["mode"] == "chain":
        checked = CURATE_KEYS
        plan["keys"] = ",".join(checked)
    elif wl["mode"] == "loop":
        checked = SEARCH_KEYS if name == "search_warm" else ANALYTICS_KEYS
        rounds = max(1, round(wl["rounds_per_10s"] * seconds / 10))
        plan["warm_keys"] = ",".join(checked)
        plan["sequence"] = ",".join(inputs.sequence(seed, checked, rounds, salt=name))
    else:
        checked = []
        with open(os.path.join(base, "manifest.json")) as fh:
            n_docs = json.load(fh)["tables"]["documents"]["rows"]
        plan["batch_docs"] = -(-n_docs // max(2, round(seconds / wl["seconds_per_batch"])))
        plan["warm_batches"] = wl["warm_batches"]
        plan["sink_dir"] = os.path.join(run_dir, "sink")
        plan["warm_sink_dir"] = os.path.join(run_dir, "warm_sink")
        plan["survivors"] = os.path.join(base, "survivors.txt")
    res = harness(cp, run_dir, plan, wl["mode"])
    requests = res["requests"]
    for w in res.get("warmup", []):
        if not w["ok"]:
            log(f"warm-up {w['key']} failed: {w['error']}")
    if "stream" in res and not res["stream"]["survivors_ok"]:
        for r in requests:
            r["ok"], r["error"] = False, "sink survivors differ from the batch funnel"
    if checked:
        errors = check_results(check_dir, data_dir, cache, checked, res["oracle_sql"], res["twins"])
        for r in requests:
            if r["ok"] and errors.get(r["key"]):
                r["ok"], r["error"] = False, errors[r["key"]]
    for r in requests:
        if not r["ok"]:
            log(f"failed request {r['key']}: {r['error']}")
    summary = dict(stats.summarize(requests), setup_s=res["setup_s"],
                   wall_s=sum(r["seconds"] for r in requests),
                   heap_after_gc_peak_mb=res["heap_after_gc_peak_mb"])
    if "stream" in res:
        summary["stream"] = res["stream"]
    return requests, summary, res


def layer_metrics(requests, res):
    """Per-layer metrics of a traced run (totals over its timed requests)."""
    counts = dict(res.get("layers", {}))
    sp = res.get("spans", [])
    m = {k: counts.get(k, 0.0) for k in (
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "catalyst.exchanges", "catalyst.broadcasts", "catalyst.scans",
        "codegen.compile_s", "codegen.classes", "Tables.bytes_read", "Tables.rows_read",
        "Materialized.storage_bytes", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
        "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.gc_s",
        "streaming.batch_s", "streaming.add_batch_s", "streaming.state_rows",
        "streaming.sink_bytes")}
    m["registry.build_s"] = sum(s["end_ms"] - s["start_ms"] for s in sp
                                if s["name"] == "registry.build") / 1000.0
    m["Materialized.builds"] = float(sum(r["memo_builds"] for r in requests))
    m["Materialized.build_request_s"] = float(sum(r["seconds"] for r in requests
                                                  if r["memo_builds"] > 0))
    m["exec.heap_after_gc_peak_mb"] = res["heap_after_gc_peak_mb"]
    request_s = sum(r["seconds"] for r in requests)
    m["exec.parallelism"] = m["exec.task_s"] / (request_s * CORES) if request_s > 0 else 0.0
    for mod in MODULES:
        m[f"{mod}.request_s"] = float(sum(r["seconds"] for r in requests if not
                                          r["key"].startswith("batch_") and module_of(r["key"]) == mod))
    # rows fed, not the progress events' numInputRows, which counts the
    # micro-batch once per job that scans it
    st = res.get("stream")
    batch_s = m["streaming.batch_s"]
    m["streaming.input_rows_per_s"] = sum(r["rows"] for r in requests) / batch_s if st and batch_s else 0.0
    m["streaming.sink_bytes_per_input_byte"] = (
        st["sink_bytes"] / st["input_text_bytes"] if st else 0.0)
    return m


def per_layer_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    requests, summary, res = run_workload(cp, a.workload, a.seed, a.seconds, a.trace, run_dir)
    with open(os.path.join(run_dir, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    report = [f"{a.workload} seed={a.seed}: {summary['attempted']} requests, "
              f"{summary['failed']} failed (failed_ratio {summary['failed']}/{summary['attempted']}), "
              f"tail = p{summary.get('tail_percentile')} of {summary['samples']} samples"]
    if "stream" in summary:
        st = summary["stream"]
        report.append(f"sink_bytes_per_input_byte = {st['sink_bytes']} / {st['input_text_bytes']}"
                      f" = {st['sink_bytes'] / st['input_text_bytes']:.4f}")
    ok = summary["failed"] == 0 and summary["samples"] > 0
    if a.trace == 0:
        metrics = {n: {"value": summary[n], "unit": u} for n, u in END_TO_END} \
            if summary["samples"] else {}
    else:
        layers = layer_metrics(requests, res)
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in per_layer_spec()}
        sp = res.get("spans", [])
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(sp, fh)
        selfs = spans.self_times(sp)
        report.append("layer self time (s): " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(selfs.items(), key=lambda kv: -kv[1])))
        untraced = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace0", "summary.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))["wall_s"]
            report.append(f"tracing overhead: wall_s {summary['wall_s']:.3f} traced - "
                          f"{base:.3f} untraced = {summary['wall_s'] - base:+.3f} s")
        else:
            report.append("tracing overhead: no untraced run of this workload and seed yet")
    for line in report:
        print(line)
    print(json.dumps({"correct": ok, "attempted": summary["attempted"],
                      "failed": summary["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
