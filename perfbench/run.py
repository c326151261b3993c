"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into `.bench_build/` and generates the
parquet tables; later runs reuse both while the sources are unchanged.
Each run starts one JVM (`graft.perfbench.Harness`), which runs the
workload as a closed loop with one client on `local[4]`, and then prints
one line per metric and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a run that alternates untraced and traced rounds, and writes
the span artifact to `.bench_build/results/`. See perfbench/README.md.
"""

import argparse
import csv
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_crm  # noqa: E402
import gen_tables  # noqa: E402
from metrics import median, self_times, tail_percentile, union_length  # noqa: E402

# Scale of the generated parquet tables (lineitem = 6e6 x SF rows).
SF = 0.01
# Rows of the generated CRM extract (the paper's is 68,589 x 297).
CRM_ROWS = 1000
TABLES_VERSION = "1"

WORKLOADS = {
    "llm_curation": {
        "kind": "queries",
        "ops": ["q171_nb_confusion", "q68_tfidf", "q190_stream_dedup"],
    },
    "crm_migration": {"kind": "pipeline"},
}

E2E = [("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"),
       ("query_tail_s", "s"), ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("queries.construct_s", "s"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_overhead_s", "s"),
    ("spark.driver_gap_s", "s"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.busy_frac", "ratio"), ("spark.longest_task_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.result_bytes", "bytes"),
    ("sources.scan_rows", "count"), ("sources.scan_bytes", "bytes"),
    ("sources.scan_nodes", "count"), ("sources.write_bytes", "bytes"),
    ("sources.write_s", "s"), ("storage.cached_bytes_peak", "bytes"),
    ("pipeline.run_s", "s"), ("pipeline.jobs", "count"),
    ("pipeline.distinct_lists_s", "s"), ("streaming.batches", "count"),
    ("streaming.trigger_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.outside_trigger_s", "s"), ("trace.overhead_frac", "ratio"),
]

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

# A run must end within 180 s (the first one in a checkout may also build).
JVM_LIMIT_S = 165


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build compiles, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile engine + harness with sbt; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_BUILD_DIR=os.path.join(build_dir))
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=800)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (see {log_path})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def tables(build_dir):
    """The generated parquet tables, made once per checkout."""
    path = os.path.join(build_dir, f"tables-sf{SF}-v{TABLES_VERSION}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.generate(tmp, SF)
        os.rename(tmp, path)
    return path


def run_jvm(cp, work, args, deadline):
    """Start the harness JVM, wait for it, return its parsed result."""
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Serial GC grows the heap only on allocation, so peak_rss_mb follows
    # the workload's memory rather than collector timing.
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"] +
           [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Harness", "--work", work, "--out", out,
            "--limit", str(JVM_LIMIT_S - 25)] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness exceeded the time limit (log: {work}/jvm.log)")
        except BaseException:  # interrupted or terminated: take the JVM along
            proc.kill()
            proc.wait()
            raise
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        die(f"harness exited with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def read_csv_dir(path):
    """Header and row count of the single CSV part file in a sink dir."""
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    if len(parts) != 1:
        return None, None
    with open(os.path.join(path, parts[0]), newline="") as f:
        r = csv.reader(f)
        header = next(r, [])
        return header, sum(1 for _ in r)


def check_queries(res, ops, expected):
    """Names of the operations whose check failed, with reasons."""
    bad = {}
    for name in ops:
        got = res["checks"].get(name, {"error": "not run"})
        want = expected.get(name)
        if "error" in got:
            bad[name] = got["error"]
        elif want is None:
            bad[name] = "no recorded expectation"
        elif got["rows"] != want["rows"]:
            bad[name] = f"rows {got['rows']} != {want['rows']}"
        elif not want.get("rows_only") and got["hash"] != want["hash"]:
            bad[name] = "result hash differs"
    return bad


def check_pipeline(res, work, seed, gen_expect, recorded):
    """Output checks of the CRM run; returns {check: reason} for failures."""
    bad = {}
    got = res["checks"].get("pipeline_run", {})
    if "error" in got:
        return {"pipeline_run": got["error"]}
    out = os.path.join(work, "check")
    header, rows = read_csv_dir(os.path.join(out, "output"))
    if rows != gen_expect["rows_out"]:
        bad["rows_out"] = f"{rows} != {gen_expect['rows_out']}"
    if header != gen_expect["columns_out"]:
        bad["columns_out"] = "output column list differs"
    _, removed = read_csv_dir(os.path.join(out, "deleted_test_rows"))
    if removed != gen_expect["test_rows"]:
        bad["test_rows"] = f"{removed} != {gen_expect['test_rows']}"
    lists = sorted(os.listdir(os.path.join(out, "custom_fields")))
    if lists != gen_expect["distinct_lists"]:
        bad["distinct_lists"] = "distinct-list files differ"
    want = recorded.get(str(seed))
    if want is not None and got["hash"] != want:
        bad["output_hash"] = "output CSV hash differs from the recorded one"
    for r in res["round_hashes"]:
        if r["hash"] != got["hash"]:
            bad[f"round{r['round']}"] = "output CSV differs from the check pass"
    return bad


def e2e_metrics(res, t_launch):
    ops = [o for o in res["ops"] if not o["traced"]]
    walls = {}
    for o in ops:
        walls[o["round"]] = walls.get(o["round"], 0.0) + (o["end"] - o["start"]) / 1e3
    lat = [(o["end"] - o["start"]) / 1e3 for o in ops]
    by_op = {}
    for o in ops:
        by_op.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1e3)
    p, tail = tail_percentile(lat)
    return {
        "setup_s": res["timed_start_ms"] / 1e3 - t_launch,
        "wall_s": median(list(walls.values())),
        "query_p50_s": median(lat),
        "query_tail_s": tail,
        "peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
    }, {"tail_percentile": p, "samples": len(lat), "rounds": len(walls),
        "latency": by_op}


def layer_metrics(res, kind, run_id):
    """Per-layer metrics per traced round (median across traced rounds),
    per-operation breakdown and the span list."""
    ops = res["ops"]
    traced_ops = [o for o in ops if o["traced"]]
    jobs = res.get("jobs", [])
    plans = res.get("plans", [])
    batches = res.get("batches", [])
    cores = res["cores"]

    def owner(t, tag=""):
        for o in traced_ops:
            if tag and tag == f"{o['round']}:{o['name']}":
                return o
        for o in traced_ops:
            if o["start"] - 1.0 <= t <= o["end"] + 1.0:
                return o
        return None

    def key(o):
        return (o["round"], o["name"])

    per_op = {key(o): {m: 0.0 for m, _ in PER_LAYER[:-1]} for o in traced_ops}
    spans, ids = [], {}

    def span(name, start, end, parent):
        sid = len(spans) + 1
        spans.append({"id": sid, "parent": parent, "name": name,
                      "start": start, "end": end, "run": run_id})
        return sid

    for r in sorted({o["round"] for o in traced_ops}):
        ro = [o for o in traced_ops if o["round"] == r]
        ids[("round", r)] = span(f"round{r}", min(o["start"] for o in ro),
                                 max(o["end"] for o in ro), None)
    for o in traced_ops:
        sid = span(o["name"], o["start"], o["end"], ids[("round", o["round"])])
        if kind == "pipeline":
            ids[key(o)] = (span("pipeline.run", o["start"], o["end"], sid),) * 2
        else:
            ids[key(o)] = (span("construct", o["start"], o["split"], sid),
                           span("execute", o["split"], o["end"], sid))
        m = per_op[key(o)]
        wall = (o["end"] - o["start"]) / 1e3
        if kind == "pipeline":
            m["pipeline.run_s"] = wall
        else:
            m["queries.construct_s"] = (o["split"] - o["start"]) / 1e3
        m["storage.cached_bytes_peak"] = o["cached_peak"]

    def step(o, t):
        c, e = ids[key(o)]
        return c if t < o["split"] else e

    job_iv = {}
    for j in jobs:
        o = owner(j["start"], j["tag"])
        if o is None:
            continue
        m = per_op[key(o)]
        dur = max(0.0, j["end"] - j["start"]) / 1e3
        m["spark.jobs"] += 1
        m["spark.stages"] += j["stages"]
        m["spark.tasks"] += j["tasks"]
        m["spark.task_overhead_s"] += (j["task_wall_ms"] - j["run_ms"]) / 1e3
        m["spark.executor_run_s"] += j["run_ms"] / 1e3
        m["spark.executor_cpu_s"] += j["cpu_ns"] / 1e9
        m["spark.gc_s"] += j["gc_ms"] / 1e3
        m["spark.longest_task_s"] = max(m["spark.longest_task_s"],
                                        j["max_task_ms"] / 1e3)
        m["spark.shuffle_write_bytes"] += j["shuffle_write"]
        m["spark.shuffle_read_bytes"] += j["shuffle_read"]
        m["spark.spill_bytes"] += j["spill"]
        m["spark.result_bytes"] += j["result"]
        m["sources.scan_rows"] += j["in_rows"]
        m["sources.scan_bytes"] += j["in_bytes"]
        m["sources.write_bytes"] += j["out_bytes"]
        if "CsvJsonIO" in j["site"]:
            m["sources.write_s"] += dur
        if kind == "pipeline":
            m["pipeline.jobs"] += 1
            if "writeDistinctLists" in j["site"]:
                m["pipeline.distinct_lists_s"] += dur
        job_iv.setdefault(key(o), []).append(
            (max(j["start"], o["start"]), min(j["end"], o["end"])))
        span(f"job {j['id']}", j["start"], j["end"], step(o, j["start"]))

    for pl in plans:
        ph = pl["phases"]
        if not ph:
            continue
        o = owner(min(v[0] for v in ph.values()))
        if o is None:
            continue
        m = per_op[key(o)]
        m["sources.scan_nodes"] += pl["scan_nodes"]
        for phase in ("analysis", "optimization", "planning"):
            if phase in ph:
                s, e = ph[phase]
                m[f"catalyst.{phase}_s"] += (e - s) / 1e3
                span(f"catalyst.{phase}", s, e, step(o, s))

    for b in batches:
        o = owner(b["start"])
        if o is None:
            continue
        m = per_op[key(o)]
        m["streaming.batches"] += 1
        m["streaming.trigger_s"] += b["trigger_ms"] / 1e3
        m["streaming.commit_s"] += b["commit_ms"] / 1e3
        span("streaming.trigger", b["start"], b["start"] + b["trigger_ms"],
             step(o, b["start"]))

    for t, b in res.get("storage", []):
        o = owner(t)
        if o is not None:
            m = per_op[key(o)]
            m["storage.cached_bytes_peak"] = max(m["storage.cached_bytes_peak"], b)

    for o in traced_ops:
        m = per_op[key(o)]
        wall = (o["end"] - o["start"]) / 1e3
        m["spark.driver_gap_s"] = wall - union_length(job_iv.get(key(o), [])) / 1e3
        if m["streaming.batches"]:
            m["streaming.outside_trigger_s"] = wall - m["streaming.trigger_s"]

    rounds = {}
    for o in traced_ops:
        rounds.setdefault(o["round"], []).append(per_op[key(o)])
    maxed = ("spark.longest_task_s", "storage.cached_bytes_peak")
    per_round = []
    for r, ms in rounds.items():
        tot = {}
        for name, _ in PER_LAYER[:-1]:
            vals = [m[name] for m in ms]
            tot[name] = max(vals) if name in maxed else sum(vals)
        wall = sum((o["end"] - o["start"]) / 1e3 for o in traced_ops
                   if o["round"] == r)
        tot["spark.busy_frac"] = tot["spark.executor_run_s"] / (wall * cores)
        per_round.append(tot)
    # The pipeline's layers are reported for its cold first round, the one
    # the end-to-end run measures; the warm rounds only give the overhead.
    if kind == "pipeline":
        per_round = per_round[:1]
    out = {name: median([t[name] for t in per_round]) for name, _ in PER_LAYER[:-1]}

    walls = {False: {}, True: {}}
    for o in ops:
        if not (kind == "pipeline" and o["round"] == 0):
            w = walls[o["traced"]]
            w[o["round"]] = w.get(o["round"], 0.0) + (o["end"] - o["start"])
    base, with_trace = list(walls[False].values()), list(walls[True].values())
    out["trace.overhead_frac"] = ((median(with_trace) - median(base)) / median(base)
                                  if base and with_trace else 0.0)
    overhead_measured = bool(base and with_trace)

    st = self_times(spans)
    for s in spans:
        s["self_ms"] = st[s["id"]]
    per_op_out = [{"round": r, "op": n, **m} for (r, n), m in per_op.items()]
    return out, per_op_out, spans, overhead_measured


def main():
    # turn SIGTERM into SystemExit so the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="write this run's check results to FILE (for "
                         "refreshing perfbench/expected.json)")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die("run from the root of a checkout of the engine "
            "(src/main/scala/graft not found)")
    wl = WORKLOADS[a.workload]
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    work = os.path.join(build_dir, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    try:
        if wl["kind"] == "pipeline":
            crm_dir = os.path.join(work, "crm")
            gen_expect = gen_crm.generate(crm_dir, CRM_ROWS, a.seed)
            args += ["--kind", "pipeline", "--data", crm_dir]
        else:
            data = os.path.join(work, "tables")
            shutil.copytree(tables(build_dir), data)
            args += ["--kind", "queries", "--data", data,
                     "--ops", ",".join(wl["ops"])]
        t_launch = time.time()
        res = run_jvm(cp, work, args, t_launch + JVM_LIMIT_S)

        if wl["kind"] == "pipeline":
            bad = check_pipeline(res, work, a.seed, gen_expect,
                                 expected["crm_output_sha256"])
        else:
            bad = check_queries(res, wl["ops"], expected["queries"])
        if a.record:
            with open(a.record, "w") as f:
                json.dump({"seed": a.seed, "checks": res["checks"]}, f, indent=1)

        timed = res["ops"]
        attempted = len(timed)
        failed = sum(1 for o in timed if o["error"] or
                     (o["name"] in bad or (wl["kind"] == "pipeline" and bad)))
        for name, why in sorted(bad.items()):
            print(f"CHECK FAILED {a.workload} {name}: {why}")
        for o in timed:
            if o["error"]:
                print(f"OP FAILED {a.workload} {o['name']} round {o['round']}: "
                      f"{o['error']}")

        head = f"{a.workload} seed={a.seed}"
        if a.trace:
            layer, per_op, spans, overhead_measured = layer_metrics(
                res, wl["kind"], f"{a.workload}/seed{a.seed}")
            if not overhead_measured:
                print(f"{head} trace.overhead_frac not measured: no time left "
                      f"for a warm untraced and traced round pair (reported as 0)")
            metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
            results = os.path.join(build_dir, "results")
            os.makedirs(results, exist_ok=True)
            art = os.path.join(results, f"trace-{a.workload}-seed{a.seed}.json")
            with open(art, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "metrics": layer, "per_op": per_op,
                           "spans": spans}, f, indent=1)
            print(f"{head} span artifact: {os.path.relpath(art, root)} "
                  f"({len(spans)} spans)")
        else:
            e2e, info = e2e_metrics(res, t_launch)
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
            print(f"{head} set-up: session {res['session_ready_ms'] / 1e3 - t_launch:.2f} s, "
                  f"rounds={info['rounds']} operations={info['samples']}")
            print(f"{head} query_tail_s is p{info['tail_percentile']:g} of "
                  f"{info['samples']} operations")
            for name, lat in sorted(info["latency"].items()):
                print(f"{head} op {name}: " + " ".join(f"{x:.3f}" for x in lat) + " s")
        for n, m in metrics.items():
            print(f"{head} {n} = {m['value']:.6g} {m['unit']}")
        print(f"{head} fail_frac = {failed / max(1, attempted):.4g} ratio "
              f"({failed} of {attempted} operations)")
        print(json.dumps({"correct": not bad and failed == 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
