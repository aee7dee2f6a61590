#!/usr/bin/env python3
"""Profiling benchmark: times the program's public entry points from
outside, checks their outputs, and prints one JSON line of metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload report_lineitem --seed 1 \
        --seconds 5 --trace 0

Workloads: report_lineitem, store_ingest, registry_sample (see
perfbench/METRICS.md). The first run in a checkout
builds the harness with sbt (perfbench/harness, which compiles the
program's sources with it) and generates the input tiers with the
program's own graft.GenSf; both land in .bench_build/ and are reused
while the sources are unchanged.

With --trace 0 the last stdout line carries every end-to-end metric;
with --trace 1 every per-layer metric, computed from the spans file
the harness writes. Output checks (DuckDB over the same parquet) run in
both modes, outside the timed region; each mismatch counts in `failed`.
"""
import argparse
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
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
DATA = os.path.join(BUILD, "data")
CLASSES = os.path.join(BUILD, "harness", "scala-2.13", "classes")
JAR = os.path.join(BUILD, "harness.jar")
# Class-data archive of the classes a run loads; it cuts JVM start-up,
# which every run pays once. Recorded by a training run after each build.
CDS = os.path.join(BUILD, "classes.jsa")
HEAP = "3g"
JVM_TIMEOUT_S = 600
WORKLOADS = ("report_lineitem", "store_ingest", "registry_sample")
PASSES = ("passA-base", "passA-distinct", "passA2", "passB-quantiles",
          "passC-histograms", "passC-freq", "passD-pearson",
          "passD2-spearman")
REGISTRY_FAMILIES = ("text", "dedup", "embed", "pipeline", "corpus")
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spark_jars():
    """The installed Spark's jars: $SPARK_HOME, else spark-submit's home."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars") if home else ""


SPARK_JARS = spark_jars()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"error: {msg}")
    sys.exit(2)


def tree_digest(paths):
    """sha256 over every file (path and bytes) under the given roots."""
    h = hashlib.sha256()
    for root in paths:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_logged(cmd, logfile, timeout, env=None, cwd=ROOT):
    """Run a child to completion (killing it on timeout), output to a log."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=cwd, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def java_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    return env


def java_cmd(*args, cds=None):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + ADD_OPENS + ([cds] if cds else []) +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
             "-cp", f"{SPARK_JARS}/*:{JAR}", "perfbench.Main"] +
            list(args))


def build():
    """Compile harness + program sources unless the stamp matches."""
    stamp = tree_digest([PROGRAM_SRC, os.path.join(HARNESS, "build.sbt"),
                         os.path.join(HARNESS, "project", "build.properties"),
                         os.path.join(HARNESS, "src")])
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    log("building harness and program (sbt)")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_TARGET"] = os.path.join(BUILD, "harness")
    env["PERFBENCH_SPARK_JARS"] = SPARK_JARS
    env.setdefault("COURSIER_MODE", "offline")
    blog = os.path.join(BUILD, "build.log")
    rc = run_logged(["sbt", "-batch", "-Dsbt.server.autostart=false",
                     "compile"], blog, 700, env=env, cwd=HARNESS)
    if rc == 0:
        rc = subprocess.run(["jar", "cf", JAR, "-C", CLASSES, "."]).returncode
    if rc != 0:
        sys.stderr.write(tail(blog))
        die("build failed")
    for f in (CDS, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def train():
    """Record the class-data archive once per build."""
    if os.path.exists(CDS):
        return
    log("recording the class-data archive (training run)")
    tlog = os.path.join(BUILD, "train.log")
    rc = run_logged(java_cmd("--mode", "train", "--data", DATA, "--out",
                             os.path.join(BUILD, "train"),
                             cds=f"-XX:ArchiveClassesAtExit={CDS}"),
                    tlog, 600, env=java_env())
    if rc != 0 or not os.path.exists(CDS):
        sys.stderr.write(tail(tlog))
        die("training run failed")


def fixtures():
    """Generate the input tiers once per generator version."""
    stamp = tree_digest([
        os.path.join(PROGRAM_SRC, "graft", "GenSf.scala"),
        os.path.join(HARNESS, "src", "main", "scala", "perfbench",
                     "Fixtures.scala")])
    ready = os.path.join(DATA, "READY")
    if os.path.exists(ready) and open(ready).read() == stamp:
        return
    log("generating input tiers (graft.GenSf)")
    shutil.rmtree(DATA, ignore_errors=True)
    os.makedirs(DATA)
    flog = os.path.join(BUILD, "fixtures.log")
    rc = run_logged(java_cmd("--mode", "fixtures", "--data", DATA), flog,
                    600, env=java_env())
    if rc != 0:
        sys.stderr.write(tail(flog))
        die("fixture generation failed")
    with open(ready, "w") as f:
        f.write(stamp)


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --------------------------------------------------------------- checks

def sql_path(p):
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def profile_mismatches(con, path, exact):
    """Compare a profile's exact fields with one DuckDB aggregate."""
    cols = exact.get("columns", [])
    if not cols:
        return ["no profile fields recorded"]
    sel = ["count(*)"]
    for c in cols:
        q = '"' + c["name"].replace('"', '""') + '"'
        sel += [f"count({q})", f"count(DISTINCT {q})"]
        for k in ("min", "max", "sum"):
            if k in c["stats"]:
                sel.append(f"{k}({q})::DOUBLE")
        for k, f in (("dmn", "min"), ("dmx", "max")):
            if k in c["stats"]:
                sel.append(f"epoch_us({f}({q}))")
    row = con.sql(f"SELECT {', '.join(sel)} FROM '{sql_path(path)}'"
                  ).fetchone()
    it = iter(row)
    bad = []
    n = next(it)
    if exact["n"] != n:
        bad.append(f"n {exact['n']} != {n}")
    for c in cols:
        cnt, dis = next(it), next(it)
        name = c["name"]
        want = {"count": cnt, "missing": n - cnt}
        if "distinct" in c:
            want["distinct"] = dis
        for k in ("min", "max", "sum", "dmn", "dmx"):
            if k in c["stats"]:
                want[k] = next(it)
        for k, w in want.items():
            got = c["stats"][k] if k in c["stats"] else c[k]
            if k == "sum":
                ok = w is not None and math.isclose(got, w, rel_tol=1e-9,
                                                    abs_tol=1e-6)
            else:
                ok = w is not None and got == w
            if not ok:
                bad.append(f"{name}.{k} {got} != {w}")
    return bad


def oracle_mismatch(con, path, sql):
    """tools/check.py's comparison: columns sorted by name, rows sorted,
    values compared exactly."""
    def norm(rel):
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
        return sorted(cols), sorted(rows, key=lambda t: tuple(map(repr, t)))
    gc, gr = norm(con.sql(f"SELECT * FROM '{sql_path(path)}'"))
    wc, wr = norm(con.sql(sql))
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if gr != wr:
        return f"{len(gr)} vs {len(wr)} rows, values differ"
    return None


def run_checks(res):
    """Return the list of failed output checks (empty when correct)."""
    import duckdb
    chk = res["checks"]
    con = duckdb.connect()
    bad = []
    if chk["kind"] == "report":
        if len(chk["digests"]) != 1:
            bad.append(f"{len(chk['digests'])} distinct html digests "
                       f"across reps")
        bad += [f"{chk['table']}: {m}" for m in
                profile_mismatches(con, chk["path"], chk["exact"])]
    elif chk["kind"] == "store":
        exact = chk["exact"]
        # merged sketches carry estimates for distinct: compare the
        # exact fields only
        for c in exact.get("columns", []):
            c.pop("distinct", None)
        bad += [f"store: {m}" for m in
                profile_mismatches(con, chk["path"], exact)]
    elif chk["kind"] == "registry":
        for t in chk["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sql_path(os.path.join(chk['tier'], t + '.parquet'))}'")
        for case in chk["oracle"]:
            try:
                m = oracle_mismatch(con, case["path"], case["sql"])
            except Exception as e:  # an oracle that cannot run is a failure
                m = f"oracle error: {e}"
            if m:
                bad.append(f"{case['query']}: {m}")
    return bad


# -------------------------------------------------------------- metrics

def end_to_end(res):
    ops = [o for o in res["ops"]
           if o["kind"] == res["primary"] and o["ok"] and o["pass"] >= 0]
    lat = [o["wall_s"] for o in ops]
    op_time = sum(lat)
    return {
        "setup_s": (median(res["session_s"]) + res["warm_s"], "s"),
        "workload_s": (median([p["wall_s"] for p in res["passes"]]), "s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / op_time
                       if op_time > 0 else 0.0, "1/s"),
    }


class Trace:
    """Index over the spans file: span tree, jobs and their stages."""

    def __init__(self, tr):
        self.spans = {s["id"]: s for s in tr["spans"]}
        self.kids = {}
        for s in tr["spans"]:
            self.kids.setdefault(s["parent"], []).append(s)
        stages = {}
        for st in tr["stages"]:
            stages.setdefault(st["id"], []).append(st)
        owner = {}
        for j in sorted(tr["jobs"], key=lambda j: j["id"]):
            for sid in j["stages"]:
                owner.setdefault(sid, j["id"])
        self.jobs = []
        for j in tr["jobs"]:
            own = [a for sid in j["stages"] if owner[sid] == j["id"]
                   for a in stages.get(sid, [])]
            j = dict(j, end=j.get("end", j["start"]))
            for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "records_read",
                      "shuffle_bytes", "spill_bytes"):
                j[k] = sum(a[k] for a in own)
            j["n_stages"] = len(own)
            self.jobs.append(j)
        self.by_span = {}
        for j in self.jobs:
            self.by_span.setdefault(j["group"], []).append(j)

    def descendants(self, sid):
        out, todo = [], [sid]
        while todo:
            for k in self.kids.get(todo.pop(), []):
                out.append(k)
                todo.append(k["id"])
        return out

    def under(self, sid, name=None):
        """Spans below `sid`, optionally only those called `name`."""
        return [s for s in self.descendants(sid)
                if name is None or s["name"] == name]

    def jobs_in(self, sid):
        """Jobs submitted inside span `sid` or any span below it."""
        ids = [sid] + [s["id"] for s in self.descendants(sid)]
        return [j for i in ids for j in self.by_span.get(i, [])]


def dur(s):
    return (s["end"] - s["start"]) / 1e3


def job_sums(jobs):
    return {
        "jobs": len(jobs),
        "stages": sum(j["n_stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "busy_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "records_read": sum(j["records_read"] for j in jobs),
        "wall_s": union_ms((j["start"], j["end"]) for j in jobs) / 1e3,
    }


def pass_layers(t, pspan, extras, wall_s, cores, state_bytes):
    """Per-layer numbers for one traced pass."""
    m = {}
    pid = pspan["id"]
    all_jobs = t.jobs_in(pid)
    # profiler: jobs inside describe spans, by the pass tag the program
    # sets as the job description; untagged ones are pass A2
    describes = t.under(pid, "describe")
    by_pass = {p: [] for p in PASSES}
    self_s, d_jobs = 0.0, []
    for d in describes:
        js = t.jobs_in(d["id"])
        d_jobs += js
        self_s += dur(d) - union_ms(
            [(j["start"], j["end"]) for j in js], d["start"], d["end"]) / 1e3
        for j in js:
            desc = j.get("desc") or ""
            tag = (desc[len("profile: "):] if desc.startswith("profile: ")
                   else "passA2")
            if tag in by_pass:  # any other tag breaks the job sum check
                by_pass[tag].append(j)
    for p, js in by_pass.items():
        s = job_sums(js)
        for k in ("jobs", "stages", "tasks", "wall_s", "busy_s",
                  "shuffle_bytes"):
            m[f"profiler.{p}.{k}"] = s[k]
    m["profiler.describe_s"] = sum(dur(d) for d in describes)
    m["profiler.self_s"] = self_s
    rep_rows = sum(s["attrs"].get("rows", 0) for s in t.under(pid, "report"))
    m["profiler.scans_per_report"] = (
        job_sums(d_jobs)["records_read"] / rep_rows if rep_rows else 0.0)
    # report: the sample's sort job(s) and the direct render
    html_jobs = [j for h in t.under(pid, "html") for j in t.jobs_in(h["id"])]
    m["report.sample_s"] = job_sums(html_jobs)["wall_s"]
    renders = [s for e in extras for s in t.under(e["id"], "render")]
    m["report.render_s"] = sum(dur(s) for s in renders)
    m["report.html_bytes"] = sum(s["attrs"].get("bytes", 0) for s in renders)
    scans = [s for e in extras for s in t.under(e["id"], "scan")]
    m["sources.scan_s"] = sum(dur(s) for s in scans)
    # store
    appends = t.under(pid, "append")
    app_jobs = [j for a in appends for j in t.jobs_in(a["id"])]
    app_rows = sum(a["attrs"].get("rows", 0) for a in appends)
    ingested = app_rows + sum(s["attrs"].get("rows", 0)
                              for s in t.under(pid, "create"))
    m["store.create_s"] = sum(dur(s) for s in t.under(pid, "create"))
    m["store.append_jobs"] = len(app_jobs) / len(appends) if appends else 0
    m["store.append_busy_s"] = (job_sums(app_jobs)["busy_s"] / len(appends)
                                if appends else 0.0)
    m["store.append_rows_read_per_batch_row"] = (
        job_sums(app_jobs)["records_read"] / app_rows if app_rows else 0.0)
    for k, span in (("merge_s", "merge"), ("render_s", "store_render"),
                    ("drift_s", "drift")):
        m[f"store.{k}"] = sum(dur(s) for s in t.under(pid, span))
    m["store.read_s"] = m["store.merge_s"] + m["store.render_s"] + \
        m["store.drift_s"]
    m["store.state_bytes"] = state_bytes
    m["store.bytes_per_row"] = state_bytes / ingested if ingested else 0.0
    # registry
    queries = t.under(pid, "query")
    builds = t.under(pid, "build")
    q_jobs = [j for q in queries for j in t.jobs_in(q["id"])]
    qs = job_sums(q_jobs)
    m["registry.build_s"] = sum(dur(s) for s in builds)
    m["registry.build_jobs"] = sum(len(t.jobs_in(b["id"])) for b in builds)
    m["registry.collect_s"] = sum(dur(s) for s in t.under(pid, "collect"))
    for k in ("jobs", "stages", "tasks", "busy_s", "shuffle_bytes",
              "spill_bytes"):
        m[f"registry.{k}"] = qs[k]
    for f in REGISTRY_FAMILIES:
        m[f"registry.{f}.wall_s"] = sum(
            dur(q) for q in queries
            if q["attrs"].get("name", "").split("_")[0] == f)
    # engine totals for the pass
    s = job_sums(all_jobs)
    for k in ("jobs", "stages", "tasks", "busy_s", "cpu_s", "gc_s",
              "spill_bytes"):
        m[f"spark.{k}"] = s[k]
    m["spark.tasks_per_stage"] = s["tasks"] / s["stages"] if s["stages"] else 0
    m["spark.core_util"] = s["busy_s"] / (wall_s * cores) if wall_s else 0.0
    # the per-layer job counts must add up to the pass's spark.jobs
    layered = (sum(len(js) for js in by_pass.values()) + len(html_jobs) +
               sum(len(t.jobs_in(s["id"])) for n in
                   ("create", "append", "merge", "store_render", "drift")
                   for s in t.under(pid, n)) + len(q_jobs))
    partition = {"spark.jobs": s["jobs"], "layered": layered}
    return m, partition


def per_layer(res, tr):
    t = Trace(tr)
    top = [s for s in tr["spans"] if s["parent"] is None]
    cores = res["env"]["cores"]
    walls = {p["index"]: p["wall_s"] for p in res["passes"]}
    state = res["checks"].get("state_bytes", {})
    rows, problems = [], []
    for p in (s for s in top if s["name"] == "pass"):
        i = p["attrs"]["index"]
        extras = [s for s in top if s["name"] == "extras"
                  and s["attrs"]["index"] == i]
        m, part = pass_layers(t, p, extras, walls[i], cores,
                              state.get(str(i), 0))
        rows.append(m)
        if part["layered"] != part["spark.jobs"]:
            problems.append(f"pass {i}: per-layer jobs do not add up: {part}")
    unowned = [j["id"] for j in t.jobs if j["group"] not in t.spans]
    if unowned:
        problems.append(f"{len(unowned)} jobs outside any span")
    out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    out["spark.retained_storage_mb"] = res["retained_storage_mb"]
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    plain = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    out["trace.overhead_s"] = median(traced) - median(plain)
    return out, problems


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="run on the sf0.001 tier (self-test)")
    args = ap.parse_args()

    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(PROGRAM_SRC, "graft"))
            and os.path.isfile(spec)):
        die("run from the root of a checkout of the program "
            "(src/main/scala/graft and BENCHMARK.json are missing)")
    with open(spec) as f:
        bench = json.load(f)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")
    if not os.path.isdir(SPARK_JARS):
        die("no Spark installation found (set SPARK_HOME)")

    stamp = build()
    fixtures()
    train()

    load_before = os.getloadavg()[0]
    out = os.path.join(BUILD, "runs",
                       f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = java_cmd("--mode", "run", "--workload", args.workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--data", DATA, "--out", out,
                   "--setups", "1" if args.trace else "3",
                   "--small", "1" if args.small else "0",
                   cds=f"-XX:SharedArchiveFile={CDS}")
    t0 = time.time()
    rc = run_logged(cmd, os.path.join(out, "jvm.log"), JVM_TIMEOUT_S,
                    env=java_env())
    if rc != 0:
        sys.stderr.write(tail(os.path.join(out, "jvm.log")))
        die(f"harness exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    bad = run_checks(res)
    ops = res["ops"]
    failed_ops = [f"{o['kind']} {o['name']}: {o['err']}"
                  for o in ops if not o["ok"]]
    if args.trace:
        with open(os.path.join(out, "spans.json")) as f:
            metrics, problems = per_layer(res, json.load(f))
        bad += problems
        names = [m["name"] for m in bench["per_layer"]]
    else:
        metrics = {k: v for k, (v, _) in end_to_end(res).items()}
        names = [m["name"] for m in bench["end_to_end"]]
    unit = {m["name"]: m["unit"]
            for m in bench["end_to_end"] + bench["per_layer"]}
    missing = [n for n in names if n not in metrics]
    if missing:
        die(f"metrics not computed: {missing}")

    cores = res["env"]["cores"]
    load_after = os.getloadavg()[0]
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    record = dict(res["env"], seed=args.seed, workload=args.workload,
                  trace=args.trace, git_commit=commit, source_digest=stamp,
                  load_avg_1m_before=load_before,
                  load_avg_1m_after=load_after, nproc=os.cpu_count(),
                  loaded=max(load_before, load_after) > cores,
                  run_wall_s=time.time() - t0,
                  failures=failed_ops + bad)
    with open(os.path.join(out, "run.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"{args.workload} seed={args.seed} trace={args.trace} "
        f"passes={len(res['passes'])} ops={len(ops)} "
        f"load={load_before:.2f}->{load_after:.2f} cores={cores} "
        f"heap={res['env']['max_heap_mb']}MB spark={res['env']['spark_version']} "
        f"gc={res['env']['gc_s']:.2f}s commit={commit}")
    if record["loaded"]:
        log(f"WARNING: load average above the {cores} cores; "
            f"figures carry outside noise")
    for b in failed_ops + bad:
        log(f"FAIL {b}")

    attempted = len(ops)
    failed = min(attempted, len(failed_ops) + len(bad))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": unit[n]}
                    for n in names},
    }))


if __name__ == "__main__":
    main()
