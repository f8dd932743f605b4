#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client in one local[cores] session.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
runner with sbt (offline) and generates its input tables; both are
cached under .bench_build/. Each run then starts a fresh JVM that sets
up, runs one cold pass and then warm passes until the two have taken S
seconds and a workload's minimum of warm passes has run, and runs the
workload's ops once more, untimed, for the output check. The last line
of stdout is one JSON object: {correct, attempted, failed, metrics}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones.

Workloads and their op lists are in perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "4g"
# The session runs its tasks on half the CPUs, and the JIT's compiler
# threads and the collector's are bounded, so that the JVM's own threads
# do not contend with the tasks for CPUs.
JVM_THREADS = ["-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
MIN_WARM = 2         # warm passes: two samples per op
PLANNED_PASSES = 60
JVM_LIMIT_S = 165  # a run's JVM; building and input generation come before

ADD_OPENS = [
    f"--add-opens={p}=ALL-UNNAMED" for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# ---- build ---------------------------------------------------------

def build_inputs():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*.scala", "src/main/**/*.java",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*.scala"]
    out = []
    for p in pats:
        out += [f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                if os.path.isfile(f)]
    return out


def build():
    """Compile graft and the runner; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} under {ROOT}: run from a graft checkout")
    key = digest(build_inputs())
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark runner with sbt")
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
        logf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines()
             if "perfbench" in ln and ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"sbt build failed (see {bdir}/sbt.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---- inputs --------------------------------------------------------

def generated(kind, script, args):
    """Output dir of a generator script, made once per script version and
    args; generation time is outside every metric."""
    key = digest([os.path.join(HERE, script)])
    out = os.path.join(WORK, "data", f"{kind}-{key}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        subprocess.run([sys.executable, os.path.join(HERE, script), tmp] + args,
                       check=True, stdout=subprocess.DEVNULL, timeout=600)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def load_workloads(path):
    with open(path) as f:
        return json.load(f)


# ---- output check --------------------------------------------------

def oracle(con, sql, tables_dir):
    """DuckDB's answer to an oracle query, cached per fixture and query:
    the fixture is fixed, and some oracles take seconds."""
    import pandas as pd
    key = hashlib.sha256(f"{tables_dir}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(WORK, "oracle", f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_queries(checks, tables_dir, tmp):
    """Oracle compare with tools/parity.py's rule: columns sorted by
    name, rows sorted by all columns, dtype-strict equality. Rows-only
    ops must be non-empty. Returns {op: ok}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp}'")
    for t in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")

    def canon(df):
        df = df[sorted(df.columns)]
        if len(df.columns):
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        return df.reset_index(drop=True)

    out = {}
    for c in checks:
        name, ok = c["name"], False
        try:
            files = sorted(glob.glob(os.path.join(c["dir"], "*.parquet")))
            if c["error"] or not files:
                raise RuntimeError(c["error"] or "no output")
            flist = ", ".join(f"'{f}'" for f in files)
            got = con.execute(f"SELECT * FROM read_parquet([{flist}])").df()
            if not c["oracle"]:
                ok = len(got) > 0
            else:
                want = oracle(con, c["oracle"], tables_dir)
                ok = (sorted(want.columns) == sorted(got.columns)
                      and len(want) == len(got) and canon(want).equals(canon(got)))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            log(f"check {name}: {type(e).__name__}: {str(e)[:200]}")
        if not ok:
            log(f"check {name}: MISMATCH")
        out[name] = ok
    con.close()
    return out


# ---- metrics -------------------------------------------------------

def op_id(o):
    return f"perfbench:p{o['pass']}:{o['name']}"


def pass_wall(p):
    return (p["end"] - p["start"]) / 1e3


def end_to_end(res, wl, ok_frac):
    passes = res["passes"]
    warm = [p for p in passes if p["kind"] == "warm"]
    warm_idx = {p["idx"] for p in warm}
    samples = {}
    for o in res["ops"]:
        if o["pass"] in warm_idx:
            samples.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1e3)
    meds = stats.op_medians(samples)
    log(f"op percentiles over the medians of {len(meds)} ops, "
        f"{sum(map(len, samples.values()))} warm samples")
    m = {
        "setup_s": (res["setup_s"], "s"),
        "cold_s": (pass_wall(passes[0]), "s"),
        "pass_s": (stats.median([pass_wall(p) for p in warm]), "s"),
        "op_p50_s": (stats.quantile(meds, 50), "s"),
        "op_p75_s": (stats.quantile(meds, 75), "s"),
        "ok_frac": (ok_frac, "ratio"),
    }
    return m


def per_layer(res, wl, modules):
    """Layer metrics from the traced passes of a traced run."""
    tr = res["trace"]
    passes = res["passes"]
    cold = passes[0]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    ops_by_pass = {}
    for o in res["ops"]:
        ops_by_pass.setdefault(o["pass"], []).append(o)
    jobs_by_op, stages_by_op, batches_by_op = {}, {}, {}
    for j in tr["jobs"]:
        jobs_by_op.setdefault(j["op"], []).append(j)
    for s in tr["stages"]:
        stages_by_op.setdefault(s["op"], []).append(s)
    for b in tr["batches"]:
        batches_by_op.setdefault(b["op"], []).append(b)

    def jobs_of(o):
        return [j for j in jobs_by_op.get(op_id(o), []) if j["end"] >= 0]

    def gap(o):
        return stats.driver_gap(o["start"], o["end"],
                                [(j["start"], j["end"]) for j in jobs_of(o)]) / 1e3

    def med(f):
        return stats.median([f(p) for p in traced])

    def stage_sum(p, key, scale=1.0):
        return sum(s[key] for o in ops_by_pass.get(p["idx"], [])
                   for s in stages_by_op.get(op_id(o), [])) * scale

    def pass_skew(p):
        ks = [stats.skew(s["read_per_task"]) for o in ops_by_pass.get(p["idx"], [])
              for s in stages_by_op.get(op_id(o), [])]
        ks = [k for k in ks if k is not None]
        return max(ks) if ks else 0.0

    def pass_gap(p):
        js = [(j["start"], j["end"]) for o in ops_by_pass.get(p["idx"], [])
              for j in jobs_of(o)]
        return stats.driver_gap(p["start"], p["end"], js) / 1e3

    mb = 1.0 / (1 << 20)
    m = {}
    for mod in modules:
        def in_mod(p, f, mod=mod):
            return sum(f(o) for o in ops_by_pass.get(p["idx"], []) if o["module"] == mod)
        wall = lambda o: (o["end"] - o["start"]) / 1e3  # noqa: E731
        m[f"{mod}.s"] = (med(lambda p: in_mod(p, wall)), "s")
        m[f"{mod}.cold_s"] = (in_mod(cold, wall), "s")
        m[f"{mod}.build_s"] = (in_mod(cold, lambda o: o["build_s"]), "s")
        m[f"{mod}.gap_s"] = (med(lambda p: in_mod(p, gap)), "s")
    m.update({
        "Tables.input_mb": (med(lambda p: stage_sum(p, "in_bytes", mb)), "MB"),
        "Tables.input_rows": (med(lambda p: stage_sum(p, "in_rows")), "count"),
        "plan.s": (med(lambda p: sum(o["plan_s"] for o in ops_by_pass[p["idx"]])), "s"),
        "plan.exchanges": (med(lambda p: sum(max(0, o["exchanges"])
                                             for o in ops_by_pass[p["idx"]])), "count"),
        "shuffle.write_mb": (med(lambda p: stage_sum(p, "shuffle_write", mb)), "MB"),
        "shuffle.read_mb": (med(lambda p: stage_sum(p, "shuffle_read", mb)), "MB"),
        "shuffle.skew": (med(pass_skew), "ratio"),
        "exec.jobs": (med(lambda p: sum(len(jobs_of(o)) for o in ops_by_pass[p["idx"]])), "count"),
        "exec.tasks": (med(lambda p: stage_sum(p, "tasks")), "count"),
        "exec.task_s": (med(lambda p: stage_sum(p, "task_ms", 1e-3)), "s"),
        "exec.spill_mb": (med(lambda p: stage_sum(p, "spill", mb)), "MB"),
        "driver.gap_s": (med(pass_gap), "s"),
        "write.output_mb": (med(lambda p: stage_sum(p, "out_bytes", mb)), "MB"),
        "write.output_rows": (med(lambda p: stage_sum(p, "out_rows")), "count"),
        "cache.persisted_mb": (med(lambda p: p["cache_bytes"] * mb), "MB"),
        "jvm.rss_peak_mb": (res["rss_hwm_kb"] / 1024.0, "MB"),
        "trace.overhead_s": (stats.median([pass_wall(p) for p in traced])
                             - stats.median([pass_wall(p) for p in untraced]), "s"),
    })

    def pass_batches(p):
        return [b for o in ops_by_pass.get(p["idx"], [])
                for b in batches_by_op.get(op_id(o), [])]

    def last_per_query(bs, key):
        last = {}
        for b in bs:
            last[b["run_id"]] = b[key]
        return sum(last.values())

    m.update({
        "Streams.batches": (med(lambda p: len(pass_batches(p))), "count"),
        "Streams.batch_p50_s": (med(lambda p: stats.median(
            [b["duration_ms"] / 1e3 for b in pass_batches(p)])), "s"),
        "Streams.input_rows": (med(lambda p: sum(b["input_rows"] for b in pass_batches(p))), "count"),
        "Streams.state_rows": (med(lambda p: last_per_query(pass_batches(p), "state_rows")), "count"),
        "Streams.state_mb": (med(lambda p: last_per_query(pass_batches(p), "state_bytes") * mb), "MB"),
        "Streams.commit_s": (med(lambda p: sum(b["commit_ms"] for b in pass_batches(p)) / 1e3), "s"),
    })

    def op_wall(name):
        return med(lambda p: sum((o["end"] - o["start"]) / 1e3
                                 for o in ops_by_pass[p["idx"]] if o["name"] == name))

    lda = res["extra"].get("lda", {})
    iters = lda.get("em_iter_s", [])
    ckpt = lda.get("checkpoint_bytes", [])

    def iters_of(p):
        return iters[p["idx"]] if p["idx"] < len(iters) else []

    def online_jobs(p):
        return [j for o in ops_by_pass.get(p["idx"], []) if o["name"] == "train_online"
                for j in jobs_of(o)]
    m.update({
        "TextPrep.s": (op_wall("prep"), "s"),
        "LdaPipeline.em.s": (op_wall("train_em"), "s"),
        "LdaPipeline.em.iter_p50_s": (med(lambda p: stats.median(iters_of(p))), "s"),
        "LdaPipeline.em.iter_max_s": (med(lambda p: max(iters_of(p), default=0.0)), "s"),
        "LdaPipeline.em.iter_sum_s": (med(lambda p: sum(iters_of(p))), "s"),
        "LdaPipeline.em.checkpoint_mb": (med(lambda p: ckpt[p["idx"]] * mb
                                             if p["idx"] < len(ckpt) else 0.0), "MB"),
        "LdaPipeline.em.loglik": (lda.get("em_loglik_per_token", 0.0), "nats/token"),
        "LdaPipeline.online.s": (op_wall("train_online"), "s"),
        "LdaPipeline.online.jobs": (med(lambda p: len(online_jobs(p))), "count"),
        "LdaPipeline.online.job_p50_s": (med(lambda p: stats.median(
            [(j["end"] - j["start"]) / 1e3 for j in online_jobs(p)])), "s"),
        "LdaPipeline.online.logperplexity": (lda.get("online_logperplexity", 0.0), "nats/token"),
        "Pipeline.classify.s": (op_wall("classify"), "s"),
    })
    return m


def span_summary(res):
    """Self time per span name over the traced warm passes, largest first."""
    spans = [s for s in res["trace"]["spans"] if s["end"] >= 0]
    selft = stats.self_times(spans)
    by = {}
    for s in spans:
        by[s["name"]] = by.get(s["name"], 0.0) + selft[s["id"]] / 1e3
    return sorted(by.items(), key=lambda kv: -kv[1])[:8]


# ---- main ----------------------------------------------------------

def context():
    ctx = {"nproc": len(os.sched_getaffinity(0)), "heap": HEAP}
    try:
        with open("/proc/loadavg") as f:
            ctx["loadavg"] = float(f.read().split()[0])
        with open("/proc/stat") as f:
            ctx["steal_jiffies"] = int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        pass
    return ctx


def bytes_under(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec = load_workloads(os.path.join(HERE, "workloads.json"))
    workloads = spec["workloads"]
    if a.workload not in workloads:
        die(f"unknown workload {a.workload}; known: {', '.join(sorted(workloads))}")
    wl = workloads[a.workload]
    cp = build()
    tables = generated("tables", "gen_tables.py", [])
    ctx = context()
    cores = max(1, ctx["nproc"] // 2)
    ctx["cores"] = cores

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--data", tables,
            "--out", run_dir, "--plan", os.path.join(run_dir, "plan.txt")]
    if wl.get("books"):
        corpus = generated(f"books-{a.seed}", "gen_books.py", [str(a.seed)])
        with open(os.path.join(corpus, "manifest.json")) as f:
            ctx["corpus"] = json.load(f)
        args += ["--books", os.path.join(corpus, "books"),
                 "--stopwords", os.path.join(corpus, "stopWords_EN.txt")]
        op_names = wl["books"]
        orders = [op_names] * PLANNED_PASSES
        modules = []
    else:
        modules = [(m, ops) for m, ops in wl["modules"].items()]
        op_names = [op for _, ops in modules for op in ops]
        # the cold pass runs the ops as listed, the warm passes in seeded
        # orders: the op that comes first pays the session's first-query
        # costs (1-4 s more), so a seeded cold order would move cold_s by
        # a third between seeds
        orders = [op_names] + stats.pass_orders(modules, a.seed, PLANNED_PASSES - 1,
                                                salt=a.workload)
    # timed passes (cold and warm) run for --seconds, with at least
    # MIN_WARM warm passes. A cold pass outlasts 10 s, so at that length
    # the warm-pass count is fixed: stopping on the clock would let runs
    # end after different numbers of warm passes, and each is faster
    # than the one before. A traced run alternates untraced, traced,
    # untraced: the untraced median then brackets the traced pass, so
    # most of the JIT's warm-up trend cancels out of trace.overhead_s
    min_warm = 3 if a.trace else MIN_WARM
    args += ["--min-warm", str(min_warm)]
    with open(os.path.join(run_dir, "plan.txt"), "w") as f:
        f.write("\n".join(" ".join(o) for o in orders) + "\n")

    cmd = (["java", f"-Xmx{HEAP}"] + JVM_THREADS + ADD_OPENS +
           [f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args)
    t_launch = time.time()
    cmd += ["--launched-ms", str(int(t_launch * 1000))]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = f"a timeout after {JVM_LIMIT_S} s"
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        shutil.rmtree(run_dir, ignore_errors=True)
        die(f"JVM ended with {rc}")
    with open(result_path) as f:
        res = json.load(f)

    # ---- output check ----
    if wl.get("books"):
        checks = {}
        for c in res["checks"]:
            op = c["name"].split(".")[0]
            checks[op] = checks.get(op, True) and c["ok"]
            if not c["ok"]:
                log(f"check {c['name']}: FAILED")
        if "check" in checks:  # the check itself threw: nothing is verified
            checks = {op: False for op in op_names}
    else:
        checks = check_queries(res["checks"], tables, os.path.join(run_dir, "tmp"))
    failed = stats.failed_ops(res["ops"], op_names, checks)
    for n in failed:
        log(f"FAILED op: {n}")
    ok_frac = 1.0 - len(failed) / len(op_names)

    # ---- registry and surface ----
    registry = {r["module"]: set(r["ops"]) for r in res["registry"]}
    reg_ops = set().union(*registry.values())
    if res["missing_ops"]:
        log(f"FLAG: ops not in graft's registry: {' '.join(res['missing_ops'])}")
    if reg_ops != set(res["surface"]):
        log(f"FLAG: module registry ({len(reg_ops)} ops) differs from "
            f"SparkEntry.queries ({len(res['surface'])} ops)")
    for m, ops in modules:
        stray = [o for o in ops if o not in registry.get(m, set())]
        if stray:
            log(f"FLAG: {m} does not define {' '.join(stray)}")

    # ---- hygiene: report and delete what the run wrote ----
    held = {d: bytes_under(os.path.join(run_dir, d))
            for d in ("warehouse", "checkpoint", "tmp", "local", "check")}
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {a.workload}: seed {a.seed}, {len(op_names)} ops: {' '.join(op_names)}")
    print("session: " + json.dumps(res["settings"], sort_keys=True))
    after = context()
    ctx["loadavg_end"] = after.get("loadavg")
    if "steal_jiffies" in ctx and "steal_jiffies" in after:
        ctx["steal_s"] = (after["steal_jiffies"] - ctx.pop("steal_jiffies")) / 100.0
    print("context: " + json.dumps(ctx, sort_keys=True))
    print("run dirs held (bytes, deleted): " + json.dumps(held, sort_keys=True))
    n_warm = sum(1 for p in res["passes"] if p["kind"] == "warm")
    print(f"passes: 1 cold + {n_warm} warm ({res['warm_s']:.1f} s warm), "
          f"check {res['check_s']:.1f} s, JVM {time.time() - t_launch:.1f} s; "
          f"pass walls {', '.join(f'{pass_wall(p):.2f}' for p in res['passes'])} s; "
          f"setup {res['setup_s']:.3f} s")
    warm_idx = {p["idx"] for p in res["passes"] if p["kind"] == "warm"}
    per_op = {}
    for o in res["ops"]:
        if o["pass"] in warm_idx:
            per_op.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1e3)
    cold_op = {o["name"]: (o["end"] - o["start"]) / 1e3 for o in res["ops"] if o["pass"] == 0}
    slow = sorted(((stats.median(v), n) for n, v in per_op.items()), reverse=True)
    print("ops by warm median, s (cold): " + ", ".join(
        f"{n} {t:.3f} ({cold_op.get(n, 0):.3f})" for t, n in slow))
    if "lda" in res["extra"]:
        lda = res["extra"]["lda"]
        print(f"lda: tokens {lda['tokens']}, vocab {lda['vocab']}, "
              f"em loglik/token {lda['em_loglik_per_token']:.4f}, "
              f"online logperplexity {lda['online_logperplexity']:.4f}")
    if a.trace:
        metrics = per_layer(res, wl, spec["modules"])
        print("self time by span name (s): " + ", ".join(
            f"{n} {t:.2f}" for n, t in span_summary(res)))
    else:
        metrics = end_to_end(res, wl, ok_frac)
    for k, (v, u) in metrics.items():
        print(f"  {k} = {v:.6g} {u}")
    print(f"run took {time.time() - t_start:.1f} s")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(op_names),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
