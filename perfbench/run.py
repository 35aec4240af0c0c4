#!/usr/bin/env python3
"""Repository benchmark: one run of one workload, timed from outside.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine and the load
generator from source into .bench_build/. Each run gets its own scratch
directory (java.io.tmpdir, Spark local dirs, streaming checkpoints, tables)
under .bench_run/, removed afterwards. Output: one line per metric, host
context, then the result as one JSON object on the last line. Span and
per-op dumps go to .bench_out/. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("registry_battery", "hourly_etl", "stream_gates")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
SETUP_ROUNDS = 3
JVM_DEADLINE_S = 170
OUTPUT_DIRS = {".bench_build", ".bench_run", ".bench_out", ".git", "__pycache__",
               "target"}

# Input sizes. "full" is what every benchmark run measures: its timed part
# takes about 10 s on 4 cores. "tiny" is for the generator tests.
SIZES = {
    "full": {"etl_hours": 8, "etl_per_hour": 6000, "etl_rerun_hours": 2,
             "stream_rounds": 10, "stream_warmup": 6, "cdc_per_batch": 200,
             "docs_per_batch": 100, "train_docs": 400},
    "tiny": {"etl_hours": 3, "etl_per_hour": 400, "etl_rerun_hours": 1,
             "stream_rounds": 3, "stream_warmup": 1, "cdc_per_batch": 20,
             "docs_per_batch": 10, "train_docs": 60},
}

E2E = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the Spark whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")
    return jars


def build():
    """Compile src/main/scala plus the load generator with the Scala compiler
    that ships in Spark's jars; rebuilt only when a source changes."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala; run from a repository checkout")
    jars = spark_jars()
    srcs = _sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, "classes")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        staging = classes + ".new"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", staging, f"@{argfile}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classes


def java_cmd(classes, tmpdir, main, args):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(spark_jars(), "*")])
    return (["java", "-XX:-UsePerfData"] + opens + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, main] + args)


def run_jvm(classes, rundir, args, deadline_s, main="perfbench.Main"):
    """Runs `main` (the load generator by default); its output goes to
    rundir/jvm.log."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "spark-local"),
               SPARK_GRAFT_CPUS=str(CORES))
    env.pop("SPARK_CONF_DIR", None)
    log = os.path.join(rundir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(java_cmd(classes, os.path.join(rundir, "tmp"), main, args),
                             cwd=rundir, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(deadline_s, 1))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"{main} " + ("timed out" if rc is None else f"exited with {rc}"))


# ---------------------------------------------------------------- host context

def tree_hash(path=ROOT):
    """Git tree hash of the checkout's files (outputs of this script excluded)."""
    entries = []
    for name in os.listdir(path):
        if name in OUTPUT_DIRS:
            continue
        full = os.path.join(path, name)
        if os.path.islink(full):
            data = os.readlink(full).encode()
            entries.append((name, b"120000", hashlib.sha1(
                b"blob %d\0" % len(data) + data).digest()))
        elif os.path.isdir(full):
            sub = tree_hash(full)
            if sub is not None:
                entries.append((name + "/", b"40000", bytes.fromhex(sub)))
        else:
            with open(full, "rb") as fh:
                data = fh.read()
            mode = b"100755" if os.access(full, os.X_OK) else b"100644"
            entries.append((name, mode, hashlib.sha1(b"blob %d\0" % len(data) + data).digest()))
    if not entries:
        return None
    body = b"".join(m + b" " + n.rstrip("/").encode() + b"\0" + d
                    for n, m, d in sorted(entries, key=lambda e: e[0]))
    return hashlib.sha1(b"tree %d\0" % len(body) + body).hexdigest()


def cpu_probe_s():
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def host_context():
    return {"nproc": len(os.sched_getaffinity(0)), "load_before": os.getloadavg()[0],
            "cpu_probe_s": round(cpu_probe_s(), 4), "tree": tree_hash()}


# ---------------------------------------------------------------- workloads

def registry_spec(workload, seed):
    with open(os.path.join(HERE, "subsets.json")) as fh:
        reg = json.load(fh)[workload]
    entries = list(reg["entries"])
    random.Random(f"order-{seed}").shuffle(entries)
    return {"data": os.path.join(HERE, "data", "sf0.01"), "entries": entries,
            "artifacts": reg["artifacts"],
            "warmup_passes": 1, "passes": 3}


def etl_inputs(rundir, seed, sz):
    bronze = os.path.join(rundir, "input", "bronze")
    expected = gen.bronze(bronze, seed, sz["etl_hours"], sz["etl_per_hour"])
    names = [e["hour"] for e in expected]
    rerun = names[:sz["etl_rerun_hours"]]
    spec = {"bronze": bronze, "dt": gen.BASE_DT, "hours": names, "rerun": rerun,
            "bronze_lines": sum(e["lines"] for e in expected)}
    return spec, {"hours": expected, "rerun": rerun}


def stream_inputs(rundir, seed, sz):
    rounds, warmup = sz["stream_rounds"], sz["stream_warmup"]
    staging = os.path.join(rundir, "input", "stream")
    inserts = gen.cdc(staging, seed, warmup + rounds, sz["cdc_per_batch"])
    docs = gen.documents(staging, seed, warmup + rounds, sz["docs_per_batch"], sz["train_docs"])
    spec = {"staging": staging, "rounds": rounds, "warmup_rounds": warmup, "trigger_ms": 20}
    return spec, {"inserts": inserts, "docs": docs}


# ---------------------------------------------------------------- checks

def oracle_check():
    """The repository's oracle-compare module, tools/check.py (needs duckdb)."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check
    return check


def content_hash(con, sql):
    """(rows, order-insensitive hash) of a result: columns sorted by name and
    rows in tools/check.py's canonical, sorted form."""
    rel = con.execute(sql)
    cols = [c[0] for c in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = oracle_check().canon([[r[i] for i in order] for r in rel.fetchall()])
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return len(rows), h.hexdigest()


def check_registry(res, rundir, entries, failures):
    import duckdb
    con = duckdb.connect()
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    failed_ops = {f["op"] for f in res["failures"]}
    for name in entries:
        if name in failed_ops:
            continue
        exp = expected[name]
        rows, digest = content_hash(
            con, f"SELECT * FROM '{os.path.join(rundir, 'work', 'check', name)}/*.parquet'")
        if rows != exp["rows"] or (exp["hash"] is not None and digest != exp["hash"]):
            failures.append({"op": name, "error": f"wrong output: {rows} rows "
                             f"(expected {exp['rows']}), hash {'ok' if digest == exp['hash'] else 'differs'}"})
    return 0


def check_etl(res, exp, rundir, failures):
    obs = res["observed"]
    hours = exp["hours"]
    distinct = sum(h["distinct"] for h in hours)
    want = {
        "gold_rows": distinct,
        "duplicates": 0,
        "fully_null_rows": 0,
        "null_city": 0,
        "latest_n": min(20, distinct),
        "last_hour_rows": hours[-1]["distinct"],
        "tagged_rows": sum(h["out_of_range"] for h in hours),
    }
    for h in hours:
        want.setdefault("first_load_rows", {})[h["hour"]] = h["distinct"]
    for h in exp["rerun"]:
        want[f"rerun_rows_{h}"] = next(x["distinct"] for x in hours if x["hour"] == h)
    want["quarantined_load"] = sum(h["malformed"] for h in hours)
    want["quarantined_rerun"] = sum(h["malformed"] for h in hours if h["hour"] in exp["rerun"])
    obs["quarantined_load"] = count_lines(os.path.join(rundir, "work", "q_load"), ".txt")
    obs["quarantined_rerun"] = count_lines(os.path.join(rundir, "work", "q_rerun"), ".txt")
    for k, v in want.items():
        if obs.get(k) != v:
            failures.append({"op": f"check:{k}", "error": f"observed {obs.get(k)} expected {v}"})
    return len(want)


def check_stream(res, exp, failures):
    obs = res["observed"]
    # Every staged batch reached the streams: warm-up rounds and timed rounds.
    want = {"bronze_lines": sum(exp["inserts"]),
            "docs": sum(exp["docs"]),
            "gate_versions": len(exp["docs"])}
    got = {"bronze_lines": count_lines(obs.get("bronze_dir", ""), ".json.gz"),
           "docs": obs.get("admitted", 0) + obs.get("rejected", 0),
           "gate_versions": obs.get("gate_versions")}
    for k, v in want.items():
        if got[k] != v:
            failures.append({"op": f"check:{k}", "error": f"observed {got[k]} expected {v}"})
    return len(want)


def count_lines(root, suffix):
    import gzip
    n = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(suffix) and not f.startswith((".", "_")):
                p = os.path.join(d, f)
                with (gzip.open(p, "rb") if suffix.endswith(".gz") else open(p, "rb")) as fh:
                    n += sum(1 for line in fh if line.strip())
    return n


# ---------------------------------------------------------------- metrics

def tail(xs):
    """p90 by nearest rank: (value, n). A run holds 10 or 11 samples, too few
    for a percentile with ten samples beyond it."""
    s = sorted(xs)
    return s[-(-9 * len(s) // 10) - 1], len(s)


WAREHOUSE = ("core", "relational", "pipeline", "breadth")
CURATION = ("extension", "graph", "curation")


def battery_s(res, batteries=WAREHOUSE + CURATION):
    """One pass with every entry materialized, each entry at its median over
    the run's timed passes."""
    battery = res["detail"]["battery"]
    return sum(statistics.median(v) for n, v in res["detail"]["entry_s"].items()
               if battery[n] in batteries)


def e2e_metrics(workload, res):
    ops = res["ops"]
    setup = statistics.median(res["setup_s"])
    if workload == "registry_battery":
        samples, pass_s = ops["entry"], battery_s(res)
    elif workload == "hourly_etl":
        samples, pass_s = ops["hour"] + ops["rerun"], ops["cycle"][0]
    else:
        samples, pass_s = ops["round"], ops["loop"][0]
    t, n = tail(samples)
    return {"setup_s": setup, "pass_s": pass_s, "op_p50_s": statistics.median(samples),
            "op_tail_s": t}, n


def named_metrics(workload, res, bronze_lines):
    """The workload-specific figures, printed by name above the JSON line."""
    ops = res["ops"]
    m = {"setup_s": (statistics.median(res["setup_s"]), "s")}
    if workload == "registry_battery":
        m["battery_s"] = (battery_s(res), "s")
        # The subset's SQL-heavy and ext/-heavy entries, each summed.
        for group, batteries in (("warehouse", WAREHOUSE), ("curation", CURATION)):
            m[f"{group}_battery_s"] = (battery_s(res, batteries), "s")
    elif workload == "hourly_etl":
        m["etl_hour_s"] = (statistics.median(ops["hour"]), "s")
        m["etl_rows_per_s"] = (bronze_lines / sum(ops["hour"]), "1/s")
        m["etl_rerun_s"] = (statistics.median(ops["rerun"]), "s")
        m["gold_dq_s"] = (ops["dq"][0], "s")
    else:
        for q in ("cdc", "gate"):
            t, n = tail(ops[q])
            m[f"{q}_batch_p50_s"] = (statistics.median(ops[q]), "s")
            m[f"{q}_batch_tail_s"] = (t, f"s(p90,n={n})")
    return m


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded only: the sizes are fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full",
                    help="input sizes; 'tiny' is for the generator tests")
    a = ap.parse_args()
    # A terminated runner still stops its JVM and removes its scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the repository root")
    classes = build()
    t_built = time.monotonic()

    host = host_context()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    rundir = os.path.join(ROOT, ".bench_run", run_id)
    outdir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(rundir, ignore_errors=True)
    for d in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(rundir, d))
    os.makedirs(outdir, exist_ok=True)
    try:
        sz = SIZES[a.scale]
        spec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": bool(a.trace), "cores": CORES, "setup_rounds": SETUP_ROUNDS,
                "work": os.path.join(rundir, "work"), "run_id": run_id,
                "out": os.path.join(rundir, "result.json"),
                "spans": os.path.join(outdir, f"{run_id}.spans.jsonl")}
        exp = None
        if a.workload == "registry_battery":
            spec["registry"] = registry_spec(a.workload, a.seed)
        elif a.workload == "hourly_etl":
            spec["etl"], exp = etl_inputs(rundir, a.seed, sz)
        else:
            spec["stream"], exp = stream_inputs(rundir, a.seed, sz)
        phases = {"build_s": t_built - t_start, "inputs_s": time.monotonic() - t_built}
        spec_path = os.path.join(rundir, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        t_jvm = time.monotonic()
        run_jvm(classes, rundir, ["run", spec_path],
                JVM_DEADLINE_S - (time.monotonic() - t_start))
        phases["jvm_s"] = time.monotonic() - t_jvm
        with open(spec["out"]) as fh:
            res = json.load(fh)

        failures = list(res["failures"])
        if "registry" in spec:
            checks = check_registry(res, rundir, spec["registry"]["entries"], failures)
        elif a.workload == "hourly_etl":
            checks = check_etl(res, exp, rundir, failures)
        else:
            checks = check_stream(res, exp, failures)
        host["load_after"] = os.getloadavg()[0]
        phases["total_s"] = time.monotonic() - t_start
        host.update({k: round(v, 2) for k, v in phases.items()})
        # A registry output check judges an op already attempted; the ETL and
        # stream checks judge the run's tables, one attempt each.
        attempted = res["attempted"] + checks
        failed = len(failures)
        if "registry" in spec:
            res["ops"]["entry"] = [statistics.median(v) for v in res["detail"]["entry_s"].values()]
        need = {"hourly_etl": ("hour", "rerun", "dq"), "stream_gates": ("cdc", "gate", "round")}
        missing = [k for k in need.get(a.workload, ("entry",)) if not res["ops"].get(k)]
        if missing:
            for f in failures:
                print(f"failed {f['op']}: {f['error']}", file=sys.stderr)
            fail("no successful ops of kind " + ", ".join(missing))
        e2e, op_samples = e2e_metrics(a.workload, res)
        named = named_metrics(a.workload, res, spec.get("etl", {}).get("bronze_lines", 0))
        named["error_rate"] = (failed / attempted, "ratio")

        if a.trace:
            names = per_layer_names()
            metrics = {n: {"value": float(res["layers"].get(n, 0.0)), "unit": u} for n, u in names}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
        with open(os.path.join(outdir, f"{run_id}.detail.json"), "w") as fh:
            json.dump({"host": host, "spec": spec, "result": res, "failures": failures,
                       "named": named, "op_samples": op_samples, "metrics": metrics}, fh, indent=1)
        for k, (v, u) in named.items():
            print(f"{k} {v:.6g} {u}")
        print(f"op_samples {op_samples} count")
        for f in failures:
            print(f"failed {f['op']}: {f['error']}")
        print("host " + " ".join(f"{k}={v}" for k, v in host.items()))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


if __name__ == "__main__":
    main()
