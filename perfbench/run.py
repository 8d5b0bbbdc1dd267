#!/usr/bin/env python3
"""flyqspark benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark's Scala code from source on first use (an
sbt project in this directory), generates the input tables, runs the
workload in a JVM, checks its outputs against DuckDB, and prints as the
last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(and writes the spans to perfbench/.work/last-<workload>/spans.jsonl).
Exits non-zero, naming the failing check on stderr, if any check fails;
exits non-zero without a result if the program cannot be built or run.
See perfbench/README.md.
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

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
RUN_LIMIT_S = 170
JVM_HEAP = "3g"
# The throughput collector: no concurrent GC threads compete with Spark for
# the host's 4 cores, and per-query garbage dies young in a 3 GB heap.
GC = "-XX:+UseParallelGC"
# The pushed n-gram probe of the ingest gate pushes each micro-batch's band
# keys as one parquet IN filter, which parquet evaluates as a chain of ORs,
# recursively; on a 3000-message batch that overflowed the default 1 MB
# thread stack in a task (StackOverflowError under
# FileDataSourceV2.attachFilePath). Known library defect, see README.md.
THREAD_STACK = "8m"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when sources changed; return the runtime classpath."""
    out = os.path.join(HERE, ".build")
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    for f in glob.glob(os.path.join(out, "cds-*")):
        os.remove(f)
    log("building (sbt compile)")
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as blog:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=blog,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        blog.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if os.pathsep in l
             and "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed; see {out}/build.log", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


# ---- inputs --------------------------------------------------------------

def inputs(scale):
    """The workload's tables, generated once per checkout (they are a pure
    function of the generator and its scale, not of the seed)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + repr(scale).encode()).hexdigest()[:16]
    d = os.path.join(HERE, ".work", f"data-{key}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, scale)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


# ---- JVM run -------------------------------------------------------------

def cds_flags(workload, work):
    """Class-data sharing: the first run of a workload after a build dumps
    the classes it loaded to an archive, and later runs map it instead of
    loading and verifying Spark's classes again. This halves the JVM's cold
    start, which every run pays outside the timed phases. One attempt
    per build: a failed dump leaves a marker and later runs go without."""
    jsa = os.path.join(HERE, ".build", f"cds-{workload}.jsa")
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"], None
    tried = jsa + ".tried"
    if os.path.exists(tried):
        return [], None
    open(tried, "w").close()
    tmp = os.path.join(work, "cds.jsa")
    return [f"-XX:ArchiveClassesAtExit={tmp}"], (tmp, jsa)


def run_jvm(cp, args, data, work, deadline):
    os.makedirs(os.path.join(work, "tmp"))
    cds, dump = cds_flags(args.workload, work)
    cmd = ["java"] + cds
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -UsePerfData: no hsperfdata file under the system temp directory
    cmd += [GC, "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            f"-Xss{THREAD_STACK}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            fail("workload timed out; see jvm.log", 4)
    if dump and code == 0 and os.path.exists(dump[0]):
        os.replace(*dump)
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"workload exited with {code}", 4)
    return json.load(open(result))


# ---- output checks against DuckDB ---------------------------------------

def duck(data):
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    return con


def read_parquet_dir(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def oracle_checks(workload, data, work):
    """(name, ok, detail) for each output compared against DuckDB."""
    con = duck(data)
    sqls = json.load(open(os.path.join(work, "oracle_sql.json")))
    out = []
    if workload == "broker_analytics":
        for q, sql in sorted(sqls.items()):
            got = read_parquet_dir(os.path.join(work, "results", q))
            exp = con.execute(sql).fetchdf()
            ok = (len(got) == len(exp)
                  and sorted(got.columns) == sorted(exp.columns)
                  and stats.digest(got) == stats.digest(exp))
            out.append((f"oracle.{q}", ok,
                        f"spark rows={len(got)} duckdb rows={len(exp)}"))
    else:
        verdict = {int(k): bool(v) for k, v in con.execute(
            f"SELECT doc_id, is_kept FROM ({sqls['quality_filter']})").fetchall()}
        dec = read_parquet_dir(os.path.join(work, "decisions"))
        bad = [int(r.doc_id) for r in dec.itertuples()
               if bool(r.pass_quality) != verdict.get(int(r.src_doc_id))]
        out.append(("oracle.ingest_pass_quality", not bad and len(dec) > 0,
                    f"{len(bad)} of {len(dec)} docs disagree with quality_filter"))
    return out


# ---- metrics -------------------------------------------------------------

def layer_value(name, raw):
    """A per-layer metric from its raw form: a sample list reduces by the
    name's suffix (_p50 under the percentile rule, _mean, _max)."""
    if not isinstance(raw, list):
        return float(raw)
    if not raw:
        return 0.0
    if name.endswith("_p50"):
        v = stats.percentile(raw, 50)
        if v is None:
            log(f"{name}: {len(raw)} samples are too few for a median")
        return float(v) if v is not None else 0.0
    if name.endswith("_max"):
        return float(max(raw))
    return float(stats.mean(raw))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}", 2)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src/main/scala", 2)
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH", 2)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    cp = build()
    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S
    spec = WORKLOADS[args.workload]
    data = inputs(gen.Scale(**spec["tables"]))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    res = run_jvm(cp, args, data, work, deadline)
    t_jvm = time.time()

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    checks += oracle_checks(args.workload, data, work)
    log(f"inputs+jvm {t_jvm - t0:.1f} s, oracle checks {time.time() - t_jvm:.1f} s")
    e2e = res["e2e"]
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        spans = [json.loads(l) for l in open(os.path.join(work, "spans.jsonl"))]
        cover = stats.pass_coverage(spans)
        res["layer"]["trace.self_time_coverage"] = (
            max(cover.values(), key=lambda c: abs(c - 1)) if cover else 0.0)
        checks.append(("trace.self_time_within_10pct_of_pass_wall",
                       bool(cover) and all(abs(c - 1) <= 0.10 for c in cover.values()),
                       f"self-time / pass wall per pass: {cover}"))
        metrics = {m["name"]: {"value": layer_value(m["name"], res["layer"][m["name"]]),
                               "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        if "tail_messages" in e2e:
            lat = [stats.open_loop_latency_ms(*t) for t in e2e["tail_messages"]]
            failed += sum(1 for x in lat if x is None)
            e2e["latency_ms"] = [x for x in lat if x is not None]
        p50 = stats.percentile(e2e["latency_ms"], 50)
        checks.append(("latency.enough_samples_for_p50", p50 is not None,
                       f"{len(e2e['latency_ms'])} latency samples"))
        log(f"latency samples={len(e2e['latency_ms'])} "
            f"p{stats.highest_percentile(e2e['latency_ms'])} reportable")
        values = {
            "setup_s": stats.median(e2e["setup_s"]),
            "throughput_per_s": e2e["throughput_per_s"],
            "latency_p50_ms": p50 if p50 is not None else 0.0,
            "storage_mb": e2e["storage_mb"],
        }
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    bad = [(n, d) for n, ok, d in checks if not ok]
    for n, d in bad:
        log(f"CHECK FAILED {n}: {d}")
    log(f"{len(checks) - len(bad)}/{len(checks)} checks passed; "
        f"info={json.dumps(res['info'])}")

    last = os.path.join(HERE, ".work", f"last-{args.workload}")
    shutil.rmtree(last, ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    os.replace(work, last)

    print(json.dumps({"correct": not bad, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
