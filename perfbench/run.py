#!/usr/bin/env python3
"""graft pipeline benchmark: named workloads through graft's public
entry points, end to end (tracing off) or layer by layer (tracing on).

Usage, from the repository root:

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

One run: build graft and the benchmark driver from source (cached by
source hash under .bench_build/), generate the seeded inputs (cached per
seed), then one fresh JVM that builds the session with
graft.Harness.buildSession, runs one untimed warm-up pass, runs the
timed passes. After each step's timed region the JVM writes the step's
output; once the JVM has exited these are compared with the DuckDB
oracle of every step that has one (the canonical compare of
scripts/check.py), and their order-insensitive digests must agree across
the passes and with earlier runs, of any build, on the same inputs. See perfbench/NOTES.md for the workloads and metrics.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1).
Exit code 0 only when every step ran and every check matched.
"""
import argparse
import functools
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True
import gen  # noqa: E402  (after the bytecode switch: nothing is written beside it)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
MULTIPLIER = 10
XMX = "2g"
# a fixed young generation: G1 otherwise sizes it from pause timings, and
# peak RSS then wandered +-15% between identical runs; fixed, peak RSS
# tracks old-generation and native growth, i.e. what the program keeps
XMN = "384m"
JVM_TIMEOUT_S = 150

# tables each workload's steps read (each counted once in rows_per_s)
WORKLOAD_TABLES = {
    "curate": ["documents", "embeddings"],
    "lake": ["lineitem", "orders", "customer", "events"],
}
# nominal steady pass length: --seconds / this = timed passes (>= 1).
# A fixed pass count keeps every run of a workload measuring the same
# passes; a wall-clock stop would flip between 1 and 2 passes on noise.
NOMINAL_PASS_S = {"curate": 9.0, "lake": 5.0}

# Oracles that are all-pairs by design and take minutes at this size
# are run through an exact rewrite of their all-pairs part instead.
# dedup_cluster_rep's oracle scores every document pair's 3-gram
# Jaccard with list_intersect (12.5M pairs at 5k documents), and its
# recursive connected components re-evaluate that join each round:
# more than 5 minutes. A pair that shares no 3-gram has Jaccard 0 and
# never passes the 0.7 threshold, so joining the (distinct) 3-grams on
# equality and counting matches gives the same inter and uni for every
# pair that can pass; `pairs` is then materialized once. The rest of
# graft's SQL runs as written. Checked to give the same result as the
# original on the sf0.01 tables (23 rows), in 6 s at this size.
CLUSTER_P0 = re.compile(
    r"p0 AS \(\n.*?\n\s*FROM g2 a JOIN g2 b ON a\.doc_id < b\.doc_id\),", re.S)
CLUSTER_P0_BY_GRAM = """p0 AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter,
    CAST(any_value(len(a.g)) + any_value(len(b.g)) - count(*) AS BIGINT) AS uni
  FROM (SELECT doc_id, g, unnest(g) AS gram FROM g2) a
  JOIN (SELECT doc_id, g, unnest(g) AS gram FROM g2) b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),"""


def oracle_sql(name, sql):
    """(the SQL to run for a step's oracle, a note for the report).
    The SQL is None when the oracle cannot run at this size."""
    if name != "dedup_cluster_rep":
        return sql, None
    if len(CLUSTER_P0.findall(sql)) != 1 or sql.count("pairs AS (SELECT") != 1:
        return None, ("oracle NOT RUN: its SQL no longer has the all-pairs join that "
                      "perfbench rewrites, and as written it takes minutes here")
    sql = CLUSTER_P0.sub(lambda _: CLUSTER_P0_BY_GRAM, sql)
    return sql.replace("pairs AS (SELECT", "pairs AS MATERIALIZED (SELECT"), \
        "oracle run with its all-pairs join rewritten as a 3-gram equality join"


LAYERS = ["text", "similarity", "io", "filtering", "operators", "multimodal", "functions"]
LAYER_METRICS = [("wall_s", "s"), ("driver_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                 ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("fetch_wait_s", "s"),
                 ("slot_util", "ratio"), ("jobs", "count"), ("tasks_failed", "count")]
IO_METRICS = [("io.write_s", "s"), ("io.read_s", "s"), ("io.bytes_written_mb", "MB"),
              ("io.files_written", "count"), ("io.pruned_read_ratio", "ratio")]
PER_LAYER = [(f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS] + IO_METRICS

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", flush=True)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = None
        if os.path.exists(sbt):
            with open(sbt) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m is None:
            raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BenchError(f"no Spark jars under {jars}")
    return jars


def scalac(jars, srcs, out, classpath):
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
                for n in ("compiler", "library", "reflect")]
    os.makedirs(out)
    args = os.path.join(out, "..", os.path.basename(out) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx1g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath, "@" + args]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError(f"scalac failed:\n{r.stdout[-3000:]}{r.stderr[-3000:]}")


def build(jars):
    """Compile graft's main sources and the driver; reuse a build of the
    same sources. Returns (classpath, source hash)."""
    graft_srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench_srcs = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not graft_srcs:
        raise BenchError("no graft sources under src/main/scala: run from the repository root")
    h = hashlib.sha256()
    for p in graft_srcs + bench_srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    tag = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{tag}")
    cp = [os.path.join(out, "bench"), os.path.join(out, "graft"), os.path.join(jars, "*"),
          os.path.join(HERE, "resources")]
    if not os.path.exists(os.path.join(out, "ok")):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old)
        t0 = time.time()
        log(f"building graft + driver ({len(graft_srcs)} + {len(bench_srcs)} sources)")
        scalac(jars, graft_srcs, cp[1], cp[2])
        scalac(jars, bench_srcs, cp[0], ":".join(cp[1:3]))
        open(os.path.join(out, "ok"), "w").close()
        log(f"built in {time.time() - t0:.1f} s")
    return ":".join(cp), tag


def commit_stamp(src_tag):
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return f"unknown (not a git checkout; source hash {src_tag})"


@functools.cache
def load_checker():
    path = os.path.join(ROOT, "scripts", "check.py")
    if not os.path.exists(path):
        raise BenchError("scripts/check.py not found: run from the repository root")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(chk, mine, oracle):
    """scripts/check.py's gate on two canonicalized frames: same
    columns, same row count, same representation class per column and
    every cell's canonical rendering equal. Returns None or the problem."""
    if list(mine.columns) != list(oracle.columns):
        return f"SCHEMA_MISMATCH mine={list(mine.columns)} oracle={list(oracle.columns)}"
    if len(mine) != len(oracle):
        return f"ROWCOUNT_MISMATCH mine={len(mine)} oracle={len(oracle)}"
    for c in mine.columns:
        tm, to = chk.dtype_tag(mine[c]), chk.dtype_tag(oracle[c])
        if tm != to and "object<null>" not in (tm, to):
            return f"DTYPE_MISMATCH {c}({tm}!={to})"
        for a, b in zip(mine[c].tolist(), oracle[c].tolist()):
            if chk.cell_repr(a) != chk.cell_repr(b):
                return f"VALUE_MISMATCH {c}: {chk.cell_repr(a)} vs {chk.cell_repr(b)}"
    return None


def digest(chk, frame):
    h = hashlib.sha256("\x1f".join(frame.columns).encode())
    for row in frame.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(chk.cell_repr(v) for v in row)).encode())
    return h.hexdigest()[:16]


def check_oracle(chk, con, data, sql, mine, mine_digest):
    """None when the canonical output equals the oracle's, else the
    problem. The oracle's digest is kept beside the generated inputs,
    keyed by the SQL, so a later run on the same seed compares digests
    instead of re-running DuckDB; any digest difference is re-checked
    in full for the report."""
    memo = os.path.join(data, f"oracle-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.digest")
    if os.path.exists(memo):
        with open(memo) as f:
            if f.read().strip() == mine_digest:
                return None
    oracle = chk.canon(con.execute(sql).df())
    bad = compare(chk, mine, oracle)
    if bad is None:
        with open(memo, "w") as f:
            f.write(digest(chk, oracle))
    return bad


def check_outputs(res, work, data, memo_path):
    """Checks of every timed pass's step outputs: the DuckDB oracle where
    the step has one, and one order-insensitive digest per step across
    all passes and across earlier runs on the same inputs, whatever
    build made them.
    Returns (checks attempted, problems, report lines)."""
    import duckdb
    import pandas as pd
    chk = load_checker()
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    con.execute(f"SET threads TO {nproc()}")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    memo = {}
    if os.path.exists(memo_path):
        with open(memo_path) as f:
            memo = json.load(f)
    digests, problems, report, attempted = {}, [], [], 0
    for name, _layer in res["steps"]:
        seen = {}
        for p in res["passes"]:
            attempted += 1
            files = sorted(glob.glob(os.path.join(work, "check", p["label"], name, "*.parquet")))
            if not files:
                problems.append(f"{p['label']}/{name}: no output")
                continue
            mine = chk.canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            seen[p["label"]] = (digest(chk, mine), mine)
        if not seen:
            continue
        first, mine = next(iter(seen.values()))
        verdict = [f"rows={len(mine)} digest={first}"]
        if len({d for d, _ in seen.values()}) > 1:
            problems.append(f"{name}: digest differs between passes "
                            + ",".join(f"{k}={d}" for k, (d, _) in seen.items()))
            verdict.append("digest DIFFERS between passes")
        else:
            verdict.append(f"same digest in {len(seen)} pass(es)")
        if name in memo and memo[name] != first:
            problems.append(f"{name}: digest {first} != {memo[name]} of an earlier run")
            verdict.append("digest CHANGED since an earlier run")
        elif name in memo:
            verdict.append("as in earlier runs")
        if name in res["oracles"]:
            sql, note = oracle_sql(name, res["oracles"][name])
            if note:
                verdict.append(note)
            if sql is not None:
                bad = check_oracle(chk, con, data, sql, mine, first)
                if bad:
                    problems.append(f"{name}: oracle {bad}")
                verdict.append("oracle " + ("MISMATCH" if bad else "OK"))
        else:
            verdict.append("no oracle")
        digests[name] = first
        report.append(f"{name}: " + ", ".join(verdict))
    con.close()
    if not problems:
        memo.update(digests)
        with open(memo_path, "w") as f:
            json.dump(memo, f, indent=1, sort_keys=True)
    return attempted, problems, report


def run_jvm(cp, workload, data, passes, trace, work, run_id):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{XMX}", f"-Xmn{XMN}", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Driver",
              f"workload={workload}", f"data={data}", f"cpus={nproc()}",
              f"passes={passes}", f"trace={trace}", f"out={work}", f"run_id={run_id}"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        t_launch = time.time()
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"JVM did not finish within {JVM_TIMEOUT_S} s (log: {logf.name})")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"JVM exited with {rc}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f), t_launch


def nproc():
    return len(os.sched_getaffinity(0))


def run_workload(workload, seed, seconds, trace, cp, src_tag):
    load_start = os.getloadavg()[0]
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_tag = hashlib.sha256(f.read()).hexdigest()[:8]
    data = os.path.join(BUILD, "data", f"seed{seed}-x{MULTIPLIER}-{gen_tag}")
    manifest = gen.generate(os.path.join(HERE, "base"), data, MULTIPLIER, seed)
    tables = WORKLOAD_TABLES[workload]
    in_rows = sum(manifest["tables"][t]["rows"] for t in tables)
    in_bytes = sum(manifest["tables"][t]["bytes"] for t in tables)

    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_id = uuid.uuid4().hex[:12]
    passes = max(1, int(seconds / NOMINAL_PASS_S[workload]))
    res, t_launch = run_jvm(cp, workload, data, passes, trace, work, run_id)
    setup_s = res["setup_end_ms"] / 1e3 - t_launch

    # kept beside the inputs, so a run of another build on the same
    # inputs must reproduce the digests
    memo = os.path.join(data, f"digests-{workload}.json")
    n_checks, problems, report = check_outputs(res, work, data, memo)
    problems = res["failures"] + problems
    attempted = res["attempted"] + n_checks
    load_end = os.getloadavg()[0]

    walls = [p["wall_s"] for p in res["passes"]]
    rows_per_s = in_rows / statistics.median(walls)
    log(f"[{workload}] stamp: commit={commit_stamp(src_tag)} nproc={nproc()} "
        f"master=local[{nproc()}] xmx={XMX} xmn={XMN} max_heap_mb={res['max_heap_mb']} "
        f"java={res['java_version']} spark={res['spark_version']} run_id={run_id}")
    log(f"[{workload}] input: seed={seed} multiplier={MULTIPLIER} (base sf0.01) "
        f"rows={in_rows} bytes={in_bytes} tables=" +
        ",".join(f"{t}:{manifest['tables'][t]['rows']}r/{manifest['tables'][t]['bytes']}B" for t in tables))
    log(f"[{workload}] load1: start={load_start:.2f} end={load_end:.2f}")
    log(f"[{workload}] setup_s={setup_s:.3f}: session_s={res['session_ms'] / 1e3 - t_launch:.3f} "
        f"warmup_s={res['warmup']['wall_s']:.3f}")
    log(f"[{workload}] pass_s=" + ",".join(f"{w:.3f}" for w in walls))
    log(f"[{workload}] pass_cpu_s=" + ",".join(f"{p['cpu_s']:.2f}" for p in res["passes"])
        + "; JIT compiler threads' elapsed time (CompilationMXBean) in the same passes: "
        + ",".join(f"{p['jit_s']:.2f}" for p in res["passes"]))
    for p in res["passes"]:
        log(f"[{workload}]   {p['label']}: " +
            " ".join(f"{s['name']}={s['call_s'] + s['action_s']:.3f}" for s in p["steps"]))
    for line in report:
        log(f"[{workload}] check {line}")
    for pr in problems:
        log(f"[{workload}] FAILED {pr}")
    log(f"[{workload}] fail_ratio={len(problems)}/{attempted}={len(problems) / attempted:.4f}")

    if trace:
        # the overhead is this traced run against the untraced run of the
        # same seed and build, when there is one
        base = {}
        untraced = os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
        if base.get("src_tag") == src_tag:
            rps_u = base["metrics"]["rows_per_s"]["value"]
            log(f"[{workload}] tracing overhead: rows_per_s untraced={rps_u:.1f} "
                f"traced={rows_per_s:.1f} diff={(rps_u - rows_per_s) / rps_u * 100:.2f}% "
                "(one pair of runs; their run-to-run spread is about 10%)")
        else:
            log(f"[{workload}] tracing overhead: no untraced run of seed {seed} "
                "with this build to compare with")
        spans = os.path.join(BUILD, "results", f"{workload}-seed{seed}-spans.jsonl")
        shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
        log(f"[{workload}] spans: {os.path.relpath(spans, ROOT)}")
        metrics = {name: {"value": res["layers"].get(name, 0.0), "unit": unit}
                   for name, unit in PER_LAYER}
    else:
        written = sum(s["bytes_written"] for s in res["passes"][-1]["steps"])
        metrics = {
            "rows_per_s": {"value": rows_per_s, "unit": "rows/s"},
            "cpu_s": {"value": statistics.median(p["cpu_s"] for p in res["passes"]), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": res["vm_hwm_kb"] / 1024, "unit": "MB"},
            "stored_bytes_ratio": {"value": (in_bytes + written) / in_bytes, "unit": "ratio"},
        }
    for name, m in metrics.items():
        if not trace or m["value"]:
            log(f"[{workload}] {name} = {m['value']:.6g} {m['unit']}")
    with open(os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump({"src_tag": src_tag, "metrics": metrics, "problems": problems, "result": res}, f)
    return {"correct": not problems, "attempted": attempted, "failed": len(problems),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TABLES) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_MASTER"):
        if os.environ.get(var):
            print(f"perfbench: refusing to run with {var} set: it changes plans between sides",
                  file=sys.stderr)
            sys.exit(2)
    try:
        load_checker()
        cp, src_tag = build(spark_jars())
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        names = sorted(WORKLOAD_TABLES) if a.workload == "all" else [a.workload]
        results = {w: run_workload(w, a.seed, a.seconds, a.trace, cp, src_tag) for w in names}
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    if len(results) == 1:
        out = results[a.workload]
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
