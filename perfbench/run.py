#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload estimate --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the library and
the client from source (sbt, offline) into .bench_build/. Each run then

1. generates the workload's inputs from --seed (once per seed, into
   .bench_build/inputs/; not part of any timing);
2. starts one JVM (perfbench.Main) that sets up the Spark session,
   runs untimed warm-up passes (the first keeps its outputs for the
   check), then timed passes for --seconds;
3. checks pass-0 outputs against each query's DuckDB oracle
   (SparkEntry.oracleSql) on the same inputs; a query without one must
   meet its invariants (perfbench.ModelScoreCheck) and give the same
   result signature on pass 0 and on a last, untimed pass;
4. deletes the run's warehouse and temp directories after measuring
   what was left in them;
5. prints every metric by name and unit, then one JSON line.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics from a traced run (see workloads.json for what each means).
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
import pyarrow as pa
import pyarrow.compute as pc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    out = os.path.join(BUILD, "perfbench")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    return open(cp_file).read().strip()


def inputs(workload, spec, seed):
    """The workload's input directory for this seed, generated once per
    table sizes and version of gen.py."""
    d = os.path.join(BUILD, "inputs", workload, f"seed-{seed}")
    marker = os.path.join(d, "tables.json")
    sizes = json.dumps(spec["tables"], sort_keys=True)
    gen = os.path.join(HERE, "gen.py")
    with open(gen, "rb") as fh:
        want = sizes + " " + hashlib.sha256(fh.read()).hexdigest()
    if os.path.exists(marker) and open(marker).read() == want:
        return d, None
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    subprocess.run([sys.executable, gen, d, str(seed), sizes], check=True)
    with open(marker, "w") as fh:
        fh.write(want)
    return d, time.time() - t0


def run_jvm(classpath, spec, args, data, run_dir):
    out, scratch = os.path.join(run_dir, "out"), os.path.join(run_dir, "scratch")
    for d in (out, os.path.join(scratch, "tmp"), os.path.join(scratch, "warehouse")):
        os.makedirs(d, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={scratch}/tmp", "-XX:-UsePerfData"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--data", data, "--out", out, "--scratch", scratch,
              "--queries", ",".join(spec["queries"]), "--seconds", str(args.seconds),
              "--seed", str(args.seed), "--trace", str(args.trace)])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        print(open(log).read()[-4000:], file=sys.stderr)
        fail(f"benchmark JVM exited with {p.returncode} (killed after {JVM_TIMEOUT_S} s if negative)", 4)
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh), out


# ---------------------------------------------------------------- check

def canon(rel):
    """Arrow table with its columns in name order."""
    t = rel.arrow()
    return t.select(sorted(t.column_names))


def same_column(a, b):
    """Exact, order-sensitive equality; NULL equals NULL and NaN equals
    NaN, as in tools/verify_local.py."""
    if a.type != b.type:
        try:
            a = a.cast(b.type)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return a.to_pylist() == b.to_pylist()
    if not (pa.types.is_primitive(b.type) or pa.types.is_string(b.type)):
        return a.to_pylist() == b.to_pylist()
    ok = pc.or_(pc.fill_null(pc.equal(a, b), False), pc.and_(pc.is_null(a), pc.is_null(b)))
    if pa.types.is_floating(b.type):
        ok = pc.or_(ok, pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
    return pc.all(ok).as_py() is not False


def signature(table):
    """Order-insensitive digest; floats rounded to 9 significant digits."""
    def norm(v):
        return float(f"{v:.9g}") if isinstance(v, float) else v
    lines = sorted(repr(tuple(norm(v) for v in r.values())) for r in table.to_pylist())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def check_outputs(data, out, queries):
    """Per query: the reason its output is wrong, if it is."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(out, "invariant_sql.json")) as fh:
        invariants = json.load(fh)
    wrong = {}
    for q in queries:
        path = os.path.join(out, "check", q)
        if not os.path.isdir(path):
            continue  # the execution itself failed; recorded by the JVM
        con.sql(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{path}/*.parquet')")
        got = canon(con.sql("SELECT * FROM got"))
        if q in oracles:
            exp = canon(con.sql(oracles[q]))
            if got.column_names != exp.column_names:
                wrong[q] = f"columns {got.column_names} != oracle {exp.column_names}"
            elif got.num_rows != exp.num_rows:
                wrong[q] = f"{got.num_rows} rows != oracle {exp.num_rows}"
            else:
                bad = [c for c in exp.column_names if not same_column(got[c], exp[c])]
                if bad:
                    wrong[q] = f"values or row order differ from oracle in {bad}"
            continue
        if q not in invariants:
            wrong[q] = "no oracle and no invariants to check it by"
            continue
        broken = con.sql(invariants[q]).fetchall()
        last = os.path.join(out, "check-last", q)
        if broken:
            wrong[q] = f"{len(broken)} rows break its invariants, first {broken[0]}"
        elif not os.path.isdir(last):
            wrong[q] = "no output from the last pass"
        else:
            sig0 = signature(got)
            sig1 = signature(canon(con.sql(f"SELECT * FROM read_parquet('{last}/*.parquet')")))
            if sig0 != sig1:
                wrong[q] = f"signature {sig1} on the last pass != {sig0} on pass 0"
    return wrong


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def query_medians(execs):
    """Each query's median latency. A host stall lands on one query of
    one pass, and the per-query median drops it."""
    by_query = {}
    for e in execs:
        by_query.setdefault(e["query"], []).append(e["latency_s"])
    return [median(v) for v in by_query.values()]


def typical_pass(execs):
    """Time of one pass: the sum of the per-query median latencies."""
    return sum(query_medians(execs))


def typical_latency(execs):
    """p50 latency: the median of the per-query medians. The plain
    median of all samples falls between two queries' latencies whenever
    the sample count is even, and jumps with the order of those two."""
    return median(query_medians(execs))


def tail(lat):
    """The latency tail: the value at the highest percentile with ten
    samples beyond it. Below 21 samples none lies above the median, so
    only the maximum is printed."""
    s = sorted(lat)
    if len(s) < 21:
        return f"latency_tail_s n/a (needs 21 samples), max {s[-1] if s else 0:.4f} s"
    return f"latency_tail_s {s[-11]:.4f} s at p{100.0 * (len(s) - 10) / len(s):.1f}"


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(d) for f in fs
               if not os.path.islink(os.path.join(b, f)))


def timed(res, items):
    """The untraced items of the timed passes."""
    return [x for x in items if res["first_timed_pass"] <= x["pass"] <= res["last_timed_pass"] and not x["traced"]]


def end_to_end(res, spec, bad_queries):
    passes, execs = timed(res, res["passes"]), timed(res, res["executions"])
    ok = [e for e in execs if e["failure"] is None and e["query"] not in bad_queries]
    lat = [e["latency_s"] for e in ok]
    rows_q = [e["latency_s"] for e in ok if e["query"] == spec["rows_per_s"]["query"]]
    rows = spec["tables"][spec["rows_per_s"]["table"]]
    walls = ", ".join(f"{p['wall_s']:.2f}" for p in passes)
    return {
        "setup_s": (res["setup_s"], "s", f"from JVM start; session ready after {res['session_ready_s']:.3f} s"),
        "pass_s": (typical_pass(ok), "s", f"sum of per-query medians over {len(passes)} passes; pass wall times: {walls}"),
        "latency_p50_s": (typical_latency(ok), "s", f"{len(lat)} samples; {tail(lat)}"),
        "rows_per_s": (rows / median(rows_q) if rows_q else 0.0, "rows/s",
                       f"{rows} {spec['rows_per_s']['table']} rows / median "
                       f"{spec['rows_per_s']['query']} latency, {len(rows_q)} samples"),
        "retained_heap_mb": (max([p["retained_heap_mb"] for p in passes], default=0.0), "MB",
                             f"max over {len(passes)} passes"),
    }


def per_layer(res, spec, scratch_bytes):
    traced = [p["pass"] for p in res["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in timed(res, res["passes"])]
    by_pass = {p: [e for e in res["executions"] if e["pass"] == p] for p in traced}

    def per_pass(fn):
        return median([fn(by_pass[p]) for p in traced])

    def total(key):
        return per_pass(lambda es: sum(e["layers"][key] for e in es if e["layers"]))

    def peak(key):
        return per_pass(lambda es: max((e["layers"][key] for e in es if e["layers"]), default=0))

    def ratio(num, den):
        n, d = total(num), total(den)
        return n / d if d else 0.0

    cores = res["cores"]
    fits = [e["build_s"] for p in traced for e in by_pass[p] if e["query"] == "q_model_score"]
    wall_traced = median([p["wall_s"] for p in res["passes"] if p["traced"]])
    m = {
        "queries.build_s": (per_pass(lambda es: sum(e["build_s"] for e in es)), "s"),
        "queries.build_jobs": (total("build_jobs"), "count"),
        "ml.fit_s": (median(fits), "s"),
        "plans.plan_s": (per_pass(lambda es: sum(e["plan_s"] for e in es)), "s"),
        "plans.exchanges": (total("plan_exchanges"), "count"),
        "plans.group_topk_nodes": (total("plan_group_topk_nodes"), "count"),
        "exec.run_s": (per_pass(lambda es: sum(e["exec_s"] for e in es)), "s"),
        "exec.jobs": (total("exec_jobs"), "count"),
        "exec.stages": (total("exec_stages"), "count"),
        "exec.tasks": (total("exec_tasks"), "count"),
        "exec.one_task_stages": (total("exec_one_task_stages"), "count"),
        "exec.task_cpu_s": (total("exec_task_cpu_s"), "s"),
        "exec.task_run_s": (total("exec_task_run_s"), "s"),
        "exec.busy_ratio": (per_pass(lambda es: sum(e["layers"]["exec_task_cpu_s"] for e in es if e["layers"])
                                     / max(1e-9, cores * sum(e["exec_s"] for e in es))), "ratio"),
        "exec.task_wait_s": (total("exec_task_wait_s"), "s"),
        "exec.gc_s": (total("exec_gc_s"), "s"),
        "shuffle.write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "shuffle.records_written": (total("shuffle_records_written"), "count"),
        "shuffle.read_bytes": (total("shuffle_read_bytes"), "bytes"),
        "shuffle.fetch_wait_s": (total("shuffle_fetch_wait_s"), "s"),
        "shuffle.spill_bytes": (total("shuffle_spill_bytes"), "bytes"),
        "shuffle.skew": (peak("shuffle_skew"), "ratio"),
        "scan.input_bytes": (total("scan_input_bytes"), "bytes"),
        "scan.input_records": (total("scan_input_records"), "count"),
        "scan.parts_skipped_ratio": (ratio("scan_parts_skipped", "scan_parts_planned"), "ratio"),
        "sources.write_cmds": (total("write_cmds"), "count"),
        "sources.write_cmd_s": (total("write_cmd_s"), "s"),
        "sources.output_records": (total("write_records"), "count"),
        "sources.output_bytes": (total("write_bytes"), "bytes"),
        "streaming.batches": (total("stream_batches"), "count"),
        "streaming.empty_batch_ratio": (ratio("stream_empty_batches", "stream_batches"), "ratio"),
        "streaming.trigger_ms": (total("stream_trigger_ms"), "ms"),
        "streaming.add_batch_ms": (total("stream_add_batch_ms"), "ms"),
        "streaming.query_planning_ms": (total("stream_query_planning_ms"), "ms"),
        "streaming.wal_commit_ms": (total("stream_wal_commit_ms"), "ms"),
        "streaming.state_rows": (total("stream_state_rows"), "count"),
        "streaming.state_commit_ms": (total("stream_state_commit_ms"), "ms"),
        "streaming.state_memory_bytes": (total("stream_state_memory_bytes"), "bytes"),
        "pin.block_bytes_peak": (peak("pin_block_bytes_peak"), "bytes"),
        "scratch.bytes_left": (scratch_bytes, "bytes"),
        "trace.overhead_ratio": (wall_traced / median(untraced) if untraced else 0.0, "ratio"),
    }
    notes = {"scratch.bytes_left": "left when the JVM exited",
             "trace.overhead_ratio": f"{len(traced)} traced and {len(untraced)} untraced passes"}
    return {k: (v, u, notes.get(k, f"median over {len(traced)} traced passes")) for k, (v, u) in m.items()}


def self_times(spans):
    """Per span name: total duration and self time (duration minus the
    part covered by its children)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_s"]
    out = {}
    for s in spans:
        tot, self_ = out.get(s["name"], (0.0, 0.0))
        out[s["name"]] = (tot + s["dur_s"], self_ + s["dur_s"] - child.get(s["id"], 0.0))
    return out


# ----------------------------------------------------------------- main

with open(os.path.join(HERE, "workloads.json")) as _fh:
    WORKLOADS = json.load(_fh)["workloads"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec = WORKLOADS.get(args.workload) or fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a graft checkout")

    classpath = build()
    data, gen_s = inputs(args.workload, spec, args.seed)
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res, out = run_jvm(classpath, spec, args, data, run_dir)
        wrong = check_outputs(data, out, spec["queries"])
        scratch_bytes = dir_bytes(os.path.join(run_dir, "scratch"))
        os.makedirs(os.path.join(BUILD, "last"), exist_ok=True)
        shutil.copy(os.path.join(out, "result.json"),
                    os.path.join(BUILD, "last", f"{args.workload}-trace{args.trace}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    execs = res["executions"]
    failures = [e for e in execs if e["failure"] is not None]
    wrong_execs = [e for e in execs if e["failure"] is None and e["query"] in wrong]
    attempted, failed = len(execs), len(failures) + len(wrong_execs)

    print(f"workload {args.workload}: seed {args.seed}, {len(spec['queries'])} queries, "
          f"closed loop, 1 client, local[{res['cores']}], timed {res['timed_s']:.1f} s")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            print(f"  input {f[:-8]}: {spec['tables'].get(f[:-8])} rows, {os.path.getsize(os.path.join(data, f))} bytes")
    if gen_s is not None:
        print(f"  inputs generated in {gen_s:.1f} s (not part of setup_s)")
    for e in failures:
        f = e["failure"]
        print(f"  FAILED {e['query']} pass {e['pass']} in {f['phase']}: {f['class']}: {f['message']}")
    for q, why in sorted(wrong.items()):
        print(f"  WRONG {q}: {why}")
    print(f"  failed_ratio {failed / attempted:.4f} ratio ({failed} failed of {attempted} attempted)")

    if args.trace:
        metrics = per_layer(res, spec, scratch_bytes)
        for name, (tot, self_) in sorted(self_times(res["spans"]).items()):
            print(f"  span {name}: total {tot:.3f} s, self {self_:.3f} s")
    else:
        metrics = end_to_end(res, spec, wrong)
    for name, (v, unit, note) in metrics.items():
        print(f"  {name} {v:.6g} {unit} ({note})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
