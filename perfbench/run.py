#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the harness and
the library from source with sbt (offline) and evaluates every workload's
DuckDB oracle SQL; both are kept under `.perfbench/` (and the sbt `target/`
directories) and redone only when the sources change.

A run: two set-up-only launches of the harness JVM, then the measured
launch, which sets up, dumps every query's result once for the output check,
warms up and runs timed passes for `--seconds`. The dumps are compared with
the oracle results by the rule of the repository's `tools/check_oracle.py`.
The first stdout line is the run's context as JSON; the last is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. Spans of a
traced run are left in `.perfbench/run/out/spans.jsonl`.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import metrics as M

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
HARNESS = HERE / "harness"
FIXTURES = HERE / "fixtures"
HEAP = "3g"
SETUP_PROBES = 2  # set-up-only launches per run, beside the measured one
RUN_BUDGET_S = 170  # a run after the build must end within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and waited for. Returns the exit code."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError("%s timed out after %.0f s" % (Path(cmd[0]).name, timeout))


def digest(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else p.encode())
    return h.hexdigest()


# ---------------------------------------------------------------- build

def source_stamp():
    """Digest of every input of the build; a change triggers a rebuild."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS):
        files += [p for p in base.rglob("*")
                  if p.is_file() and "target" not in p.relative_to(base).parts]
    return digest(*[x for p in sorted(files)
                    for x in (str(p.relative_to(ROOT)), p.read_bytes())])


def build():
    """Compiles the harness and the library unless the build is current.
    Returns the runtime classpath and whether it was rebuilt."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                 ROOT / "tools" / "check_oracle.py"):
        if not need.exists():
            raise BenchError("not a graft checkout: %s is missing" % need.relative_to(ROOT))
    out = WORK / "build"
    out.mkdir(parents=True, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = out / "classpath.txt", out / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text(), False
    if shutil.which("sbt") is None:
        raise BenchError("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log("building harness and library with sbt (first run in this checkout)")
    t0 = time.time()
    with open(out / "sbt.log", "w") as sbt_log:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], 840,
                      cwd=HARNESS, env=env, stdout=sbt_log, stderr=subprocess.STDOUT)
    lines = [ln for ln in (out / "sbt.log").read_text().splitlines()
             if "scala-2.13" in ln and not ln.startswith("[")]
    if rc != 0 or not lines:
        raise BenchError("sbt build failed, see %s" % (out / "sbt.log"))
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    log("build took %.0f s" % (time.time() - t0))
    return lines[-1].strip(), True


# ---------------------------------------------------------------- harness

def java_cmd(classpath, jvm_opts, args):
    java = shutil.which("java") or str(Path(os.environ.get("JAVA_HOME", "")) / "bin" / "java")
    # no hsperfdata file in the system temp dir: a run writes only in the checkout
    cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", mod + "=ALL-UNNAMED"]
    return cmd + jvm_opts + ["-cp", classpath, "perfbench.Harness"] + args


def query_order(workload, seed):
    """The seed fixes the order the workload's queries run in."""
    order = list(workload["queries"])
    random.Random("%s:%d" % (workload["name"], seed)).shuffle(order)
    return order


def launch(classpath, workload, order, run_dir, seconds, trace, setup_only, deadline):
    """Starts one harness JVM and waits for it. Returns its result.json with
    `setup_s`, process start to ready, added."""
    out_dir = run_dir / "out"
    for d in (run_dir / "tmp", run_dir / "local", out_dir):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    args = ["--queries", ",".join(order), "--sf-dir", str(FIXTURES / workload["sf"]),
            "--out-dir", str(out_dir), "--seconds", str(seconds),
            "--trace", "1" if trace else "0"]
    args += ["--setup-only"] if setup_only else ["--dump-dir", str(run_dir / "dump")]
    cmd = java_cmd(classpath, ["-Djava.io.tmpdir=" + str(run_dir / "tmp"),
                               "-Dspark.local.dir=" + str(run_dir / "local"),
                               "-Dspark.sql.warehouse.dir=" + str(run_dir / "warehouse")], args)
    with open(run_dir / "harness.log", "a") as err:
        t0 = time.time()
        rc = run_proc(cmd, deadline - t0, cwd=run_dir, stdout=err, stderr=err)
    if rc != 0 or not (out_dir / "result.json").exists():
        raise BenchError("harness exited with %d; see %s" % (rc, run_dir / "harness.log"))
    res = json.loads((out_dir / "result.json").read_text())
    res["setup_s"] = res["ready_epoch_ms"] / 1000.0 - t0
    return res


# ---------------------------------------------------------------- output check

def check_oracle():
    """The repository's tools/check_oracle.py, whose rule the check uses."""
    tools = str(ROOT / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle as co
    return co


def oracle_index(classpath, workload, rebuild):
    """Expected results of the workload's oracled queries, evaluated by DuckDB
    over the fixtures once per checkout and kept under .perfbench/oracle/
    (keyed by SQL text and fixture bytes). Returns {query: pickle path}."""
    out = WORK / "oracle"
    index_file = out / ("%s.json" % workload["name"])
    if index_file.exists() and not rebuild:
        return json.loads(index_file.read_text())
    import duckdb
    out.mkdir(parents=True, exist_ok=True)
    sql_file = out / ("%s.sql.json" % workload["name"])
    rc = run_proc(java_cmd(classpath, [], ["--oracle-sql", str(sql_file),
                                           "--queries", ",".join(workload["queries"])]),
                  120, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if rc != 0:
        raise BenchError("could not read the oracle SQL of %s" % workload["name"])
    sqls = json.loads(sql_file.read_text())
    sf_dir = FIXTURES / workload["sf"]
    fixture_key = digest(*[p.read_bytes() for p in sorted(sf_dir.glob("*.parquet"))])
    con = duckdb.connect()
    for t in check_oracle().TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf_dir, t))
    index = {}
    for name, sql in sorted(sqls.items()):
        path = out / ("%s-%s.pkl" % (name, digest(fixture_key, sql)[:16]))
        if not path.exists():
            log("evaluating oracle SQL of %s" % name)
            con.sql(sql).df().to_pickle(path)
        index[name] = str(path)
    index_file.write_text(json.dumps(index))
    return index


def differs(want, got):
    """The comparison of tools/check_oracle.py: same columns after sorting
    their names, same row count, every cell equal by its cell_eq."""
    co = check_oracle()
    want, got = co.norm(want), co.norm(got)
    if list(want.columns) != list(got.columns):
        return "columns want=%s got=%s" % (list(want.columns), list(got.columns))
    if len(want) != len(got):
        return "rows want=%d got=%d" % (len(want), len(got))
    for i in range(len(want)):
        for c in want.columns:
            a, b = want[c].iloc[i], got[c].iloc[i]
            if not co.cell_eq(a, b):
                return "row %d col %s: oracle=%r spark=%r" % (i, c, a, b)
    return None


def check_outputs(workload, dump_dir, oracles):
    """Checks every dumped result: equal to the DuckDB oracle where the query
    has oracle SQL, non-empty otherwise. Returns ({query: problem},
    {query: result rows})."""
    import pandas as pd
    problems, rows = {}, {}
    for q in workload["queries"]:
        try:
            got = pd.read_parquet(dump_dir / q)
        except Exception as e:  # no dump: the query failed in the output pass
            problems[q] = "no result: %s" % str(e).splitlines()[0]
            continue
        rows[q] = len(got)
        if q in oracles:
            bad = differs(pd.read_pickle(oracles[q]), got)
            if bad:
                problems[q] = bad
        elif len(got) == 0:
            problems[q] = "empty result"
    return problems, rows


def tally(queries, res, problems):
    """Attempted and failed query executions. Each query counts once in the
    output pass, failed if it threw or its result is wrong, and once per
    execution in the warm and timed passes, failed if it threw. Returns
    (attempted, failed, {failing query: first reason})."""
    failing = dict(problems)
    for name, err in res["check"]["failed"].items():
        failing.setdefault(name, err)
    errors = [q for q in res["queries"] if q["error"]]
    for q in errors:
        failing.setdefault(q["name"], q["error"])
    checked_bad = set(problems) | set(res["check"]["failed"])
    return len(queries) + len(res["queries"]), len(checked_bad) + len(errors), failing


# ---------------------------------------------------------------- metrics

def host_context():
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return nproc, load1


def of_kind(items, kind):
    return [x for x in items if x["kind"] == kind]


def pass_s(passes):
    return M.median([(p["end"] - p["start"]) / 1000.0 for p in passes])


def end_to_end(res, setups, attempted, failed):
    lat = [(q["sink_end"] - q["start"]) / 1000.0 for q in of_kind(res["queries"], "plain")]
    p50, p90 = M.percentile(lat, 50), M.percentile(lat, 90)
    return {
        "setup_s": M.median(setups),
        "pass_s": pass_s(of_kind(res["passes"], "plain")),
        "query_p50_s": p50["value"],
        "query_p90_s": p90["value"],
        "query_ok_ratio": 1.0 - M.fail_ratio(attempted, failed),
        "heap_peak_mb": max(res["check"]["heap_bytes"].values()) / 2**20,
    }, p50["n"]


def per_layer(res, spans, rows, n_queries):
    by_q = {}
    for s in spans:
        by_q.setdefault(s["qid"], []).append(s)
    per_query = [M.query_layers(v) for v in by_q.values()]
    over = [q["name"] for q in per_query if q["self_sum_ms"] > q["wall_ms"] + 1e-6]
    if over:
        raise BenchError("span self times exceed wall time for %s" % over)
    layers, kinds = M.aggregate_layers(per_query, rows)
    traced, plain = of_kind(res["passes"], "traced"), of_kind(res["passes"], "plain")
    n_traced = len(of_kind(res["queries"], "traced"))
    layers.update({
        "graft.init_ms": res["init_ms"],
        "codegen.compiles": sum(p["compiles"] for p in traced) / n_traced,
        "codegen.compile_ms": sum(p["compile_ns"] for p in traced) / 1e6 / n_traced,
        "codegen.cold_compiles": res["check"]["compiles"] / n_queries,
        "codegen.cold_compile_ms": res["check"]["compile_ns"] / 1e6 / n_queries,
        "trace.pass_s": pass_s(traced),
        "trace.overhead_ratio": pass_s(traced) / pass_s(plain),
    })
    return layers, kinds


def spec_metrics():
    """Metric names and units, from BENCHMARK.json at the checkout root."""
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run(args):
    spec = json.loads((HERE / "workloads.json").read_text())
    workloads = {w["name"]: w for w in spec["workloads"]}
    if args.workload not in workloads:
        raise BenchError("unknown workload %r (have %s)" % (args.workload, sorted(workloads)))
    wl = workloads[args.workload]
    nproc, load_start = host_context()
    classpath, rebuilt = build()
    if rebuilt:  # evaluate every workload's oracles now, while building
        for w in spec["workloads"]:
            oracle_index(classpath, w, True)
    oracles = oracle_index(classpath, wl, False)
    deadline = time.time() + RUN_BUDGET_S
    order = query_order(wl, args.seed)
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    setups = [launch(classpath, wl, order, run_dir, args.seconds, args.trace, True,
                     deadline)["setup_s"] for _ in range(SETUP_PROBES)]
    res = launch(classpath, wl, order, run_dir, args.seconds, args.trace, False, deadline)
    setups.append(res["setup_s"])
    problems, rows = check_outputs(wl, run_dir / "dump", oracles)
    attempted, failed, failing = tally(wl["queries"], res, problems)
    _, load_end = host_context()

    e2e, n_lat = end_to_end(res, setups, attempted, failed)
    if args.trace:
        spans = [json.loads(ln) for ln in
                 (run_dir / "out" / "spans.jsonl").read_text().splitlines()]
        values, kinds = per_layer(res, spans, rows, len(wl["queries"]))
        units = {m["name"]: m["unit"] for m in spec_metrics()["per_layer"]}
    else:
        values, kinds = e2e, {}
        units = {m["name"]: m["unit"] for m in spec_metrics()["end_to_end"]}
    missing = [k for k in units if values.get(k) is None]
    if missing:
        raise BenchError("no value for %s" % missing)

    info = {
        "workload": wl["name"], "seed": args.seed, "trace": args.trace,
        "sf": wl["sf"], "order": order,
        "host": {"nproc": nproc, "loadavg1_start": load_start, "loadavg1_end": load_end,
                 "heap": "-Xms%s -Xmx%s" % (HEAP, HEAP)},
        "passes": len(of_kind(res["passes"], "plain")),
        "traced_passes": len(of_kind(res["passes"], "traced")),
        "latency_samples": n_lat,
        "setup_samples_s": setups,
        "query_fail_ratio": M.fail_ratio(attempted, failed),
        "failing_queries": failing,
        "untraced": e2e,
    }
    if kinds:
        info["query_kinds"] = kinds
    print(json.dumps(info, sort_keys=True))
    for k in units:
        print("%-28s %14.6g %s" % (k, values[k], units[k]))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except (BenchError, subprocess.SubprocessError, OSError, ValueError, KeyError) as e:
        log("error: %s" % e)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
