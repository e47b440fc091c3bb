#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client over the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) and writes the sf0.1 tables; both are
cached under .perfbench/ and rebuilt when their sources change. Each run
starts one JVM on the production session recipe, sets the session up
several times, runs an untimed warm-up, clears storage and times one pass
over the workload's seeded ops (connector streams are sized to --seconds;
a traced run times a cold, a warm and a traced pass). Every op's output
is then checked against DuckDB outside the timed region. The last stdout
line is the JSON result; the lines above it give each metric with its
unit and sample count.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import ops as opgen  # noqa: E402
import tracecheck  # noqa: E402

DATA_SEED = 42
SETUPS = 5
JVM_TIMEOUT_S = 160
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# per_layer metrics that are not sums over the traced ops
LAYER_MAX = {"memo.persisted_rdds", "memo.storage_bytes"}


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile engine + harness with sbt (cached by a digest of the sources);
    returns the runtime classpath."""
    bench = os.path.join(root, "perfbench")
    digest = tree_digest([os.path.join(root, "src", "main"), os.path.join(bench, "src"),
                          os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")])
    stamp = os.path.join(state, "build", "stamp")
    cp_file = os.path.join(state, "build", "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx3g"
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile; export Runtime/fullClasspath"],
                       cwd=bench, env=env, capture_output=True, text=True, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if "perfbench" in ln and "classes" in ln and ":" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("sbt build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def ensure_data(state):
    import gendata
    digest = tree_digest([os.path.join(HERE, "gendata.py")]) + str(DATA_SEED)
    d = os.path.join(state, "data", "sf0.1")
    stamp = os.path.join(state, "data", "stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        log("generating sf0.1 tables")
        shutil.rmtree(d, ignore_errors=True)
        gendata.write(d, DATA_SEED)
        with open(stamp, "w") as f:
            f.write(digest)
    return d


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, main, inv, config):
    cfg_path = os.path.join(inv, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(config, f)
    tmp = os.path.join(inv, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, GRAFT_STAGE_DIR=os.path.join(inv, "stage"))
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, main, cfg_path]
    with open(os.path.join(inv, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=inv, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0:
        tail = open(os.path.join(inv, "jvm.log")).read()[-3000:]
        sys.stderr.write(tail)
        fail(f"harness JVM {'timed out' if rc is None else f'exited with {rc}'}")


def load_checker(root):
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def sort_key(row):
    return tuple((v is None, repr(type(v)), v if v is not None else 0) for v in row)


def compare(check, spark_tbl, duck_tbl):
    """check.py's comparison: columns by name, rows in order or as a
    multiset, values exact, type classes equal. Returns None or a reason."""
    sc, srows = check.rows_of(spark_tbl)
    dc, drows = check.rows_of(duck_tbl)
    if sc != dc:
        return f"columns differ spark={sc} duck={dc}"
    if len(srows) != len(drows):
        return f"row count spark={len(srows)} duck={len(drows)}"
    tdiffs = check.type_diffs(spark_tbl, duck_tbl)
    if tdiffs:
        return f"type classes differ: {tdiffs}"
    if srows == drows or sorted(srows, key=sort_key) == sorted(drows, key=sort_key):
        return None
    diff = [(a, b) for a, b in zip(sorted(srows, key=sort_key), sorted(drows, key=sort_key)) if a != b][:2]
    return f"values differ, first: {diff}"


def check_outputs(root, data_dir, result, ops_by_id):
    """Check each op's output once against DuckDB; returns (checked, wrong list)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    check = load_checker(root)
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    checked, wrong = 0, []
    for c in result["checks"]:
        if not c["ok"]:
            continue
        checked += 1
        op = ops_by_id[c["id"]]
        sql = op.get("sql") or c.get("oracle")
        if c.get("full_output") is False:
            wrong.append((c["id"], "timed action dropped output columns"))
            continue
        if not sql:
            wrong.append((c["id"], "no oracle SQL"))
            continue
        if not c.get("output"):
            wrong.append((c["id"], f"output not materialised: {c.get('check_error')}"))
            continue
        try:
            files = sorted(f for f in os.listdir(c["output"]) if f.endswith(".parquet"))
            spark_tbl = pa.concat_tables([pq.read_table(os.path.join(c["output"], f)) for f in files])
            why = compare(check, spark_tbl, con.execute(sql).fetch_arrow_table())
        except Exception as e:  # a broken oracle or output is a wrong op, not a crash
            why = f"{type(e).__name__}: {e}"
        if why:
            wrong.append((c["id"], why))
    return checked, wrong


def pct(values, p):
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def layer_metrics(result, trace, spec_units):
    ops = trace["ops"]
    out = {}
    for name in spec_units:
        if name == "session.build_ms":
            v = statistics.median(result["session_build_ms"])
        elif name == "session.cold_setup_ms":
            v = result["setup_s"][0] * 1000.0
        elif name.endswith(".self_ms"):
            layer = name[:-len(".self_ms")]
            v = sum(o["self_us"].get(layer, 0) for o in ops) / 1000.0
        elif name == "exec.core_idle_share":
            run = sum(o["metrics"]["exec.task_run_ms"] for o in ops)
            wall = sum(o["wall_us"] for o in ops) / 1000.0
            v = 1.0 - run / (wall * trace["cpus"]) if wall else 0.0
        elif name.startswith("trace."):
            walls = {p["traced"]: p["wall_s"] for p in result["passes"]}
            v = {"trace.wall_s": walls[True], "trace.untraced_wall_s": walls[False],
                 "trace.overhead_share": walls[True] / walls[False] - 1.0}[name]
        elif name in LAYER_MAX:
            v = max(o["metrics"][name] for o in ops)
        else:
            v = sum(o["metrics"][name] for o in ops)
        out[name] = v
    return out


def run(args, root):
    spec = json.load(open(os.path.join(HERE, "spec.json")))
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    bench = {k: {m["name"]: m for m in bench[k]} for k in ("end_to_end", "per_layer")}
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; have {sorted(spec['workloads'])}")
    state = os.path.join(root, ".perfbench")
    classpath = build(root, state)
    data_dir = ensure_data(state)
    ops = opgen.generate(args.workload, args.seed, spec, args.seconds)
    warm = opgen.warmup(args.workload, spec)
    inv = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(inv, ignore_errors=True)
    os.makedirs(inv)
    try:
        run_jvm(classpath, "perfbench.Harness", inv, {
            "data_dir": data_dir, "out_dir": os.path.join(inv, "out"),
            "passes": [False, False, True] if args.trace else [False], "cpus": cpus(),
            "setups": SETUPS, "warmup": warm, "ops": ops})
        out = os.path.join(inv, "out")
        result = json.load(open(os.path.join(out, "result.json")))
        by_id = {o["id"]: o for o in ops}
        t_check = time.time()
        checked, wrong = check_outputs(root, data_dir, result, by_id)
        phases = dict(result["phase_s"], duckdb=time.time() - t_check)
        timed = [o for p in result["passes"] if not p["traced"] for o in p["ops"]]
        failed = [o for o in timed if not o["ok"]]
        lat = [o["latency_ms"] for o in timed if o["ok"]]
        walls = [p["wall_s"] for p in result["passes"] if not p["traced"]]
        problems = []
        if args.trace:
            trace = json.load(open(os.path.join(out, "trace.json")))
            problems = tracecheck.check(trace, [m for m in bench["per_layer"] if "." in m])
            metrics = layer_metrics(result, trace, bench["per_layer"])
            units = bench["per_layer"]
            for o in trace["ops"]:
                top = sorted(o["self_us"].items(), key=lambda kv: -kv[1])[:3]
                print(f"op {o['id']} {o['name']} wall_ms={o['wall_us'] / 1000:.1f} self_ms="
                      + ",".join(f"{k}:{v / 1000:.1f}" for k, v in top))
            trace_copy = os.path.join(state, "traces", f"{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(trace_copy), exist_ok=True)
            shutil.copyfile(os.path.join(out, "trace.json"), trace_copy)
            print(f"trace written to {os.path.relpath(trace_copy, root)}")
        else:
            metrics = {
                "setup_s": statistics.median(result["setup_s"]),
                "wall_s": statistics.median(walls),
            }
            units = bench["end_to_end"]
        # printed for reading, not gated: a run holds 3 to 20 ops, too few
        # for a per-op percentile that holds still from seed to seed (p90
        # has fewer than ten samples beyond it), and storage and the
        # failure and wrong-output shares are 0 on a healthy run
        extra = {
            "op_p50_ms": statistics.median(lat) if lat else 0.0,
            "op_p90_ms": pct(lat, 0.9) if lat else 0.0,
            "storage_peak_mb": max((o["storage_bytes"] for o in timed), default=0) / 1e6,
            "failed_share": len(failed) / len(timed),
            "wrong_share": len(wrong) / checked if checked else 0.0,
        }
        counts = {"setup_s": len(result["setup_s"]), "wall_s": len(walls)}
        for o in failed:
            print(f"failed {o['id']}: {o['error']}")
        for i, why in wrong:
            print(f"wrong {i}: {why[:400]}")
        for p in problems:
            print(f"trace problem: {p}")
        print(f"workload={args.workload} seed={args.seed} trace={args.trace} cpus={cpus()} "
              f"ops={len(timed)} passes={len(walls)} checked={checked}")
        print("phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))
        for k, v in metrics.items():
            print(f"{k} = {v:.6g} {units[k]['unit']} (n={counts.get(k, len(trace['ops']) if args.trace else 1)})")
        extra_units = {"op_p50_ms": "ms", "op_p90_ms": "ms", "storage_peak_mb": "MB"}
        for k, v in extra.items():
            print(f"{k} = {v:.6g} {extra_units.get(k, 'ratio')} (n={len(lat) if k.startswith('op_') else len(timed)})")
        print(json.dumps({
            "correct": not wrong and not problems, "attempted": len(timed), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]["unit"]} for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(inv, ignore_errors=True)


def selftest(root):
    """Seed determinism, trace checker and column-materialisation self-tests."""
    spec = json.load(open(os.path.join(HERE, "spec.json")))
    errors = []
    for w in spec["workloads"]:
        if json.dumps(opgen.generate(w, 7, spec)) != json.dumps(opgen.generate(w, 7, spec)):
            errors.append(f"{w}: the same seed gave different ops")
        # a two-query list has two orders, so look across several seeds
        if len({json.dumps(opgen.generate(w, s, spec)) for s in range(1, 9)}) < 2:
            errors.append(f"{w}: different seeds gave the same ops")
    errors += [f"trace checker: {e}" for e in tracecheck.selftest()]
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if {m["name"] for m in bench["per_layer"]} != set(spec["layers"]):
        errors.append("BENCHMARK.json per_layer and spec.json layers name different metrics")
    if {w["name"] for w in bench["workloads"]} != set(spec["workloads"]):
        errors.append("BENCHMARK.json and spec.json name different workloads")
    state = os.path.join(root, ".perfbench")
    classpath = build(root, state)
    data_dir = ensure_data(state)
    inv = os.path.join(state, "runs", f"selftest-{os.getpid()}")
    os.makedirs(inv, exist_ok=True)
    try:
        run_jvm(classpath, "perfbench.PruneCheck", inv,
                {"data_dir": data_dir, "out_dir": os.path.join(inv, "out"), "cpus": cpus(),
                 "query": "q_agg_q1"})
        r = json.load(open(os.path.join(inv, "out", "prune.json")))
        print(f"q_agg_q1: df columns {len(r['df_cols'])}, noop write keeps {len(r['noop_cols'])} "
              f"columns and {r['noop_aggs']} aggregates, count() keeps {r['count_aggs']} aggregates")
        if r["noop_cols"] != r["df_cols"]:
            errors.append("the noop write dropped output columns")
        if not r["count_aggs"] < r["noop_aggs"]:
            errors.append("count() did not prune the aggregates; the self-test lost its contrast")
    finally:
        shutil.rmtree(inv, ignore_errors=True)
    for e in errors:
        print(f"FAIL {e}")
    print("selftest " + ("FAILED" if errors else "passed"))
    return 1 if errors else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    for need in (os.path.join("src", "main", "scala", "graft"), os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if args.selftest:
        sys.exit(selftest(root))
    if not args.workload:
        fail("--workload is required")
    run(args, root)


if __name__ == "__main__":
    main()
