#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 3 --trace 0

Run it from the repository root. It builds the engine and the benchmark
harness from source (once per source state, under `.bench_build/`), generates
the inputs from `--seed`, runs the workload in one fresh JVM
(`graft.perfbench.Main`), checks the outputs, and prints every end-to-end
metric by name and unit, then, as the last line, the result JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics. `--smoke` runs a tiny scale with few ops; the
benchmark's own tests (`perfbench/test_smoke.py`) use it. See
`perfbench/README.md` for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # one run must end within 180 s
ORACLE_TIMEOUT_S = 30
ORACLE_MEMORY = "4GB"

# scale factor of the base tables and size of the generated inputs
WORKLOADS = {
    "registry_mix": {"sf": 0.005},
    "etl_cdc": {"sf": 0.01, "ticks": 6, "change_frac": 0.02},
    "corpus_ingest": {"sf": 0.02, "ticks": 6, "batch": 40},
}
SMOKE = {
    "registry_mix": {"sf": 0.001},
    "etl_cdc": {"sf": 0.001, "ticks": 3, "change_frac": 0.05},
    "corpus_ingest": {"sf": 0.001, "ticks": 3, "batch": 12},
}

# the JVM options `spark-submit` would add for Spark on JDK 17; the root
# build.sbt passes the same list to its forked runs
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def require_sources():
    needed = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
              "perfbench/build.sbt", "BENCHMARK.json"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)}); "
            "run from the repository root")
        sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the harness classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark harness (sbt)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(ROOT, "perfbench"), env=env,
                       stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log("build failed:\n" + "\n".join((p.stdout + p.stderr).splitlines()[-40:]))
        sys.exit(3)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def base_data(sf):
    """The base tables at scale `sf`, generated once per checkout."""
    path = os.path.join(BUILD, "data", f"sf{sf}")
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.base_tables(tmp, sf)
        os.replace(tmp, path)
    return path


def heap():
    """Spark driver heap sized like the repository's test command: half of
    MemTotal, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# --- output checks ---------------------------------------------------------------

def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{ORACLE_MEMORY}'")
    con.execute("SET enable_progress_bar=false")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    return con


def same_frame(got, exp):
    """Exact comparison as the engine's oracle gate makes it: columns by
    name, rows by value, no float tolerance. Returns an error or None."""
    import pandas as pd
    got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    cols = list(got.columns)
    got = got.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    exp = exp.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    for df in (got, exp):
        for c in df.columns:
            if str(df[c].dtype) in ("int8", "int16", "int32", "uint8",
                                    "uint16", "uint32"):
                df[c] = df[c].astype("int64")
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=True,
                                      check_exact=True)
    except AssertionError as e:
        return str(e).replace("\n", " | ")[:300]
    return None


def _oracle_worker(conn, data_dir, work, todo):
    import pickle
    con = duck(data_dir)
    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)
    for name, sql in todo:
        try:
            got = con.execute(f"SELECT * FROM '{work}/check/{name}/*.parquet'").fetchdf()
            # the base tables are fixed, so an oracle's result is too: keep
            # it per (tables, SQL) for the later runs of this checkout
            key = hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()
            path = os.path.join(cache, f"{key}.pkl")
            if os.path.exists(path):
                with open(path, "rb") as f:
                    exp = pickle.load(f)
            else:
                exp = con.execute(sql).fetchdf()
                with open(path + ".tmp", "wb") as f:
                    pickle.dump(exp, f)
                os.replace(path + ".tmp", path)
            conn.send((len(got), same_frame(got, exp)))
        except Exception as e:  # noqa: BLE001 - any failure fails the query
            conn.send((0, f"exec error: {e}"[:300]))


def check_registry(data_dir, work, out, deadline):
    """Each sampled query's result against its DuckDB oracle. Returns the
    failing queries (name -> why) and each query's result row count. The
    oracles run in a child process, so one that does not finish in time
    fails its query instead of stalling the run."""
    import multiprocessing
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    bad, rows = dict(out["output"]["check_errors"]), {}
    for name in out["output"]["sample"]:
        if name not in bad and name not in oracle:
            bad[name] = "no oracle SQL"
    todo = [(n, oracle[n]) for n in out["output"]["sample"] if n not in bad]
    while todo:
        parent, child = multiprocessing.Pipe()
        worker = multiprocessing.Process(target=_oracle_worker,
                                         args=(child, data_dir, work, todo))
        worker.start()
        while todo:
            wait = min(ORACLE_TIMEOUT_S, deadline - time.time())
            name = todo.pop(0)[0]
            if not parent.poll(max(wait, 0)):
                bad[name] = "oracle did not finish in time"
                worker.kill()
                break
            rows[name], err = parent.recv()
            if err:
                bad[name] = err
        worker.join()
    return bad, rows


def check_etl(expected, out):
    """Both target tables against the last-write-wins state the generator
    knows by construction. Returns the failing ticks -> why."""
    import duckdb
    orders, lines, applied = expected
    done = [o["detail"]["tick"] for o in out["ops"] if o["ok"]]
    for t in done:
        orders.update(applied[t][0])
        lines.update(applied[t][1])
    bad = {}
    for name, want, nkey, cols in [("orders", orders, 1, gen.ORDER_COLS),
                                   ("lineitem", lines, 2, gen.LINE_COLS)]:
        path = out["output"]["targets"][name]
        got = {tuple(r[:nkey]): tuple(r) for r in duckdb.connect().execute(
            f"SELECT {', '.join(cols)} FROM '{path}/*/*.parquet'").fetchall()}
        wrong = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
        if not wrong:
            continue
        why = f"{name}: {len(wrong)} keys differ, e.g. {sorted(wrong)[:3]}"
        hit = [t for t in done if wrong & set(applied[t][0 if nkey == 1 else 1])]
        for t in hit or done[-1:]:
            bad[f"tick_{t}"] = why
    return bad


def check_corpus(plan, out):
    """Verdict bookkeeping per ingest: planted exact re-deliveries are exact
    dups and the verdicts add up to the rows in; the replayed batch ingests
    nothing; no store holds a row of an erased subject."""
    bad = {}
    for o in out["ops"]:
        d, name = o["detail"], o["name"]
        if not o["ok"]:
            continue
        if o["kind"] == "erase":
            if d["subjects"] != plan["erase"]["subjects"] or d["left"] != 0:
                bad[name] = f"erase left {d['left']} rows of {d['subjects']} subjects"
            continue
        p = plan["replay"] if name == "replay" else plan["ticks"][int(name[5:])]
        if d["rows_in"] != p["rows"] or d["exact"] + d["near"] + d["unique"] != d["rows_in"]:
            bad[name] = f"verdicts do not add up: {d}"
        elif name == "replay" and (d["unique"] or d["vectors"]):
            bad[name] = f"replayed batch ingested docs: {d}"
        elif name != "replay" and d["exact"] != p["exact"]:
            bad[name] = f"exact dups {d['exact']} != planted {p['exact']}"
    return bad


# --- metrics ---------------------------------------------------------------------

def percentile_beyond(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it, and
    its value (the median when there are too few samples)."""
    s = sorted(xs)
    n = len(s)
    if n < 2 * beyond:
        return 50.0, statistics.median(s)
    k = n - beyond - 1
    return 100.0 * (k + 1) / n, s[k]


def metrics(out, failing, rows_of):
    ops = out["ops"]
    cold = [o for o in ops if o["phase"] == "cold"]
    steady = [o for o in ops if o["phase"] == "steady"]
    traced = [o for o in ops if o["phase"] == "traced"]

    def failed(o):
        return not o["ok"] or o["name"] in failing

    def rate(os_, f):
        busy = sum(o["seconds"] for o in os_)
        return sum(f(o) for o in os_) / busy if busy > 0 else 0.0

    attempted, n_failed = len(ops), sum(failed(o) for o in ops)
    tail_pct, tail = percentile_beyond([o["seconds"] for o in steady])
    e2e = {
        "setup_s": sum(out["setup"].values()),
        "cold_pass_s": sum(o["seconds"] for o in cold),
        "op_p50_s": statistics.median(o["seconds"] for o in steady),
        "ops_per_s": rate(steady, lambda o: 1),
        "rows_per_s": rate(steady, rows_of),
        "failed_frac": n_failed / attempted,
        "storage_mb": out["output"]["storage_mb"],
        "table_mb": out["output"]["table_mb"],
    }
    if len(steady) >= 100:
        e2e["op_p90_s"] = sorted(o["seconds"] for o in steady)[int(0.9 * len(steady)) - 1]
    layers = dict(out["layers"])
    layers.update({
        "op_tail_s": tail, "op_tail_pct": tail_pct,
        "rows_per_s": e2e["rows_per_s"], "failed_frac": e2e["failed_frac"],
        "storage_mb": e2e["storage_mb"], "table_mb": e2e["table_mb"],
        "setup.session_s": out["setup"]["session_s"],
    })
    if traced:
        layers["trace.op_p50_delta_s"] = (
            statistics.median(o["seconds"] for o in traced) - e2e["op_p50_s"])
        layers["trace.ops_per_s_delta"] = rate(traced, lambda o: 1) - e2e["ops_per_s"]
    return e2e, layers, attempted, n_failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    require_sources()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    t0 = time.time()
    cfg = (SMOKE if args.smoke else WORKLOADS)[args.workload]
    data = base_data(cfg["sf"])

    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    for d in (inputs, work, os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    try:
        expected = None
        if args.workload == "etl_cdc":
            expected = gen.etl_ticks(os.path.join(inputs, "etl"), data, args.seed,
                                     cfg["ticks"], cfg["change_frac"])
        elif args.workload == "corpus_ingest":
            expected = gen.corpus_ticks(os.path.join(inputs, "corpus"), data,
                                        args.seed, cfg["ticks"], cfg["batch"])
        log(f"inputs ready after {time.time() - t0:.1f} s")
        out_json = os.path.join(run_dir, "out.json")
        cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={run_dir}/tmp"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", classpath, "graft.perfbench.Main", args.workload,
                str(args.seed), str(args.seconds), str(args.trace), data, inputs,
                work, out_json, str(cpus()), "1" if args.smoke else "0"])
        with open(os.path.join(run_dir, "jvm.log"), "w") as jvm_log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                    stdout=jvm_log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t0)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out_json):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                log(f"engine run failed ({rc}):\n" + "".join(f.readlines()[-40:]))
            sys.exit(4)
        with open(out_json) as f:
            out = json.load(f)
        log(f"engine run done after {time.time() - t0:.1f} s")

        if args.workload == "registry_mix":
            failing, result_rows = check_registry(data, work, out,
                                                  t0 + DEADLINE_S)
            rows_of = lambda o: result_rows.get(o["name"], 0)  # noqa: E731
        elif args.workload == "etl_cdc":
            failing, rows_of = check_etl(expected, out), lambda o: o["rows"]
        else:
            failing, rows_of = check_corpus(expected, out), lambda o: o["rows"]
        for what, why in sorted(failing.items(), key=str):
            log(f"check failed: {what}: {why}")
        for o in out["ops"]:
            if not o["ok"]:
                log(f"op failed: {o['name']}: {o['error']}")
        e2e, layers, attempted, n_failed = metrics(out, failing, rows_of)
        log(f"checks done after {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = {"setup_s": "s", "cold_pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
             "ops_per_s": "1/s", "rows_per_s": "1/s", "failed_frac": "ratio",
             "storage_mb": "MB", "table_mb": "MB"}
    n_steady = sum(o["phase"] == "steady" for o in out["ops"])
    print(f"{args.workload} seed={args.seed} steady ops={n_steady} "
          f"attempted={attempted} failed={n_failed}")
    print("  setup parts: " + ", ".join(f"{k}={v:.2f}" for k, v in out["setup"].items()))
    print("  op seconds: " + " ".join(f"{o['phase'][0]}:{o['seconds']:.2f}" for o in out["ops"]))
    for k, v in e2e.items():
        print(f"  {k:<12} {v:>14.6f} {units[k]}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    source = layers if args.trace else e2e
    # a layer this workload does not exercise reports 0
    result = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
              for m in wanted}
    print(json.dumps({"correct": not failing, "attempted": attempted,
                      "failed": n_failed, "metrics": result}))


if __name__ == "__main__":
    main()
