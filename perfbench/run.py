"""Benchmark runner.

    python3 perfbench/run.py --workload <etl_parquet|etl_jdbc|curate> --seed <n>
                             --seconds <s> --trace <0|1> [--smoke]

Builds the program and the harness if needed (perfbench/build.py), runs one
workload in a fresh JVM sized to this machine, checks the outputs, prints
each metric with its unit and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones. The
full record of the run (host, samples, failures) is written to
.bench_build/results/. See perfbench/README.md for what each number means.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from datetime import date, timedelta
from pathlib import Path

import build
import inputs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORPUS = HERE / "data" / "documents.parquet"
WORKLOADS = ("etl_parquet", "etl_jdbc", "curate")
# per-layer metrics whose layer the workload never enters; reported as 0
NOT_ENTERED = {
    "etl_parquet": ("dedup.", "text.", "linear_model.", "queries."),
    "etl_jdbc": ("dedup.", "text.", "linear_model.", "queries."),
    "curate": ("etl.", "sources.", "transforms.", "schema.", "sinks."),
}
JVM_TIMEOUT_S = 170
MB = 1024.0 * 1024.0


def heap_gb():
    """Half of MemTotal, clamped to [2, 8] GiB, as the repository's Tier-1 command sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def launch(args, classes, run_dir):
    jars = build.spark_jars()
    for d in ("tmp", "local", "derby"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    heap = f"{heap_gb()}g"
    # a fixed-size heap: no resizing decisions that differ from run to run
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dderby.system.home={run_dir / 'derby'}",
           # a page cache that holds the source tables, as a production
           # database's buffer pool would; the 4 MB default re-reads pages
           # from the file on every scan and makes scan times erratic
           "-Dderby.storage.pageCacheSize=20000",
           f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for o in opens:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", str(run_dir),
            "--t0-ms", str(int(time.time() * 1000))]
    if args.smoke:
        cmd.append("--smoke")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=str(run_dir / "local"), PERFBENCH_GIT_SHA=git_sha())
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    result_file = run_dir / "result.json"
    result = json.loads(result_file.read_text()) if result_file.is_file() else None
    if code != 0 or result is None or result["info"].get("harness_error"):
        tail = log.read_text(errors="replace")[-6000:] if log.is_file() else ""
        raise RuntimeError(f"harness exited with {code}\n{tail}")
    return result


def parquet_files(d):
    return [p for p in Path(d).rglob("*.parquet") if p.is_file()] if Path(d).is_dir() else []


def check_etl(result, plan):
    """Output tables against the generator's plan, read with pyarrow, not Spark."""
    import pyarrow.dataset as ds
    import pyarrow.types as pat

    type_ok = {"INTEGER": pat.is_int64, "FLOAT": pat.is_float64, "STRING": pat.is_string,
               "TIMESTAMP": pat.is_timestamp}

    out = Path(result["info"]["out_dir"])
    first = date.fromisoformat(plan["first_day"])
    registry = json.loads(inputs.REGISTRY.read_text())
    window = plan["window_days"]
    problems = []
    for table, fields in registry.items():
        cols = [f["name"] for f in fields]
        try:
            data = ds.dataset(out / table, format="parquet", partitioning="hive").to_table()
        except Exception as e:  # noqa: BLE001 - any read failure is a failed check
            problems.append((table, f"{type(e).__name__}: {e}"))
            continue
        want_cols = cols + (["p_date"] if table == "daily_log" else [])
        if data.column_names != want_cols:
            problems.append((table, f"columns {data.column_names} != {want_cols}"))
            continue
        bad = [f["name"] for f in fields if not type_ok[f["type"]](data.schema.field(f["name"]).type)]
        if bad:
            problems.append((table, f"columns {bad} do not have their registry types"))
        if table == "servers_temp":
            want = plan["servers_temp"] * (1 + window)
            if data.num_rows != want:
                problems.append((table, f"{data.num_rows} rows != {want}"))
            continue
        per_day = plan[table]
        if data.num_rows != sum(per_day):
            problems.append((table, f"{data.num_rows} rows != {sum(per_day)}"))
        if table == "daily_log":
            counts = data.group_by("p_date").aggregate([("ID", "count")])
            got = dict(zip(map(str, counts["p_date"].to_pylist()), counts["ID_count"].to_pylist()))
            want = {(first + timedelta(days=i)).isoformat(): n for i, n in enumerate(per_day) if n}
            if got != want:
                problems.append((table, f"rows per p_date {got} != {want}"))
    return problems


def oracle_rows(result, smoke):
    """DuckDB's answer for d_curate_emit over this seed's corpus, computed once per seed."""
    sql = result["info"]["oracle_sql"]
    key = hashlib.sha256(json.dumps([result["seed"], smoke, hashlib.sha256(
        CORPUS.read_bytes()).hexdigest(), sql]).encode()).hexdigest()[:32]
    cache = build.OUT / "oracle" / f"{key}.json"
    if cache.is_file():
        return json.loads(cache.read_text())
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql(f"CREATE VIEW documents AS FROM '{result['info']['documents']}/*.parquet'")
    rows = [[int(v) for v in r] for r in con.sql(sql).fetchall()]
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps(rows))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs with every check on: for the benchmark's own tests")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    run_dir = build.OUT / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        t = time.perf_counter()
        if args.workload == "curate":
            inputs.write_corpus(args.seed, args.smoke, CORPUS, run_dir)
        else:
            plan = inputs.write_etl(args.seed, args.smoke, run_dir, jdbc=args.workload == "etl_jdbc")
        gen_s = time.perf_counter() - t
        result = launch(args, classes, run_dir)
        result["info"]["gen_s"] = gen_s + result["info"].get("gen_s", 0.0)
        failures = result["failures"]
        failed = result["failed"]
        if args.workload == "curate":
            try:
                want = oracle_rows(result, args.smoke)
            except Exception as e:  # noqa: BLE001 - an oracle that cannot run fails the check
                want = f"{type(e).__name__}: {e}"
            if result["info"]["manifest"] != want:
                failures.append({"workload": args.workload, "step": "oracle",
                                 "target": "d_curate_emit", "exception": "CheckFailed",
                                 "message": f"manifest {result['info']['manifest']} != DuckDB {want}"})
                failed = result["attempted"]
        else:
            for table, msg in check_etl(result, plan):
                failures.append({"workload": args.workload, "step": "final_output",
                                 "target": table, "exception": "CheckFailed", "message": msg})
                failed += 1
        failed = min(failed, result["attempted"])
        outputs = parquet_files(result["info"]["out_dir"])
        measured = dict(result["metrics"])
        measured["out_mb"] = sum(p.stat().st_size for p in outputs) / MB
        measured["out_files"] = float(len(outputs))
    except RuntimeError as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in measured:
            value = measured[name]
        elif name.startswith(NOT_ENTERED[args.workload]):
            value = 0.0
        else:
            print(f"run failed: metric {name} was not measured", file=sys.stderr)
            return 1
        metrics[name] = {"value": value, "unit": m["unit"]}

    result["metrics"] = measured
    result["error_rate"] = failed / result["attempted"]
    results = build.OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    detail = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    detail.write_text(json.dumps(result, indent=1))

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{result['attempted']} operations, {failed} failed, detail in {detail.relative_to(ROOT)}")
    for f in failures:
        print(f"  FAILED {f['step']} {f['target']}: {f['exception']}: {f['message'][:300]}")
    for name, m in metrics.items():
        print(f"  {name:32s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and not failures, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
