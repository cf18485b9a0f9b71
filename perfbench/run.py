#!/usr/bin/env python3
"""Benchmark entry point.

Builds the engine from this checkout (perfbench/build.py), generates the
input tables (perfbench/gendata.py), runs one workload in a fresh JVM
(perfbench.Main), checks every timed result, and prints a report followed
by one JSON object on the last line of standard output.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

--trace 0 prints the end-to-end metrics of BENCHMARK.json, measured with
tracing off; --trace 1 prints its per-layer metrics from a traced run.
Everything a run writes stays under .bench_build/ in the checkout; the
full artifact of a run is .bench_build/runs/<workload>-<seed>-<trace>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build"
# Scale factors generated for the workloads (perfbench.Workloads names the
# one each workload reads).
SCALES = ("0.01", "0.1")
# The JVM must end well inside the 180 s a run may take.
JVM_TIMEOUT_S = 150
JAVA_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    # the engine's own launch flags (build.sbt, tools/run_main.sh)
    "-XX:PerMethodRecompilationCutoff=10000",
    "-XX:PerBytecodeRecompilationCutoff=10000",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

E2E_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "first_pass_cpu_s": "s", "pass_s": "s",
    "pass_cpu_s": "s", "op_ms.p50": "ms",
    "op_ms.tail": "ms", "peak_rss_mb": "MB", "fail_frac": "1",
    "disk_bytes_per_input_byte": "1",
}


def unit_of(name: str) -> str:
    """Unit of a metric, from its name."""
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_frac", "1"), ("_skew", "1")):
        if name.endswith(suffix):
            return unit
    return "count"


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def ensure_data() -> tuple:
    """Generated tables per scale, reused while the generator is unchanged.
    Returns (data root, seconds spent)."""
    t0 = time.perf_counter()
    key = hashlib.sha256((HERE / "gendata.py").read_bytes()).hexdigest()[:16]
    root = WORK / "data" / key
    sys.path.insert(0, str(HERE))
    import gendata
    for sf in SCALES:
        d = root / f"sf{sf}"
        if not (d / ".done").is_file():
            shutil.rmtree(d, ignore_errors=True)
            gendata.generate(str(d), float(sf))
            (d / ".done").write_text("")
    return root, time.perf_counter() - t0


def same_result(oc, got, want):
    """None when equal under tools/oracle_check.py's rules (canonical sort,
    same columns and row count, exact cells with floats compared as
    float64), else the reason."""
    import warnings
    import numpy as np
    import pandas as pd
    warnings.simplefilter("ignore", FutureWarning)
    got, want = oc.canon(got), oc.canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns spark={list(got.columns)} duck={list(want.columns)}"
    if len(got) != len(want):
        return f"rows spark={len(got)} duck={len(want)}"
    bad = []
    for c in got.columns:
        a, b = got[c].values, want[c].values
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = np.array_equal(a.astype("float64"), b.astype("float64"), equal_nan=True)
        else:
            eq = (pd.Series(a).astype(object).fillna("\0N") ==
                  pd.Series(b).astype(object).fillna("\0N")).all()
        if not eq:
            bad.append(c)
    return f"value mismatch in columns {bad}" if bad else None


def duckdb_check(out: Path, check: dict, cores: int) -> dict:
    """Compares each dumped query result with its oracle SQL in DuckDB. Runs
    after the engine's JVM has exited, so it never overlaps timed work."""
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    import oracle_check as oc
    oracle = json.loads((out / "check" / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores}")
    con.execute(f"SET temp_directory='{out / 'duckdb_tmp'}'")
    for t in oc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{check['data_dir']}/{t}.parquet')")
    mismatches, oracle_s = {}, 0.0
    for q, sql in sorted(oracle.items()):
        if q in check["dump_errors"]:
            e = check["dump_errors"][q]
            mismatches[q] = f"{e['class']}: {e['message']}"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out / 'check' / q}/*.parquet')").fetchdf()
            t0 = time.perf_counter()
            want = con.execute(sql).fetchdf()
            oracle_s += time.perf_counter() - t0
            why = same_result(oc, got, want)
        except Exception as e:  # a DuckDB error is a failed check, with its cause
            why = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        if why:
            mismatches[q] = why
    con.close()
    return {"checked": len(oracle), "mismatches": mismatches, "duckdb_pass_s": oracle_s}


def run(args) -> int:
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        return fail(f"{bench_file} not found")
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        return fail("engine sources (src/main/scala) not found: run from a full checkout")
    bench = json.loads(bench_file.read_text())
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        return fail(f"unknown workload {args.workload}")
    sys.path.insert(0, str(HERE))
    import build
    classes = build.build(WORK)
    data, data_s = ensure_data()
    out = WORK / "runs" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={out / 'tmp'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{classes}:{build.classpath()}", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(data), "--out", str(out), "--cores", str(cores)]
    with open(out / "engine.log", "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            return fail(f"engine run exceeded {JVM_TIMEOUT_S}s (log: {out / 'engine.log'})")
    if rc != 0 or not (out / "result.json").is_file():
        return fail(f"engine run failed with exit code {rc} (log: {out / 'engine.log'})")
    res = json.loads((out / "result.json").read_text())

    # every timed (untraced) op that failed, and every timed op of a query
    # whose result does not match its oracle
    timed_passes = [p["index"] for p in res["passes"] if not p["traced"]]
    failed = {(f["pass"], f["op"]) for f in res["failures"] if f["pass"] in timed_passes}
    check = None
    if "check" in res:
        check = duckdb_check(out, res["check"], cores)
        failed |= {(p, q) for q in check["mismatches"] for p in timed_passes}
    attempted = res["attempted"]
    metrics = dict(res["metrics"], fail_frac=len(failed) / attempted)
    layers = dict(res.get("layers", {}), **{"setup.datagen_s": data_s})

    if args.trace:
        names = [m["name"] for m in bench["per_layer"]]
        values = {n: layers.get(n, 0.0) for n in names}
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        values = {n: metrics[n] for n in names}
    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "scale": res["scale"],
        "metrics": {n: {"value": v, "unit": unit_of(n), "n": res["samples"][n]}
                    for n, v in metrics.items()},
        "tail_percentile": res["tail_percentile"],
        "layers": {n: {"value": v, "unit": unit_of(n)} for n, v in sorted(layers.items())},
        "failed_ops": [{"pass": p, "op": o} for p, o in sorted(failed)],
        "failures": res["failures"], "check": check,
        "context": {"steal_pct_per_pass": [round(p["steal_pct"], 3) for p in res["passes"]],
                    "duckdb_pass_s": check and check["duckdb_pass_s"]},
        "engine": {k: v for k, v in res.items() if k not in ("metrics", "layers")},
    }
    (out / "artifact.json").write_text(json.dumps(artifact, indent=1))

    def num(v):
        return "nan" if v is None else f"{v:.4f}"
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={cores} scale=sf{res['scale']} passes={len(res['passes'])}")
    for n, m in artifact["metrics"].items():
        note = f"p{res['tail_percentile']:g}, " if n == "op_ms.tail" else ""
        print(f"  {n:28s} {num(m['value']):>14s} {m['unit']:5s} ({note}n={m['n']})")
    if args.trace:
        for n, m in artifact["layers"].items():
            print(f"  {n:28s} {num(m['value']):>14s} {m['unit']}")
    if check:
        print(f"  duckdb_pass_s (context)      {check['duckdb_pass_s']:14.4f} s     "
              f"({check['checked']} oracles)")
        for q, why in sorted(check["mismatches"].items()):
            print(f"  MISMATCH {q}: {why}")
    for f in res["failures"]:
        print(f"  FAILED pass {f['pass']} {f['op']}: {f['class']}: {f['message']}")
    print(f"  artifact: {out / 'artifact.json'}")
    print(json.dumps({
        "correct": not failed and not res["failures"] and not (check and check["mismatches"]),
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {n: {"value": values[n], "unit": unit_of(n)} for n in names},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
