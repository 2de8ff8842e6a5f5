#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the repository root):
  python3 kgbench/run.py --workload kg --seed 1 --seconds 1 --trace 0

Builds the program if needed (kgbench/build.py), runs the workload in its own
JVM at local[<cores>] and checks its outputs (in traced runs of `ops` also
against the DuckDB oracle). Prints a table of the metrics, the host probe's
time before and after the run, and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones.
See kgbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classpath, work, args):
    jars_dir, _ = build.spark_jars()
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cp = os.pathsep.join([str(c) for c in classpath] + [f"{jars_dir}/*"])
    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main"] + args
    log = work / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write(log.read_text()[-6000:])
        sys.exit(f"run: the benchmark JVM ended with {code}")


def oracle_check(res):
    """Compares each leaf's result (written by the checks of the run's
    operations) with its `SparkEntry.oracleSql` run in DuckDB over the same
    input tables, the way tools/check_oracle.py does; a leaf without oracle SQL
    must not be empty. Returns the differences found."""
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    for t in Path(res["oracle_input"]).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    problems = []
    for leaf, sql in sorted(res["oracle_sql"].items()):
        got = con.execute(f"SELECT * FROM read_parquet('{res['oracle_dir']}/{leaf}/*.parquet')")
        gcols, grows = canon(got.fetchall(), [d[0] for d in got.description])
        if not sql:
            if not grows:
                problems.append(f"{leaf}: no rows")
            continue
        exp = con.execute(sql)
        ecols, erows = canon(exp.fetchall(), [d[0] for d in exp.description])
        if gcols != ecols:
            problems.append(f"{leaf}: columns {gcols} differ from the oracle's {ecols}")
        elif grows != erows:
            problems.append(f"{leaf}: {len(grows)} rows differ from the oracle's {len(erows)}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"run: unknown workload {a.workload}")
    classpath = build.ensure()
    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result_file = work / "result.json"
        run_jvm(classpath, work, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--work", str(work), "--out", str(result_file)])
        res = json.loads(result_file.read_text())
        problems = list(res["problems"])
        failed = res["failed"]
        if "oracle_sql" in res:
            bad = oracle_check(res)
            problems += [f"oracle: {p}" for p in bad]
            # the leaves were written by the last operation's checks
            failed = max(failed, 1) if bad else failed
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if res["attempted"] == 0:
        sys.exit("run: no operation ran: " + "; ".join(problems))
    metrics = {}
    rows = []
    if a.trace == 0:
        for m in spec["end_to_end"]:
            xs = sorted(res["samples"].get(m["name"], []))
            if not xs:
                problems.append(f"no sample of {m['name']}")
                continue
            metrics[m["name"]] = {"value": statistics.median(xs), "unit": m["unit"]}
            rows.append((m["name"], m["unit"], statistics.median(xs), xs[-1], len(xs)))
    else:
        for m in spec["per_layer"]:
            v = res["per_layer"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            rows.append((m["name"], m["unit"], v, v, 1))
    print(f"# {a.workload} seed={a.seed} trace={a.trace}: "
          f"{res['attempted']} operations, {failed} failed")
    print(f"# {'metric':44} {'unit':8} {'median':>14} {'max':>14} {'n':>3}")
    for name, unit, med, hi, n in rows:
        print(f"# {name:44} {unit:8} {med:14.6g} {hi:14.6g} {n:3d}")
    for k in ("calib_before_s", "calib_after_s"):
        if k in res:
            print(f"# host.{k:39} s        {res[k]:14.6g}")
    print("# phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in res.get("phase_s", {}).items()))
    for p in problems:
        print(f"# check failed: {p}")
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
