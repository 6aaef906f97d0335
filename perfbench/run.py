#!/usr/bin/env python3
"""graft benchmark: T1/T2 streaming under open-loop load plus a batch query mix.

One run of one workload (run from the repository root):

    python3 perfbench/run.py --workload t1_filter --seed 1 --seconds 15 --trace 0

Every workload, printing each end-to-end metric with its unit:

    python3 perfbench/run.py --all --seed 1

Self-tests of the benchmark's own logic:

    python3 perfbench/run.py --selftest

A run builds the engine and the benchmark from source on first use (sbt,
offline), generates its inputs from the seed, runs one JVM, checks every
output against the reference model (streams) or the DuckDB oracle (batch),
and prints as its last line one JSON object with the keys correct,
attempted, failed and metrics. `--trace 0` reports the end-to-end metrics;
`--trace 1` is a separate traced run that reports the per-layer metrics
and writes the span file. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = BUILD / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
sys.path.insert(0, str(HERE))

WORKLOADS = ["t1_filter", "t2_dedup", "batch_mix"]
END_TO_END = ["setup_s", "ops_per_s", "rss_peak_mb"]
# batch_mix tables are fixed data (the run's seed orders the queries), so
# they and their oracle digests are derived once per checkout
BATCH_SF = 0.01
BATCH_TABLES_SEED = 42
# A fixed, pre-touched heap: the heap's share of the resident set is then
# the same in every run, and rss_peak_mb moves with off-heap memory
# (RocksDB, native buffers, code cache, metaspace) instead of with the
# collector's heap sizing.
JVM_HEAP = "2560m"
RUN_LIMIT_S = 170.0

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = sorted(p for p in base.rglob("*") if p.is_file()) \
            if base.is_dir() else [base]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; returns the classpath."""
    if not (ENGINE_SRC / "graft").is_dir():
        die(f"engine sources not found under {ENGINE_SRC}; run from a checkout "
            "of the repository")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"'{tool}' is not on PATH")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the Spark installation whose bin/ is on PATH (a pip-installed
        # pyspark shim on PATH has no jars/ beside it)
        homes = [Path(d).resolve().parent for d in
                 env.get("PATH", "").split(os.pathsep)
                 if (Path(d) / "spark-submit").exists()]
        homes = [h for h in homes if (h / "jars").is_dir()]
        if not homes:
            die("set SPARK_HOME, or put Spark's bin/ on PATH")
        env["SPARK_HOME"] = str(homes[0])
    stamp = tree_digest([ENGINE_SRC, HERE / "src", HERE / "build.sbt",
                         HERE / "project" / "build.properties"])
    cp_file = HERE / "target" / "classpath.txt"
    stamp_file = BUILD / "perfbench-build.stamp"
    if cp_file.exists() and stamp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "perfbench-build.log"
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}",
           "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
           f"-J-Djava.io.tmpdir={BUILD / 'tmp'}", "compile", "writeClasspath"]
    with open(log, "w") as out:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=840).returncode
    if rc != 0 or not cp_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        die(f"build failed (exit {rc}); log in {log}", 1)
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10
                              ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work, deadline):
    java = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = work / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(java + ["-cp", cp, "perfbench.Main"] + args,
                                cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.stderr.write(log.read_text()[-4000:])
            die("benchmark JVM exceeded its time limit", 1)
    if rc != 0:
        sys.stderr.write(log.read_text()[-6000:])
        die(f"benchmark JVM failed (exit {rc})", 1)


def batch_tables():
    d = WORK / "tables" / f"seed{BATCH_TABLES_SEED}-sf{BATCH_SF}"
    if not (d / ".done").exists():
        import gen_tables
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(BATCH_TABLES_SEED, BATCH_SF, str(d))
        (d / ".done").write_text("ok")
    return d


def check_batch(tables, out_dir, oracle_sql_file, queries, errors):
    """Checked-pass outputs against the oracles; returns {query: status}."""
    import oracle
    sql = json.loads(Path(oracle_sql_file).read_text())
    cache_file = tables / "oracle_digests.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    status, seconds = oracle.check(tables, out_dir, sql,
                                   [q for q in queries if q not in errors],
                                   cache, ROOT / "tools")
    cache_file.write_text(json.dumps(cache))
    for q in errors:
        status[q] = "error"
    return status, seconds


def run_once(workload, seed, seconds, trace, cp=None, quiet=False):
    cp = cp or build()
    deadline = time.time() + RUN_LIMIT_S
    work = WORK / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result_file = work / "result.json"
    args = ["--workload", workload, "--seed", str(seed), "--seconds",
            str(seconds), "--trace", str(trace), "--work", str(work),
            "--out", str(result_file)]
    tables = None
    if workload == "batch_mix":
        tables = batch_tables()
        args += ["--tables", str(tables)]
    run_jvm(cp, args, work, deadline)
    res = json.loads(result_file.read_text())
    info = res["info"]
    attempted, failed = res["attempted"], res["failed"]
    if workload == "batch_mix":
        status, seconds = check_batch(tables, Path(info["outputs_dir"]),
                                      work / "oracle_sql.json",
                                      info["query_order"],
                                      info.get("errors", {}))
        info["checks"] = status
        info["check_oracle_s"] = seconds
        failed += sum(1 for q, s in status.items()
                      if s not in ("pass", "pass_rows_only") and
                      q not in info.get("errors", {}))
    info["git_commit"] = git_commit()
    info["source_digest"] = tree_digest([ENGINE_SRC])[:16]
    info["error_rate"] = failed / max(1, attempted)

    metrics = res["metrics"]
    if trace:
        metrics["check.error_rate"] = {"value": info["error_rate"],
                                       "unit": "ratio"}
        keep = [k for k in metrics if k not in END_TO_END]
    else:
        keep = END_TO_END
    missing = [k for k in keep if k not in metrics]
    if missing:
        die(f"run produced no value for {missing}", 1)
    out = {k: {"value": metrics[k]["value"], "unit": metrics[k]["unit"]}
           for k in keep}

    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    if "span_file" in info:
        dst = records / Path(info["span_file"]).name
        shutil.move(info["span_file"], dst)
        info["span_file"] = str(dst.relative_to(ROOT))
    record = {"metrics": metrics, "attempted": attempted, "failed": failed,
              "info": info}
    rec_path = records / f"{workload}-seed{seed}-trace{trace}.json"
    rec_path.write_text(json.dumps(record, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    if not quiet:
        print(f"perfbench {workload} seed={seed} trace={trace} "
              f"nproc={info['nproc']} valid={info.get('valid', True)}")
        for k in keep:
            print(f"  {k:<44} {out[k]['value']:>14.4f} {out[k]['unit']}")
        for k in ("latency.p50_ms", "latency.p90_ms"):
            if k in metrics and not trace:
                print(f"  ({k} = {metrics[k]['value']:.4f})")
        for k in ("mix_wall_s", "query_p50_s", "query_samples",
                  "offered_rate_rps", "gen.lag_ms_p99", "gen.backlog_end",
                  "error_rate"):
            if k in info:
                print(f"  ({k} = {info[k]})")
        print(f"  record: {rec_path.relative_to(ROOT)}")
    return {"correct": failed == 0, "attempted": int(attempted),
            "failed": int(failed), "metrics": out}


def selftest(cp):
    import oracle
    import gen_tables
    ok = oracle.selftest()
    a, b = WORK / "selftest-a", WORK / "selftest-b"
    for d in (a, b):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(5, 0.001, str(d))
    same = all((a / f).read_bytes() == (b / f).read_bytes()
               for f in os.listdir(a))
    print(f"{'PASS' if same else 'FAIL'} same seed gives identical tables")
    ok = ok and same
    for d in (a, b):
        shutil.rmtree(d, ignore_errors=True)
    work = WORK / "selftest"
    work.mkdir(parents=True, exist_ok=True)
    java = ["java", "-cp", cp, "perfbench.Main", "--selftest"]
    ok = subprocess.run(java, cwd=work, stdin=subprocess.DEVNULL).returncode == 0 and ok
    print("selftest:", "ok" if ok else "FAILED")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and print a table")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (a.all or a.selftest or a.workload):
        ap.error("one of --workload, --all, --selftest is required")
    cp = build()
    if a.selftest:
        sys.exit(0 if selftest(cp) else 1)
    if a.all:
        rows, all_ok = [], True
        for w in WORKLOADS:
            final = run_once(w, a.seed, a.seconds, a.trace, cp, quiet=True)
            all_ok = all_ok and final["correct"]
            for k, m in final["metrics"].items():
                rows.append((w, k, m["value"], m["unit"]))
            rows.append((w, "error_rate", final["failed"] /
                         max(1, final["attempted"]), "ratio"))
        for w, k, v, u in rows:
            print(f"{w:<10} {k:<40} {v:>14.4f} {u}")
        print(json.dumps({"correct": all_ok}))
        sys.exit(0 if all_ok else 1)
    final = run_once(a.workload, a.seed, a.seconds, a.trace, cp)
    for m in final["metrics"].values():
        if not isinstance(m["value"], (int, float)) or math.isnan(m["value"]):
            die("a metric has no numeric value", 1)
    print(json.dumps(final))


if __name__ == "__main__":
    main()
