#!/usr/bin/env python3
"""The benchmark's one command. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness if needed (perfbench/build.py), runs one
workload in one JVM on a `local[nproc]` session (closed loop, one client),
checks the outputs, writes the full run record to .bench_runs/ and prints it,
then prints the result as the last line: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Workloads and metrics are described in perfbench/DESIGN.md.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("etl_landing", "warehouse_sql", "corpus_prep", "lakehouse_merge")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# set-up (session, inputs, warm-up) plus the end-of-run checks take about
# 40 s on a 4-vCPU VM; the JVM gets that allowance three times over on top
# of the measuring window
SETUP_ALLOWANCE_S = 130
# DuckDB's SQL replay of these takes minutes at benchmark size (about 120 s
# for q_dedup_clusters' recursive label propagation over 1,000 docs), so
# timed runs check them against their sorted Spark form only; --tiny runs
# (the self-test) check them against DuckDB too.
SLOW_ORACLE = {"q_dedup_clusters"}


def oracle_check(work, skip):
    """Sorted-form rows of each query with oracle SQL against DuckDB over
    the same generated tables, except those in `skip`. Returns
    {name: problem} for mismatches."""
    import duckdb

    def normalize(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith(("datetime", "date")) or df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    ref = os.path.join(work, "ref")
    oracle = json.load(open(os.path.join(ref, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in json.load(open(os.path.join(ref, "tables.json"))):
        files = glob.glob(os.path.join(work, "data", t, "*.parquet"))
        con.execute(f"CREATE VIEW {t.rsplit('.', 1)[0]} AS SELECT * FROM read_parquet({files!r})")
    bad = {}
    for name, sql in sorted(oracle.items()):
        if name in skip:
            continue
        files = glob.glob(os.path.join(ref, name, "*.parquet"))
        if not files:
            bad[name] = "no sorted-form output"
            continue
        try:
            got = normalize(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
            want = normalize(con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
            continue
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} != oracle {list(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"{len(got)} rows != oracle {len(want)}"
        elif not got.equals(want):
            bad[name] = "values differ from the DuckDB oracle"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: replace one expected signature with a wrong one")
    a = ap.parse_args()
    root = os.getcwd()
    load0 = os.getloadavg()[0]
    cpu0 = cpu_times()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    try:
        classes, digest = build.build(root)
        jars = os.path.join(build.spark_jars(), "*")
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        sys.exit(f"build failed: {e}")

    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "ref"))
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.log.level=ERROR", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
              "-cp", f"{jars}:{classes}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work,
              "--tiny", "1" if a.tiny else "0",
              "--corrupt-expected", "1" if a.corrupt_expected else "0"])
    runs = os.path.join(root, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    timeout = a.seconds + SETUP_ALLOWANCE_S
    try:
        t_jvm = time.monotonic()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            p = subprocess.run(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                               timeout=timeout)
        res_path = os.path.join(work, "result.json")
        if p.returncode != 0 or not os.path.exists(res_path):
            tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
            sys.exit(f"harness exited with {p.returncode}:\n{tail}")
        rec = json.load(open(res_path))
        rec["jvm_wall_s"] = time.monotonic() - t_jvm
        spans = os.path.join(work, "trace_spans.jsonl")
        if os.path.exists(spans):  # the traced run's span tree outlives the work dir
            rec["trace_spans"] = os.path.relpath(
                shutil.move(spans, os.path.join(runs, stem + ".spans.jsonl")), root)
        if a.workload in ("warehouse_sql", "corpus_prep"):
            names = json.load(open(os.path.join(work, "ref", "oracle_sql.json")))
            skip = set() if a.tiny else SLOW_ORACLE & set(names)
            t_oracle = time.monotonic()
            bad = oracle_check(work, skip)
            rec["oracle_check_s"] = time.monotonic() - t_oracle
            rec["oracle"] = {"checked": sorted(set(names) - skip), "sorted_form_only": sorted(skip),
                             "mismatched": bad}
            # every timed run of a query whose expected rows disagree with
            # the oracle produced wrong rows too
            for name in bad:
                op = rec["per_operation"].get(f"query:{name}", {})
                rec["failed"] += op.get("ok", 0)
                rec["errors"][f"{name}: {bad[name]}"] = op.get("ok", 0)
    except subprocess.TimeoutExpired:
        sys.exit(f"harness exceeded {timeout:.0f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cpu1 = cpu_times()
    busy = [b - a for a, b in zip(cpu0, cpu1)]
    rec.update({"nproc": len(os.sched_getaffinity(0)), "loadavg_1m_start": load0,
                "loadavg_1m_end": os.getloadavg()[0],
                # share of the machine's CPU time the hypervisor gave to
                # other guests during the run; a slow run with high steal
                # is host noise
                "cpu_steal_share": busy[7] / sum(busy) if len(busy) > 7 and sum(busy) else None,
                "source_digest": digest,
                "git_commit": git_commit(root), "command": sys.argv})
    with open(os.path.join(runs, stem + ".json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(json.dumps(rec, sort_keys=True))

    if a.trace:
        names = [m["name"] for m in bench["per_layer"]]
        source = rec["layers"]
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        source = rec["metrics"]
    metrics = {n: {"value": source[n]["value"], "unit": source[n]["unit"]} for n in names}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def cpu_times():
    """The aggregate cpu line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks; empty elsewhere."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


if __name__ == "__main__":
    main()
