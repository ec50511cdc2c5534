#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload analytics-tiles --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload crawl-to-store --seed 1 --seconds 10 --trace 1

Builds the engine and the harness from source (perfbench/build.py), runs the
workload in one JVM at local[nproc] with one closed-loop client
(graftbench.Main), replays the oracle checks in DuckDB, and prints as its
last stdout line {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer metrics
with --trace 1. The line before it is a detail object with the
workload-specific figures, the generated inputs and the failures. See
perfbench/README.md.
"""
import argparse
import glob
import json
import os
import re
import shutil
import subprocess
import sys

import build
import stats

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("analytics-tiles", "crawl-to-store")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def jvm_cmd(args, cp, tmpdir):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + build.share_flags() + [
        "-Xmx3g", "-XX:+UseParallelGC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmpdir}", "-cp", cp, "graftbench.Main"] + args)


def query_objects():
    """query name -> the object that implements it, from SparkEntry.queries."""
    src = open(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")).read()
    return {q: path.split(".")[-1] for q, path in
            re.findall(r'"(q\d+_\w+)"\s*->\s*\(([\w.]+)\.\w+ _\)', src)}


# ------------------------------------------------------------ oracle checks

def duckdb_checks(checks):
    """Replay each recorded check's oracle SQL in DuckDB over the same
    generated input; returns the failures."""
    import duckdb
    fails = []
    for c in checks:
        con = duckdb.connect()
        try:
            for p in glob.glob(os.path.join(c["tables"], "*.parquet")):
                t = os.path.basename(p)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            if c["kind"] == "parquet":
                got = con.execute(f"SELECT * FROM '{c['result']}/*.parquet'").df()
                want = con.execute(c["sql"]).df()
                cols = sorted(got.columns)
                if cols != sorted(want.columns):
                    fails.append(f"{c['name']}: columns {cols} vs oracle {sorted(want.columns)}")
                    continue
                g = got[cols].sort_values(cols).reset_index(drop=True)
                w = want[cols].sort_values(cols).reset_index(drop=True)
                if len(g) != len(w) or not g.equals(w):
                    fails.append(f"{c['name']}: result differs from the DuckDB oracle "
                                 f"({len(g)} vs {len(w)} rows)")
            else:
                cur = con.execute(c["sql"])
                names = [d[0] for d in cur.description]
                idx = [names.index(n) for n in c["columns"]]
                want = sorted(tuple(r[i] for i in idx) for r in cur.fetchall())
                got = sorted(tuple(r) for r in c["rows"])
                if got != want:
                    fails.append(f"{c['name']}: result differs from the DuckDB oracle "
                                 f"({len(got)} vs {len(want)} rows)")
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"{c['name']}: oracle check error {e}")
        finally:
            con.close()
    return fails


# ------------------------------------------------------------------ metrics

def units(calls):
    """unit number -> (summed wall, summed process CPU) of its calls."""
    out = {}
    for c in calls:
        w, u = out.get(c["unit"], (0.0, 0.0))
        out[c["unit"]] = (w + c["wall_s"], u + c["cpu_s"])
    return out


def walls(calls, leg=None, name=None):
    return [c["wall_s"] for c in calls
            if (leg is None or c["leg"] == leg) and (name is None or c["name"] == name)]


def call_walls(calls):
    """name -> its walls in unit order, for the detail line."""
    out = {}
    for c in calls:
        out.setdefault(c["name"], []).append(round(c["wall_s"], 4))
    return out


def end_to_end(res):
    """The end-to-end metrics: a unit is one pass over the workload's calls
    (analytics: the cold pass then the warm pass)."""
    us = units(res["calls"]).values()
    return {
        "setup_s": res["detail"]["setup_s"],
        "pass_s": stats.median([w for w, _ in us]),
        "pass_cpu_s": stats.median([u for _, u in us]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def workload_figures(res):
    """The figures named per workload (sweep totals, pipeline legs, rates)."""
    calls, d = res["calls"], res["detail"]
    n_units = max(1, d.get("units", 1))
    out = {"op_fail_frac": res["failed"] / max(1, res["attempted"]), "units": n_units}

    def per_unit(leg):
        return sum(walls(calls, leg=leg)) / n_units
    if res["workload"] == "analytics-tiles":
        warm = walls(calls, leg="sweep.warm")
        pts = d["points"]
        out.update(sweep_first_s=per_unit("sweep.first"), sweep_warm_s=per_unit("sweep.warm"),
                   query_warm_p50_s=stats.median(warm),
                   query_warm_p90_s=stats.percentile(warm, 90), queries=len(warm) // n_units,
                   join_rows_per_s=pts / stats.median(walls(calls, leg="spatial_join")),
                   shuffle_join_rows_per_s=pts / stats.median(walls(calls, leg="shuffle_join")),
                   tiles_per_s=d["tile_rows"] / stats.median(walls(calls, leg="pyramid")),
                   knn_s=stats.median(walls(calls, leg="knn")))
    else:
        out.update(store_init_s=per_unit("store_init"), append_s=per_unit("append"),
                   replay_s=per_unit("replay"), dedup_job_s=per_unit("dedup_job"),
                   stream_ingest_s=per_unit("stream"))
    return out


def per_layer(res, names):
    calls = res["calls"]
    n_units = max(1, res["detail"].get("units", 1))
    m = dict(res["per_layer"])
    if res["workload"] == "analytics-tiles":
        objs = query_objects()
        for c in calls:
            if c["leg"] in ("sweep.first", "sweep.warm"):
                o = objs.get(c["name"], "Unmapped")
                k = f"queries.{o}.{'first_s' if c['leg'] == 'sweep.first' else 'warm_s'}"
                m[k] = m.get(k, 0.0) + c["wall_s"] / n_units
                m[f"queries.{c['name'].split('_')[0]}.warm_s"] = stats.median(
                    walls(calls, leg="sweep.warm", name=c["name"]))
        m["jobs.knn_s"] = stats.median(walls(calls, leg="knn"))
    else:
        m["lake.replay_s"] = stats.median(walls(calls, leg="replay"))
    # a layer this workload does not exercise reads 0
    return {n: float(m.get(n, 0.0)) for n in names}


def check_fingerprints(res, seed):
    """Same seed, same results: compare this run's result fingerprints with
    those an earlier run of the seed left in this checkout."""
    fps = res["detail"].get("fingerprints", {})
    with open(build.STAMP) as f:
        program = f.read().strip()[:16]
    path = os.path.join(WORK_ROOT, "fingerprints", program, f"{res['workload']}-seed{seed}.json")
    fails = []
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
        fails = [f"{k}: fingerprint {v} differs from an earlier run of seed {seed} ({old[k]})"
                 for k, v in fps.items() if k in old and old[k] != v]
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(fps, f)
    return fails


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build.build(jvm_cmd)

    cpus = os.cpu_count() or 1
    work = os.path.join(WORK_ROOT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = jvm_cmd(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--cpus", str(cpus), "--work", work, "--out", out],
                  build.classpath(), os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except BaseException as e:  # a timeout or an interrupt: stop the JVM first
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if isinstance(e, subprocess.TimeoutExpired):
            raise SystemExit(f"perfbench: {a.workload} did not finish in {JVM_TIMEOUT_S} s")
        raise
    if code != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: harness JVM exited with {code}")
    with open(out) as f:
        res = json.load(f)

    failures = (list(res["failures"]) + duckdb_checks(res["checks"])
                + check_fingerprints(res, a.seed))
    failed = res["failed"] + (len(failures) - len(res["failures"]))
    res["failed"] = failed
    e2e = end_to_end(res)
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": cpus,
              "figures": workload_figures(res), "inputs": res["detail"].get("inputs"),
              "setup_rep_s": res["detail"].get("setup_rep_s"),
              "host_kernel_s": res["detail"].get("host_kernel_s"),
              "oracle_checks": len(res["checks"]), "failures": failures[:20],
              "call_walls_s": call_walls(res["calls"])}
    for k in ("fingerprints", "stage_cache", "units"):
        if k in res["detail"]:
            detail[k] = res["detail"][k]

    os.makedirs(WORK_ROOT, exist_ok=True)
    last = os.path.join(WORK_ROOT, f"untraced-{a.workload}.json")
    if a.trace == 0:
        with open(last, "w") as f:
            json.dump(e2e, f)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        traces = os.path.join(WORK_ROOT, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")
        shutil.move(res["spans"], spans)
        detail["spans"] = os.path.relpath(spans, ROOT)
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            detail["trace_overhead"] = {k: e2e[k] - base[k] for k in base if k in e2e}
        layer = per_layer(res, [m["name"] for m in spec["per_layer"]])
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
