#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload hive_olap --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The run builds graft and the
harness from source into .bench_build (once per source change), generates
the seeded inputs, runs the workload in one JVM (see harness/Harness.scala),
checks every query's output against the DuckDB oracle, and prints one JSON
line last: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. README.md next to this file explains the metrics.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import fingerprint  # noqa: E402
import stats  # noqa: E402

BUILD = ".bench_build"
SF = 0.01
CORES = min(2, os.cpu_count() or 1)
SETUPS = 3
# A traced run needs one more pass: its warm passes alternate untraced,
# traced, untraced, so the overhead ratio is not skewed by JIT warm-up.
MIN_WARM_PASSES = {0: 2, 1: 3}
JVM_HEAP = "1g"
DEADLINE_S = 170

WORKLOADS = {
    "hive_olap": [
        "q1_pricing_summary", "q5_local_supplier", "agg_basic", "agg_percentile_approx",
        "join_broadcast", "join_multiway", "join_salted", "join_asof", "win_ranking",
        "sort_topk", "gen_lateral_view", "fn_ngrams", "cte_recursive", "seq_sessionize",
        "sink_partitioned_parquet"],
    "llm_dedup": [
        "llm_minhash_lsh", "llm_ngram_jaccard", "llm_dedup_cc", "llm_dedup_incremental",
        "llm_winnow", "llm_cdc_chunks", "llm_exact_dedup", "llm_contamination",
        "llm_cosine_topk"],
}

# Queries whose first call builds on-disk state that later calls reuse;
# set-up builds it.
PRECONDITIONS = {"hive_olap": [], "llm_dedup": ["llm_dedup_incremental"]}

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def spark_jars():
    """The Spark jars graft builds against: $SPARK_HOME/jars, else the
    directory build.sbt names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        raise SystemExit("no Spark jars: set SPARK_HOME")
    return m.group(1)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(d, f) for top in ("src/main", os.path.join(HERE, "harness"))
             for d, _, fs in os.walk(top) for f in fs]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness into BUILD/classes unless the sources
    are unchanged since the last build; dump the oracle SQL beside them."""
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building graft and the harness")
    subprocess.run(["bash", os.path.join(HERE, "harness", "build.sh"), classes, spark_jars()],
                   check=True)
    subprocess.run(java_cmd(classes, {"java.io.tmpdir": BUILD}) + ["graftbench.OracleSql",
                                            os.path.join(BUILD, "oracle_sql.json")], check=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def java_cmd(classes, props):
    # -UsePerfData: no hsperfdata file outside the checkout.
    return (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-Xss8m", "-XX:-UsePerfData"]
            + ADD_OPENS
            + [f"-D{k}={v}" for k, v in props.items()]
            + ["-cp", f"{classes}{os.pathsep}{spark_jars()}/*"])


def inputs(seed):
    """Seeded parquet inputs, generated once per seed."""
    out = os.path.join(BUILD, "data", f"sf{SF}-s{seed}")
    if not os.path.exists(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, seed, SF)
        os.replace(tmp, out)
    return out


def expected(workload, data, seed, queries):
    """Oracle fingerprints of the workload's queries, cached per seed and
    oracle SQL."""
    sql = json.load(open(os.path.join(BUILD, "oracle_sql.json")))
    missing = [q for q in queries if q not in sql]
    if missing:
        raise SystemExit(f"no oracle SQL for {missing}")
    wanted = {q: sql[q] for q in queries}
    key = hashlib.sha256(json.dumps(wanted, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(BUILD, "oracle", f"{workload}-sf{SF}-s{seed}-{key}.json")
    if not os.path.exists(path):
        fps = fingerprint.oracle(data, wanted, datagen.TABLES)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(fps, f)
        os.replace(path + ".tmp", path)
    return json.load(open(path))


def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"total": sum(v[:8]), "steal": v[7]}


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(classes, workload, queries, data, seed, seconds, trace, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    raw = os.path.join(run_dir, "raw.json")
    cmd = java_cmd(classes, {
        "java.io.tmpdir": tmp,
        "log4j2.configurationFile": os.path.join(HERE, "harness", "log4j2.properties"),
    }) + ["graftbench.Harness", f"data={data}", "queries=" + ",".join(queries),
          "preconditions=" + ",".join(PRECONDITIONS[workload]),
          f"seed={seed}", f"seconds={seconds}", f"trace={trace}", f"cores={CORES}",
          f"setups={SETUPS}", f"min_passes={MIN_WARM_PASSES[trace]}", f"out={raw}",
          "check=" + os.path.join(run_dir, "check")]
    p = subprocess.Popen(cmd, start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("harness JVM ran out of time")
    if rc != 0:
        raise SystemExit(f"harness JVM exited with {rc}")
    return json.load(open(raw))


def lat(e):
    return (e["end"] - e["start"]) / 1e3


def pass_wall(execs):
    """Wall time of one pass, as the sum over queries of their median."""
    by = {}
    for e in execs:
        by.setdefault(e["query"], []).append(lat(e))
    return sum(statistics.median(v) for v in by.values())


def end_to_end(raw):
    """End-to-end metrics and the tail percentile used. The latency
    percentiles are over every execution of the timed region, cold and warm
    alike, as a user of the server sees them."""
    ok = [e for e in raw["execs"] if not e["failed"]]
    warm = [e for e in ok if e["pass"] > 0]
    cold = [e for e in ok if e["pass"] == 0]
    ls = [lat(e) for e in ok]
    p = stats.tail_percentile(len(ls))
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "wall_s": pass_wall(warm),
        "cold_wall_s": sum(lat(e) for e in cold),
        "query_p50_s": stats.hd_quantile(ls, 50),
        "query_tail_s": stats.hd_quantile(ls, p),
        "cpu_s": raw["cpu_warm_s"] / raw["passes"],
        "peak_rss_mb": raw["peak_rss_kb"] / 1024,
        "stored_mb": raw["stored_bytes"] / 2 ** 20,
    }, p


def layer_split(raw, traced, cores):
    """Per-layer metrics from the traced warm passes, summed per pass, plus
    the per-query span rows of the trace."""
    t = raw["trace"]
    jobs_by_group = {}
    for j in t["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    stage_job = {s["stage"]: s["job"] for s in t["stages"]}
    job_group = {j["job"]: j["group"] for j in t["jobs"]}
    stages_by_group, tasks_by_group = {}, {}
    for s in t["stages"]:
        stages_by_group.setdefault(job_group.get(s["job"]), []).append(s)
    for k in t["tasks"]:
        tasks_by_group.setdefault(job_group.get(stage_job.get(k["stage"])), []).append(k)

    def qe_start(q):
        for ph in ("planning", "optimization", "analysis"):
            if "start" in q[ph]:
                return q[ph]["start"]
        return None

    qes = [(qe_start(q), q) for q in t["qes"]]
    blocks = sorted(t["blocks"], key=lambda b: b["t"])
    n_pass = len({e["pass"] for e in traced})
    m = {k: 0.0 for k in [
        "tables.input_mb", "tables.input_rows", "queries.build_s", "queries.eager_jobs",
        "queries.eager_s", "plans.analyze_s", "plans.optimize_s", "plans.physical_s",
        "plans.scans", "plans.exchanges", "plans.global_windows", "plans.lambdas",
        "plans.codegen_fallbacks", "plans.topk_nodes", "codegen.compile_s", "codegen.compiles",
        "exec.run_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.single_task_stages",
        "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.idle_s",
        "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.shuffle_wait_s", "exec.spill_mb",
        "cache.peak_mb", "cache.blocks_left", "sources.output_mb", "sources.output_rows",
        "sources.files"]}
    rows, peak = [], 0.0
    for e in traced:
        qid, s0, s1, b1 = e["id"], e["start"], e["end"], e["build_end"]
        bj = jobs_by_group.get(f"q{qid}.build", [])
        wj = jobs_by_group.get(f"q{qid}.write", [])
        groups = (f"q{qid}.build", f"q{qid}.write")
        tasks = [k for g in groups for k in tasks_by_group.get(g, [])]
        stgs = [s for g in groups for s in stages_by_group.get(g, [])]
        mine = [q for st, q in qes if st is not None and s0 - 1 <= st <= s1 + 1]
        spans = [{"id": 0, "name": "query", "parent": None, "start": s0, "end": s1},
                 {"id": 1, "name": "queries.build", "parent": 0, "start": s0, "end": b1}]
        for j in bj + wj:
            spans.append({"id": len(spans), "name": "exec", "parent": 1 if j in bj else 0,
                          "start": max(j["start"], s0), "end": min(j["end"], s1),
                          "job": j["job"]})
        for q in mine:
            st = qe_start(q)
            ms = sum(q[ph].get("ms", 0) for ph in ("analysis", "optimization", "planning"))
            spans.append({"id": len(spans), "name": "plans", "func": q["func"],
                          "parent": 1 if st < b1 and q["func"] != "save" else 0,
                          "start": st, "end": st + ms})
        cg_b = e["codegen_build_ns"] / 1e6
        spans.append({"id": len(spans), "name": "codegen", "parent": 1, "dur": cg_b})
        spans.append({"id": len(spans), "name": "codegen", "parent": 0,
                      "dur": e["codegen_ns"] / 1e6 - cg_b})
        split = stats.split_query(spans)
        rows.append({"id": qid, "query": e["query"], "pass": e["pass"], "wall_ms": s1 - s0,
                     "self_ms": split, "spans": spans})
        task_iv = [(k["start"], k["end"]) for k in tasks]
        job_iv = [(j["start"], j["end"]) for j in bj + wj]
        m["tables.input_mb"] += sum(k["in_bytes"] for k in tasks) / 2 ** 20
        m["tables.input_rows"] += sum(k["in_rows"] for k in tasks)
        m["queries.build_s"] += split.get("queries.build", 0.0) / 1e3
        m["queries.eager_jobs"] += len(bj)
        m["queries.eager_s"] += stats.union_length([(j["start"], j["end"]) for j in bj]) / 1e3
        for ph, key in (("analysis", "analyze"), ("optimization", "optimize"),
                        ("planning", "physical")):
            m[f"plans.{key}_s"] += sum(q[ph].get("ms", 0) for q in mine) / 1e3
        for k in ("scans", "exchanges", "global_windows", "lambdas", "codegen_fallbacks",
                  "topk_nodes"):
            m[f"plans.{k}"] += sum(q["shape"].get(k, 0) for q in mine)
        m["codegen.compile_s"] += e["codegen_ns"] / 1e9
        m["codegen.compiles"] += e["compiles"]
        run_ms = stats.union_length(job_iv)
        m["exec.run_s"] += run_ms / 1e3
        m["exec.jobs"] += len(job_iv)
        m["exec.stages"] += len(stgs)
        m["exec.tasks"] += len(tasks)
        m["exec.single_task_stages"] += sum(1 for s in stgs if s["tasks"] == 1)
        m["exec.task_run_s"] += sum(k["run_ms"] for k in tasks) / 1e3
        m["exec.task_cpu_s"] += sum(k["cpu_ns"] for k in tasks) / 1e9
        m["exec.gc_s"] += sum(k["gc_ms"] for k in tasks) / 1e3
        m["exec.idle_s"] += (run_ms - stats.union_length(
            [stats.clip(iv, *ji) for ji in job_iv for iv in task_iv])) / 1e3
        m["exec.shuffle_write_mb"] += sum(k["sw_bytes"] for k in tasks) / 2 ** 20
        m["exec.shuffle_read_mb"] += sum(k["sr_bytes"] for k in tasks) / 2 ** 20
        m["exec.shuffle_wait_s"] += sum(k["sr_wait_ms"] for k in tasks) / 1e3
        m["exec.spill_mb"] += sum(k["spill_bytes"] for k in tasks) / 2 ** 20
        m["cache.blocks_left"] += e["blocks_left"]
        m["sources.output_mb"] += e["file_bytes"] / 2 ** 20
        m["sources.output_rows"] += sum(k["out_rows"] for k in tasks if k["out_bytes"] > 0)
        m["sources.files"] += e["files"]
        live = {}
        for b in blocks:
            if s0 <= b["t"] <= s1 + 50:
                live[b["block"]] = b["bytes"]
                peak = max(peak, sum(live.values()) / 2 ** 20)
    m = {k: v / n_pass for k, v in m.items()}
    m["cache.peak_mb"] = peak
    m["exec.core_util"] = m["exec.task_run_s"] / (m["exec.run_s"] * cores) if m["exec.run_s"] else 0.0
    for k, v in raw["kernels_ns"].items():
        m["functions." + k] = v
    return m, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    if not (os.path.isfile("build.sbt") and os.path.isfile("src/main/scala/graft/SparkEntry.scala")):
        log("run from the root of a graft checkout: build.sbt and src/main are missing")
        sys.exit(2)

    phases = {}
    t = time.monotonic()
    classes = build()
    phases["build"] = time.monotonic() - t
    # A build may take most of the first run's time; the rest of the run
    # still gets two minutes.
    deadline = max(deadline, time.monotonic() + 120)
    queries = WORKLOADS[a.workload]
    data = inputs(a.seed)
    want = expected(a.workload, data, a.seed, queries)
    phases["inputs"] = time.monotonic() - t - phases["build"]

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load0, st0 = loadavg(), proc_stat()
    raw = run_jvm(classes, a.workload, queries, data, a.seed, a.seconds, a.trace, run_dir,
                  deadline)
    load1, st1 = loadavg(), proc_stat()
    phases["jvm"] = time.monotonic() - t - phases["build"] - phases["inputs"]

    mismatched = []
    for q in queries:
        got = (None if q in raw["check_failed"]
               else fingerprint.of_parquet_dir(os.path.join(run_dir, "check", q)))
        if got != want[q]:
            mismatched.append(q)
            log(f"output check failed: {q}: got {got}, oracle {want[q]}")
    shutil.rmtree(run_dir, ignore_errors=True)
    phases["check"] = time.monotonic() - t - sum(phases.values())

    execs = raw["execs"]
    failed = sum(1 for e in execs if e["failed"]) + len(mismatched)
    attempted = len(execs) + len(queries)
    if a.trace:
        traced = [e for e in execs if e["pass"] > 0 and e["traced"] and not e["failed"]]
        plain = [e for e in execs if e["pass"] > 0 and not e["traced"] and not e["failed"]]
        metrics, rows = layer_split(raw, traced, CORES)
        metrics["trace.overhead_frac"] = pass_wall(traced) / pass_wall(plain) - 1
        wall = sum(r["wall_ms"] for r in rows)
        other = sum(r["self_ms"].get("query", 0.0) for r in rows)
        metrics["trace.unattributed_frac"] = other / wall
        tail_p = None
    else:
        metrics, tail_p = end_to_end(raw)
        rows = []

    weather = {
        "load_launch": load0, "load_finish": load1,
        "steal_frac": (st1["steal"] - st0["steal"]) / max(1, st1["total"] - st0["total"]),
        "other_cpu_s": raw["host_busy_s"] - raw["cpu_region_s"],
        "region_s": raw["region_s"],
    }
    weather["loaded"] = (weather["other_cpu_s"] / raw["region_s"] >= 0.5
                         or weather["steal_frac"] >= 0.05)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": unit_of(k)}
                          for k, v in sorted(metrics.items())}}
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "sf": SF,
                "cores": CORES, "queries": queries, "tail_percentile": tail_p,
                "setup_rounds_s": raw["setup_s"],
                "phases_s": phases,
                "latency_samples": len(execs), "weather": weather,
                "documents": pq.ParquetFile(os.path.join(data, "documents.parquet")).metadata.num_rows,
                "mismatched": mismatched, "result": result,
                "latencies": [{"query": e["query"], "pass": e["pass"], "s": lat(e),
                               "traced": e["traced"], "failed": e["failed"]} for e in execs],
                "trace_rows": rows}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json"),
              "w") as f:
        json.dump(artifact, f)
    print("perfbench-weather " + json.dumps(weather))
    print(json.dumps(result))


def unit_of(name):
    for suffix, unit in (("_mb", "MB"), ("_s", "s"), ("_ns", "ns"), ("_frac", "frac"),
                         ("_util", "frac")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
