"""Runs one workload of the benchmark and prints its result.

    python3 perfbench/run.py --workload load_full_width --seed 1 --seconds 12 --trace 0

Steps: build the program and harness from source (`build.py`), generate the
seeded inputs (`gen.py`), run the harness JVM on them with private work,
Spark-local, artifact and checkpoint roots, check every load against the
generator's expectations or every query against the DuckDB oracle, and print
the metrics. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`; the line before it holds the
provenance and the full per-rep record. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones. See BENCHMARK.md.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("load_full_width", "load_incremental", "catalog")
RUN_LIMIT_S = 170  # a run must end within 180 s once the build exists

END_TO_END = {
    "throughput_per_s": "1/s",
    "short_op_p50_s": "s",
    "setup_s": "s",
}


def driver_heap():
    """Half the machine's memory, clamped to 2..4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return "%dg" % max(2, min(4, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def cpu_steal_s():
    """Seconds of CPU the hypervisor gave to other guests since boot (0 where
    the kernel does not say); a run's share shows co-tenant noise."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_harness(build_dir, jars, workload, seconds, trace, inputs, work, run_id, deadline):
    for d in ("tmp", "spark-local", "artifacts", "ckpt", "hadoop-tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_ARTIFACTS_DIR=os.path.join(work, "artifacts"),
               SPARK_GRAFT_STREAM_CKPT=os.path.join(work, "ckpt"))
    cmd = (build.java_cmd(build_dir, jars, driver_heap(), os.path.join(work, "tmp"))
           + ["-Dspark.sql.session.timeZone=UTC",
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "hadoop-tmp"),
              "perfbench.Harness", "--workload", workload, "--seconds", str(seconds),
              "--trace", str(trace), "--inputs", inputs, "--work", work, "--run", run_id])
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("harness did not finish in time")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("harness failed (exit %s):\n%s" % (p.returncode, tail))
    return json.loads(lines[-1][len("PERFBENCH "):])


def check_rep(rep, expect):
    """One rep's checks: (load failed?, re-runs made, re-runs failed, reasons).
    A check on the table after the re-runs fails every re-run."""
    why = []
    states = {s: [v["rows"], v["keys"]] for s, v in expect["states"].items()}
    if rep["loaded"] != expect["timed_files"]:
        why.append("loaded files differ")
    if rep["alerts"] != sorted(expect["alerts"]):
        why.append("alerts %s != %s" % (rep["alerts"], expect["alerts"]))
    if rep["states"] != states:
        bad = sorted(s for s in set(states) | set(rep["states"])
                     if rep["states"].get(s) != states.get(s))
        why.append("published rows/keys differ in %s" % bad)
    if rep["dup_named_rows"] != 0:
        why.append("%d later duplicates published" % rep["dup_named_rows"])
    delivered = sorted({f.split("--")[1] for f in expect["timed_files"]}
                       - {expect.get("alert_state")})
    if rep["changed_states"] != delivered:
        why.append("rewritten partitions %s != %s" % (rep["changed_states"], delivered))
    load_bad = bool(why)
    bad_reruns = 0
    for loaded, alerts in zip(rep["rerun_loaded"], rep["rerun_alerts"]):
        bad = []
        if loaded != expect["rerun_files"]:
            bad.append("re-run loaded %s" % loaded)
        if alerts != sorted(expect["alerts"]):
            bad.append("re-run alerts %s" % alerts)
        bad_reruns += bool(bad)
        why += bad
    reruns = len(rep["rerun_s"])
    if rep["rerun_changed_states"]:
        why.append("re-runs rewrote %s" % rep["rerun_changed_states"])
        bad_reruns = reruns
    return load_bad, reruns, bad_reruns, why


def check_traced(untraced, traced):
    """A traced load re-composes `LoadMain.run`; net of its forcing of the
    manifest it must run the same plans as its untraced twin."""
    why = []
    if untraced["states"] != traced["states"]:
        why.append("traced load published other per-state rows than the untraced one")
    net = {k: v - traced["forced_counts"][k] for k, v in traced["plan_counts"].items()}
    if net != untraced["plan_counts"]:
        why.append("traced load's plan counters %s != untraced %s" % (net, untraced["plan_counts"]))
    return why


def check_catalog(h, inputs, work):
    """(attempted, failed, reasons) of a catalog run: every cold result
    against the DuckDB oracle, every later run of a query against the cold
    run's row count and digest, and no artifact build after the cold pass."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import duckdb  # noqa: E402
    import pyarrow.parquet as pq  # noqa: E402
    import verify_local  # noqa: E402  (the repository's oracle comparison)
    con = duckdb.connect()
    for t in verify_local.TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(inputs, t + ".parquet")))
    with open(os.path.join(work, "verify", "oracle_sql.json")) as f:
        oracle = json.load(f)
    why = ["query %s is not in SparkEntry.queries" % n for n in h["missing"]]
    failed, ref = len(h["missing"]), {}
    for r in h["cold"]:
        n = r["name"]
        ref[n] = (r["rows"], r["digest"])
        try:
            got = pq.read_table(os.path.join(work, "verify", n)).to_pandas()
            ok, msg = ((False, "no oracle") if n not in oracle else
                       verify_local.cmp_frames(got, con.execute(oracle[n]).fetchdf()))
            if ok and len(got) != r["rows"]:
                ok, msg = False, "digest counted %d rows, result has %d" % (r["rows"], len(got))
        except Exception as e:  # one bad query fails itself, not the run
            ok, msg = False, "check crashed: %s" % e
        if not ok:
            failed += 1
            why.append("%s: %s" % (n, msg))
    later = [r for p in h["passes"] + h.get("traced_passes", []) for r in p]
    for r in later:
        if (r["rows"], r["digest"]) != ref[r["name"]]:
            failed += 1
            why.append("%s: result differs from the cold pass" % r["name"])
    builds = sum(r["artifact_builds"] for r in later)
    if builds:
        failed += 1
        why.append("%d artifact builds after the cold pass" % builds)
    return len(h["missing"]) + len(h["cold"]) + len(later) + 1, failed, why


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description="benchmark: one workload run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops and reaps the harness JVM (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0, steal0 = time.time(), cpu_steal_s()
    build_root = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    try:
        build_dir, jars = build.build(build_root)
    except build.BuildError as e:
        sys.exit("perfbench: %s" % e)
    build_s = time.time() - t0
    deadline = time.time() + RUN_LIMIT_S
    run_id = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(build_root, "work", "%s-%d" % (run_id, os.getpid()))
    results = os.path.join(build_root, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    attempted = failed = 0
    problems = []
    try:
        g0 = time.time()
        inputs = os.path.join(work, "inputs")
        expect = gen.GENERATORS[a.workload](a.seed, os.path.join(inputs, "timed"))
        gen_s = time.time() - g0
        h = run_harness(build_dir, jars, a.workload, a.seconds, a.trace, inputs, work,
                        run_id, deadline)
        if a.workload == "catalog":
            attempted, failed, problems = check_catalog(h, os.path.join(inputs, "timed"), work)
    finally:
        # keep the harness log and the spans; drop inputs and tables
        os.makedirs(results, exist_ok=True)
        for name, ext in (("harness.log", ".log"), ("spans.jsonl", ".spans.jsonl")):
            if os.path.exists(os.path.join(work, name)):
                shutil.copy(os.path.join(work, name), os.path.join(results, run_id + ext))
        shutil.rmtree(work, ignore_errors=True)

    if a.workload != "catalog":
        for rep in h["reps"] + h.get("traced_reps", []):
            load_bad, reruns, rerun_bad, why = check_rep(rep, expect)
            attempted += 1 + reruns
            failed += int(load_bad) + rerun_bad
            problems += why
        for u, t in zip(h["reps"], h.get("traced_reps", [])):
            why = check_traced(u, t)
            failed += bool(why)
            problems += why
    summary = (summarize_catalog if a.workload == "catalog" else summarize_load)(h, expect)
    summary["setup_s"] = (gen_s + h["session_s"] + h["warmup_s"] + h["base_publish_s"], "s")
    summary["ops_failed"] = (failed, "count")
    if a.trace == 0:
        metrics = {k: {"value": summary[k][0], "unit": u} for k, u in END_TO_END.items()}
    else:
        metrics = per_layer(h, expect)
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "run_id": run_id,
        "provenance": {
            "git_commit": git_commit(), "source_digest": os.path.basename(build_dir)[len("classes-"):],
            "class_data_sharing": os.path.isfile(os.path.join(build_dir, "program.jsa")),
            "nproc": os.cpu_count(), "driver_heap": driver_heap(),
            "driver_max_heap_mb": h["driver_max_heap_mb"], "spark_version": h["spark_version"],
            "java_version": h["java_version"], "seed": a.seed,
        },
        "summary": {k: {"value": v, "unit": u} for k, (v, u) in summary.items()},
        "setup": {"build_s": build_s, "gen_s": gen_s, "session_s": h["session_s"],
                  "warmup_s": h["warmup_s"], "base_publish_s": h["base_publish_s"]},
        "problems": problems, "harness": h, "wall_s": time.time() - t0,
        "cpu_steal_s": cpu_steal_s() - steal0,
    }
    with open(os.path.join(results, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for p in problems:
        print("perfbench: check failed: " + p, file=sys.stderr)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, sort_keys=True))


def summarize_load(h, expect):
    reps = h["reps"]
    op_s = median([r["op_s"] for r in reps])
    return {
        "throughput_per_s": (expect["delivered_rows"] / op_s, "1/s"),
        "load_s": (op_s, "s"),
        "short_op_p50_s": (median([t for r in reps for t in r["rerun_s"]]), "s"),
        "published_bytes_per_input_byte":
            (median([r["rewritten_bytes"] for r in reps]) / expect["delivered_bytes"], "ratio"),
        "peak_task_mem_mb": (median([r["peak_task_mem_mb"] for r in reps]), "MiB"),
    }


def summarize_catalog(h, _expect):
    walls = sorted(r["build_s"] + r["plan_s"] + r["exec_s"] for p in h["passes"] for r in p)
    pass_s = median(h["pass_s"])
    q = statistics.quantiles(walls, n=10, method="inclusive")
    return {
        "throughput_per_s": (len(h["passes"][0]) / pass_s, "1/s"),
        "catalog_s": (pass_s, "s"),
        "short_op_p50_s": (median(walls), "s"),
        "query_p90_s": (q[8], "s"),
        "query_samples": (len(walls), "count"),
        "query_samples_beyond_p90": (sum(w > q[8] for w in walls), "count"),
    }


MODULES = ("Relational", "EventOps", "OlapOps", "TextOps", "DedupOps", "SimilarityOps",
           "MultimodalOps", "EtlParity", "ScalarFuncs", "Analytics", "LayoutOps", "CdcOps",
           "streaming")

PER_LAYER_UNITS = dict([
    ("etl.Ingest.readTsv_s", "s"), ("etl.Ingest.scan_s", "s"), ("etl.Ingest.rows_scanned", "count"),
    ("etl.input_read_amplification", "ratio"),
    ("etl.LoadPipeline.derive_s", "s"), ("etl.LoadPipeline.dedupeFirstWins_s", "s"),
    ("etl.Dedup.rows_dropped", "count"), ("etl.Normalize.widen_s", "s"),
    ("etl.Publish.publishPartitioned_s", "s"), ("etl.Publish.files_written", "count"),
    ("etl.Publish.bytes_written", "bytes"), ("etl.Publish.writer_tasks", "count"),
    ("etl.Publish.max_writer_task_s", "s"), ("etl.Publish.writer_skew", "ratio"),
    ("etl.published_bytes_per_input_byte", "ratio"),
    ("etl.Quality.lineCounts_s", "s"), ("etl.Quality.loadReport_s", "s"),
    ("etl.Quality.alerts", "count"),
    ("etl.Manifest.register_s", "s"), ("etl.Manifest.save_s", "s"),
    ("etl.Dedup.againstExisting_s", "s"), ("etl.Dedup.existing_rows_dropped", "count"),
    ("SparkEntry.build_s", "s"), ("SparkEntry.plan_s", "s"), ("SparkEntry.exec_s", "s"),
] + [("ops.%s_s" % m, "s") for m in MODULES] + [
    ("ArtifactStore.build_s", "s"), ("ArtifactStore.builds_in_pass", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.sched_delay_s", "s"), ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"), ("spark.plan_s", "s"),
    ("spark.codegen_compiles", "count"), ("spark.peak_task_mem_mb", "MiB"),
    ("trace.untraced_s", "s"), ("trace.recomposed_s", "s"), ("trace.traced_s", "s"),
    ("trace.overhead_s", "s"), ("trace.self_sum_s", "s"), ("trace.unattributed_s", "s"),
])


def per_layer(h, expect):
    """Medians over the traced reps or passes of every per-layer metric; a
    layer the workload does not run reads 0."""
    if "cold" in h:
        walls = {}
        for p in h["passes"]:
            for r in p:
                walls.setdefault(r["name"], []).append(r["build_s"] + r["plan_s"] + r["exec_s"])
        extra = {
            "ArtifactStore.build_s": sum(r["build_s"] + r["plan_s"] + r["exec_s"] - median(walls[r["name"]])
                                         for r in h["cold"] if r["artifact_builds"]),
            "ArtifactStore.builds_in_pass": sum(r["artifact_builds"] for p in h["passes"] + h["traced_passes"]
                                                for r in p),
        }
        derived = [dict(l, **extra) for l in h["layers"]]
    else:
        derived = [dict(l,
                        **{"etl.input_read_amplification": l["etl.input_bytes"] / expect["delivered_bytes"],
                           "etl.published_bytes_per_input_byte":
                               r["rewritten_bytes"] / expect["delivered_bytes"]})
                   for l, r in zip(h["layers"], h["traced_reps"])]
    return {k: {"value": median([d.get(k, 0.0) for d in derived]), "unit": u}
            for k, u in PER_LAYER_UNITS.items()}


if __name__ == "__main__":
    main()
