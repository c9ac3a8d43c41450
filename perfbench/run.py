#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 10 --trace 0

Builds the harness with the program's sources (once per source change,
into .bench_build/), generates the seeded inputs, runs the workload in one
JVM, checks the program's outputs outside the timed region and prints, as
the last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones.

`python3 perfbench/run.py --selftest --seed N` only checks the seeded
generators. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
SF = 0.01
DEADLINE_S = 170

PIPELINES = """p01_corpus_pipeline p03_build_and_report p04_incremental_shards
s16_kmeans_iterations x01_stream_span_dedup d10_lsh_recall_report
m03_resize_rollup m12_media_delta t19_bigram_lm_score s11_embedding_lsh_pairs
d17_soft_dedup_weights d19_cross_source_dups d20_quality_survivors""".split()

PIPELINES_WARMUP = ["t01_text_stats", "d01_exact_dup_groups"]

E2E = {"setup_s": "s", "op_latency_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB",
       "live_heap_mb": "MB", "bytes_stored_per_input_byte": "ratio"}

# Per-layer metrics (traced runs), name -> unit. Query-layer metrics are
# 0 on ingest and ingest-layer metrics 0 on pipelines: that workload does
# not touch the layer.
QUERY_LAYERS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.plan_s": "s", "exec.wall_s": "s",
    "Pinned.leaked_rdds": "count", "catalog.leaked_temp_views": "count",
    "self.queries.build_s": "s", "self.catalyst.plan_s": "s",
    "self.exec.jobs_s": "s", "self.exec.driver_s": "s"}
SHARED_LAYERS = {
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_busy_s": "s", "exec.core_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes", "jvm.gc_s": "s",
    "Tables.scan_bytes": "bytes", "Tables.scan_rows": "count"}
INGEST_LAYERS = {
    "node.block_calls_per_block": "count", "node.txn_calls_per_block": "count",
    "node.height_calls_per_batch": "count",
    "stream.latestOffset_ms": "ms", "stream.queryPlanning_ms": "ms",
    "stream.addBatch_ms": "ms", "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "follower.jobs_per_batch": "count", "follower.tasks_per_batch": "count",
    "sink.bytes_written": "bytes", "sink.files_written": "count",
    "sink.partitions": "count", "sink.bytes_per_input_byte": "ratio",
    "store.read_files": "count", "store.read_bytes": "bytes",
    "store.read_p50_s": "s", "store.read_p90_s": "s",
    "follower.tip_commit_p50_s": "s", "follower.tip_commit_p90_s": "s"}
TRACE_LAYERS = {"trace.setup_s": "s", "trace.op_latency_s": "s",
                "trace.ops_per_s": "1/s"}
LAYERS = {**QUERY_LAYERS, **SHARED_LAYERS, **INGEST_LAYERS, **TRACE_LAYERS}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for base in (PROGRAM, os.path.join(HERE, "src")):
        for dirpath, dirs, files in os.walk(base):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return False
    log("building the harness and the program with sbt")
    os.makedirs(BUILD, exist_ok=True)
    # offline resolution from the local caches, as the repository's own
    # test command does, unless the caller configured sbt already
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, stdout=logf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800, env=env)
    if r.returncode != 0:
        sys.exit(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


# ---------------------------------------------------------------- inputs

CHAIN_BLOCKS = 800
SCHEDULE_CYCLES = 20


def inputs(seed):
    """Generate (or reuse) the seeded inputs; returns the input dir. The
    dir is keyed by the generator's source too, so a changed generator
    never meets inputs it did not make."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{seed}-{version}")
    if not os.path.exists(os.path.join(d, "done")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(seed, SF, os.path.join(tmp, "tables"))
        blocks, txns, per_block = gen.chain(seed, CHAIN_BLOCKS)
        with open(os.path.join(tmp, "blocks.jsonl"), "w") as fh:
            fh.write("\n".join(blocks) + "\n")
        with open(os.path.join(tmp, "txns.jsonl"), "w") as fh:
            fh.write("\n".join(txns) + "\n")
        with open(os.path.join(tmp, "per_block.json"), "w") as fh:
            json.dump(per_block, fh)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


# ------------------------------------------------------------------- run

def java_cmd(cfg_path, heap):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(os.path.dirname(cfg_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens +
            ["-XX:+UseSerialGC", "-Xms128m", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{CLASSES}:{spark_jars}", "perfbench.Harness", cfg_path])


def run_jvm(cfg, run_dir, deadline):
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        # Spark scratch stays inside the run dir even if the caller's
        # environment points SPARK_LOCAL_DIRS elsewhere
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cfg["work"], "spark-local"))
        p = subprocess.Popen(java_cmd(cfg_path, "2g"), cwd=run_dir, stdout=logf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True, env=env)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit("harness timed out")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        sys.exit(f"harness exited with {rc}:\n{tail}")
    with open(os.path.join(cfg["out"], "result.json")) as fh:
        return json.load(fh)


def pct(xs, p):
    """Percentile with linear interpolation between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def query_outcome(res, data_dir, out_dir):
    """(attempted, failed, notes, samples) for pipelines."""
    checks = oracle.check_all(os.path.join(out_dir, "check"), data_dir,
                              res["oracle_sql"], os.path.join(BUILD, "oracle"))
    bad = {n: why for n, why in checks.items() if why is not None}
    notes = [f"check FAIL {n}: {why}" for n, why in sorted(bad.items())]
    ops = res["ops"]
    failed = 0
    for o in ops:
        if not o["ok"]:
            failed += 1
            notes.append(f"error {o['name']}: {o.get('error')}")
        elif o["name"] in bad or o["name"] not in checks:
            failed += 1
    samples = [o["build_s"] + o["exec_s"] for o in ops if o["ok"]]
    n_oracle = sum(1 for n in checks if n in res["oracle_sql"])
    notes.append(f"checked {len(checks)} queries ({n_oracle} against the DuckDB "
                 f"oracle, {len(checks) - n_oracle} rows-only), "
                 f"{len(bad)} mismatched")
    return len(ops), failed, notes, samples


def ingest_outcome(res, per_block):
    """(attempted, failed, notes, tip latencies) for ingest;
    `per_block[h - 1]` is block h's (reward rows, reward amount,
    transaction rows)."""
    fin = res["final"]
    tip = fin["tip"]
    want = {"reward_rows": sum(b[0] for b in per_block[:tip]),
            "reward_amount": sum(b[1] for b in per_block[:tip]),
            "txn_rows": sum(b[2] for b in per_block[:tip]),
            "cursor": tip, "unmarked": 0}
    got = dict(fin, reward_amount=int(fin["reward_amount"]))
    bad = [f"{k}: store={got[k]} expected={v}" for k, v in want.items() if got[k] != v]
    batches, reads = res["batches"], res["reads"]
    failed = sum(not b["ok"] for b in batches) + sum(not r["ok"] for r in reads)
    notes = [f"error batch to {b['tip']}: {b.get('error')}" for b in batches if not b["ok"]]
    notes += [f"error read {r['kind']}: {r.get('error')}" for r in reads if not r["ok"]]
    notes += [f"store check FAIL {x}" for x in bad]
    notes.append(f"store check: {len(want)} totals against the generator, "
                 f"{len(bad)} mismatched; {fin['partitions']} partitions")
    # the end-of-run store check is one more operation
    return (len(batches) + len(reads) + 1, failed + (1 if bad else 0), notes,
            [b["latency_s"] for b in batches if b["ok"] and b["size"] == 1])


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f))
               for p, _, fs in os.walk(d) for f in fs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["pipelines", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    selftest = gen.selftest(a.seed)
    if a.selftest:
        print(json.dumps(selftest))
        sys.exit(0 if all(selftest.values()) else 1)
    if a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        sys.exit("program sources not found: run from a checkout of the repository")
    if not os.environ.get("SPARK_HOME"):
        sys.exit("SPARK_HOME is not set")

    # a run that had to build gets its full run time after the build
    deadline = (time.time() if build() else t_start) + DEADLINE_S
    in_dir = inputs(a.seed)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_dir = os.path.join(run_dir, "out")
    nproc = os.cpu_count()
    load_before = os.getloadavg()
    cfg = {"workload": a.workload, "seconds": a.seconds, "trace": bool(a.trace),
           "cores": nproc, "out": out_dir, "work": os.path.join(run_dir, "work")}
    if a.workload == "ingest":
        cfg.update(blocks=os.path.join(in_dir, "blocks.jsonl"),
                   txns=os.path.join(in_dir, "txns.jsonl"),
                   batches=gen.batch_schedule(SCHEDULE_CYCLES),
                   reads=gen.read_schedule(a.seed, SCHEDULE_CYCLES),
                   cycle=gen.CYCLE, trigger_ms=50, max_wait_s=60)
    else:
        cfg.update(data=os.path.join(in_dir, "tables"), warmup=PIPELINES_WARMUP,
                   queries=PIPELINES)
    log(f"inputs ready after {time.time() - t_start:.1f} s")
    res = run_jvm(cfg, run_dir, deadline)
    load_after = os.getloadavg()
    log(f"harness done after {time.time() - t_start:.1f} s")

    if a.workload == "ingest":
        with open(os.path.join(in_dir, "per_block.json")) as fh:
            per_block = json.load(fh)
        attempted, failed, notes, samples = ingest_outcome(res, per_block)
        # the bounded figures are the catch-up bursts'; tip-batch latency
        # varies too much from run to run for a bound (see the README)
        bursts = [b for b in res["batches"] if b["ok"] and b["size"] > 1]
        burst_s = sum(b["latency_s"] for b in bursts)
        latency = burst_s / len(bursts) if bursts else float("nan")
        ops_per_s = sum(b["size"] for b in bursts) / burst_s if burst_s else 0.0
        stored = res["final"]["sink_bytes"] / res["final"]["input_bytes"]
    else:
        attempted, failed, notes, samples = query_outcome(
            res, cfg["data"], out_dir)
        latency = statistics.fmean(samples) if samples else float("nan")
        ops_per_s = len(samples) / res["loop_wall_s"]
        stored = dir_bytes(os.path.join(out_dir, "check")) / dir_bytes(cfg["data"])
    log(f"outputs checked after {time.time() - t_start:.1f} s")
    e2e = {"setup_s": res["setup_s"], "op_latency_s": latency,
           "ops_per_s": ops_per_s, "peak_rss_mb": res["peak_rss_mb"],
           "live_heap_mb": res["live_heap_mb"],
           "bytes_stored_per_input_byte": stored}
    correct = (failed == 0 and all(selftest.values()) and len(samples) > 0
               and ops_per_s > 0)

    if a.trace:
        layers = dict(res["layers"])
        if a.workload == "ingest":
            reads = [r["latency_s"] for r in res["reads"] if r["ok"]]
            layers.update({"store.read_p50_s": pct(reads, 50) if reads else 0.0,
                           "store.read_p90_s": pct(reads, 90) if reads else 0.0,
                           "follower.tip_commit_p50_s": pct(samples, 50),
                           "follower.tip_commit_p90_s": pct(samples, 90)})
        else:
            layers.update({k: 0.0 for k in INGEST_LAYERS})
        layers.update({"trace.setup_s": e2e["setup_s"],
                       "trace.op_latency_s": e2e["op_latency_s"],
                       "trace.ops_per_s": e2e["ops_per_s"]})
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in LAYERS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}

    host = {"nproc": res["nproc"], "load_before": [round(x, 2) for x in load_before],
            "load_after": [round(x, 2) for x in load_after],
            "driver_heap_mb": round(res["heap_max_mb"])}
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "host": host, "samples": len(samples),
               "op_p50_s": pct(samples, 50), "op_p90_s": pct(samples, 90),
               "passes": res.get("passes_run"),
               "error_rate": failed / attempted if attempted else 1.0,
               "selftest": selftest}
    if a.workload == "ingest":
        oks = [b for b in res["batches"] if b["ok"]]
        top = max((b["tip"] for b in oks), default=0)
        first = top - sum(b["size"] for b in oks)
        summary.update({
            "tip_batch_share": sum(b["size"] == 1 for b in oks) / max(len(oks), 1),
            "burst_batch_share": sum(b["size"] > 1 for b in oks) / max(len(oks), 1),
            "reward_block_share": sum(b[0] > 0 for b in per_block[first:top])
            / max(top - first, 1),
            "reads": len(res["reads"]),
            "burst_blocks": sum(b["size"] for b in bursts),
            "burst_s": burst_s})
    if a.trace:
        untraced = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t0", "metrics.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]
            summary["tracing_overhead"] = {
                k: e2e[k] / base[k]["value"] - 1 for k in ("setup_s", "op_latency_s", "ops_per_s")}
    summary["notes"] = notes
    for n in notes:
        print(n)
    print(json.dumps(summary))
    with open(os.path.join(run_dir, "metrics.json"), "w") as fh:
        json.dump({"summary": summary, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
