#!/usr/bin/env python3
"""The repository's benchmark: the CDC pipeline and its query surface.

    python3 perfbench/run.py --workload ingest|stream|query \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the program and
this harness from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
(Spark `local[4]`), sets the workload up from the seed, measures it for the
given seconds (query: whole passes, at least two), checks every output, and
prints one JSON line last:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
A traced run reports its tracing overhead against the untraced run of the
same seed and build, which it measures first when no ledger holds one.
The full ledger of every run (checks, per-operation Spark work, run-validity
readings, spans, build stamp) is kept under `.bench_build/ledgers/`.

Workloads (why each exists is recorded in BENCHMARK.json):
  ingest  closed loop, one client: the batch CDC chain over ~122k envelopes
  stream  open loop: a generator thread drops envelope files on a fixed
          schedule (1,000 events/s) into a file-stream upsert sink
  query   closed loop, one client: a fixed 11-query cross-section of the
          serving and curation registry families over a seeded corpus
          (perfbench/corpus.py, TPC-H scale factor 0.01), IVF index prebuilt

The envelope generator and its truth live in the Scala harness
(perfbench/src/main/scala/graft/perfbench/Envelopes.scala); its tests run
with `sbt test` from perfbench/.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
WORKLOADS = ["ingest", "stream", "query"]
QUERY_SCALE = 0.01
# the whole run after a build, inside the 180 s limit
RUN_LIMIT_S = 170
# kept free after a JVM for the oracle comparison (about 27 s for the query
# workload on 4 cores) and the ledger
ORACLE_MARGIN_S = 40

# End-to-end metrics, each meaning per workload:
#   throughput_per_s  ingest, stream: committed events/s; query: queries/s
#   latency_p50_ms    ingest: one pass, JSON to queryable state and lake;
#                     stream: a file's scheduled creation to the commit of
#                     the micro-batch that folded it; query: one query
#   setup_s           session start + the program's one-time preparation
#                     (warm-up pass, state snapshot, prebuilt artifacts);
#                     generating the inputs is the harness's cost and is
#                     kept in the ledger only
E2E = [("setup_s", "s"), ("throughput_per_s", "1/s"), ("latency_p50_ms", "ms")]

# Per-layer metrics (traced runs), and what each should move:
#   sources.*      build time and jobs inside fn(spark, dir) before collect():
#                  query latency_p50_ms/throughput; no change on ingest
#   exec.*         per operation (pass, micro-batch, query): jobs, stages and
#                  tasks move query throughput and stream latency; shuffle,
#                  spill and GC move ingest throughput and the query tail
#   cdc.*          per-stage self times (prefix materialisation) and counts:
#                  ingest throughput; decode and compact also stream latency
#   streaming.*    per-batch p50 phase times, state size, backlog, generator
#                  lateness: stream latency and throughput
#   operators.*    mean ms per query of each serving family: query throughput
#   curation.*     mean ms per query of each curation family: query latency;
#                  prebuild times: query setup_s
#   latency_p90_ms the tail, with latency_samples (a p90 needs 100 samples:
#                  only stream has them)
#   trace.overhead_ms  traced minus untraced latency_p50_ms, for the same
#                  workload, seed, seconds and build: the untraced run is
#                  taken from its ledger, or measured first when there is
#                  none
# Layers a workload does not exercise report 0.
PER_LAYER = [
    ("sources.build_ms", "ms"), ("sources.build_jobs", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.executor_run_ms", "ms"), ("exec.core_util", "ratio"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.input_bytes", "bytes"), ("exec.gc_ms", "ms"),
    ("exec.spill_bytes", "bytes"), ("exec.peak_rss_mb", "MB"),
    ("cdc.decode_s", "s"), ("cdc.unwrap_rewrite_s", "s"), ("cdc.unify_s", "s"),
    ("cdc.compact_s", "s"), ("cdc.state_write_s", "s"),
    ("cdc.lake_write_s", "s"), ("cdc.readback_ms", "ms"),
    ("cdc.events_in", "count"), ("cdc.duplicate_events", "count"),
    ("cdc.unknown_fields", "count"), ("cdc.corrupt_rows", "count"),
    ("cdc.state_rows", "count"), ("cdc.lake_files", "count"),
    ("cdc.lake_bytes_per_input_byte", "ratio"),
    ("streaming.batches", "count"), ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.latest_offset_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes"),
    ("streaming.backlog_files", "count"),
    ("streaming.generator_late_ms", "ms"),
    ("operators.relational_ms", "ms"), ("operators.events_ms", "ms"),
    ("operators.temporal_ms", "ms"), ("operators.sketch_ms", "ms"),
    ("operators.cdc_envelope_ms", "ms"),
    ("curation.text_ms", "ms"), ("curation.dedup_ms", "ms"),
    ("curation.curate_ms", "ms"), ("curation.sim_ms", "ms"),
    ("curation.prebuild_ann_index_s", "s"),
    ("latency_p90_ms", "ms"), ("latency_samples", "count"),
    ("trace.overhead_ms", "ms"),
]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(code, msg):
    log(msg)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail(2, "SPARK_HOME is not set and spark-submit is not on PATH")
    return home


def source_stamp():
    """Hash of every input of the build: the program's main sources and the
    harness's own sources and build files."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"),
                             recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile when the sources changed; returns their stamp."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return stamp
    log("building the program and the harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "compile"], cwd=HERE, env=sbt_env(),
                                stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=840)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(3, "build timed out; see .bench_build/build.log")
    if code != 0:
        fail(3, "build failed; see .bench_build/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def write_corpus(seed, work):
    """Write the query corpus; returns its directory and the time taken."""
    sys.path.insert(0, HERE)
    import corpus
    data = os.path.join(work, "data")
    t0 = time.monotonic()
    corpus.write(data, seed, QUERY_SCALE)
    return data, time.monotonic() - t0


def run_jvm(args, trace, work, out, deadline, extra):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] +
           [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--work", work, "--repo", ROOT, "--out", out] + extra)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(4, f"run exceeded its {RUN_LIMIT_S} s limit; see {work}/jvm.log")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        fail(5, f"workload JVM exited with {code}:\n{tail}")


def oracle_check(result, work):
    """Compare each dumped query result with its DuckDB twin from
    SparkEntry.oracleSql, using tools/check_correctness.py read-only."""
    names = result.get("oracle_queries", [])
    if not names:
        return {}
    tool = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(result["ledger"]["data_dir"], os.path.join(work, "results"),
                 tuple(names))
    outcome = {}
    for line in buf.getvalue().splitlines():
        for verdict in ("PASS", "FAIL"):
            if line.startswith(verdict + " "):
                name = line[len(verdict) + 1:].split(":")[0].split(" ")[0]
                outcome[name] = line
    for n in names:
        outcome.setdefault(n, f"FAIL {n}: no verdict from the oracle tool")
    return outcome


def measure(args, trace, stamp, deadline, with_oracle=True):
    """One JVM run of the workload: set-up, window, checks, then the oracle
    comparison unless `with_oracle` is off. Writes the run's ledger; returns
    (result, correct, ledger file name)."""
    start = time.monotonic()
    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    extra, corpus_s = [], None
    if args.workload == "query":
        data, corpus_s = write_corpus(args.seed, work)
        extra = ["--data", data]
    run_jvm(args, trace, work, out,
            deadline - (ORACLE_MARGIN_S if with_oracle else 0), extra)
    with open(out) as fh:
        result = json.load(fh)

    t0 = time.monotonic()
    oracle = oracle_check(result, work) if with_oracle else {}
    oracle_s = time.monotonic() - t0
    failed_checks = [c for c in result["checks"] if not c["ok"]]
    failed_oracle = {n: v for n, v in oracle.items() if not v.startswith("PASS")}
    correct = not failed_checks and not failed_oracle
    for c in failed_checks:
        log(f"check failed: {c['check']}: {c['detail']}")
    for v in failed_oracle.values():
        log(f"oracle: {v}")
    for f in result["failures"]:
        log(f"failed operation: {f}")

    ledger_dir = os.path.join(BUILD, "ledgers")
    os.makedirs(ledger_dir, exist_ok=True)
    name = (f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}"
            f"-t{trace}")
    with open(os.path.join(ledger_dir, name + ".json"), "w") as fh:
        json.dump({"result": result, "oracle": oracle, "correct": correct,
                   "build_stamp": stamp, "corpus_s": corpus_s,
                   "oracle_checked": with_oracle, "oracle_s": oracle_s,
                   "wall_s": time.monotonic() - start}, fh, indent=1)
    if trace and os.path.exists(os.path.join(work, "trace.json")):
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(ledger_dir, name + "-spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    return result, correct, name


def untraced_baseline(args, stamp):
    """latency_p50_ms and ledger name of the newest correct untraced run of
    the same workload, seed, seconds and build, or None."""
    paths = sorted(glob.glob(os.path.join(
        BUILD, "ledgers", f"*-{args.workload}-s{args.seed}-t0.json")))
    for p in reversed(paths):
        with open(p) as fh:
            led = json.load(fh)
        if (led.get("build_stamp") == stamp and led["correct"]
                and led["result"]["seconds"] == args.seconds):
            return (led["result"]["e2e"]["latency_p50_ms"]["value"],
                    os.path.basename(p)[:-len(".json")])
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    program = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not (os.path.exists(program) and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        fail(2, f"no program sources next to {HERE}: run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail(2, "java and sbt are required")
    stamp = build()
    # a build does not count against the run limit
    deadline = time.monotonic() + RUN_LIMIT_S

    base_ok = True
    if args.trace:
        base = untraced_baseline(args, stamp)
        if base is None:
            # same code and input: measure the untraced run first, giving it
            # half of the time left. It runs its in-JVM checks; the DuckDB
            # oracle checks the traced run's results of the same input.
            log("no untraced run of this seed and build: measuring one first")
            half = time.monotonic() + (deadline - time.monotonic()) / 2
            res0, base_ok, name0 = measure(args, 0, stamp, half, with_oracle=False)
            base = (res0["e2e"]["latency_p50_ms"]["value"], name0)
    result, correct, _ = measure(args, args.trace, stamp, deadline)

    if args.trace:
        have = dict(result["layer"])
        have["trace.overhead_ms"] = {
            "value": result["e2e"]["latency_p50_ms"]["value"] - base[0], "unit": "ms"}
        log(f"trace.overhead_ms against {base[1]}")
        wanted = PER_LAYER
    else:
        have, wanted = result["e2e"], E2E
    metrics = {}
    for metric, unit in wanted:
        v = have.get(metric, {}).get("value")
        metrics[metric] = {"value": 0.0 if v is None else v, "unit": unit}
    print(json.dumps({"correct": correct and base_ok,
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
