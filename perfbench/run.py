#!/usr/bin/env python3
"""PLS-run and corpus-curation benchmark.

    python3 perfbench/run.py --workload pls_cold|pls_nightly|curate \
        --seed N --seconds S --trace 0|1

Builds the program from the enclosing checkout (through perfbench/build.sbt,
which compiles the repository with its own build definition), then measures
fresh JVMs, one per sample, the way a nightly container starts: each sample
starts a Spark session, makes one cold run, checks its output, and repeats the
run warm on fresh inputs. Samples are started one after another (a closed
loop of one) until --seconds have passed. The last line of stdout is one JSON
object: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See NOTES.md for the workloads and the metric map.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")

# Workload parameters. The simulated ESRI/SPARQL services answer every request
# after a fixed latency.
LATENCY_MS = 20
PLS_ADDRESSES = 20000
NIGHTLY_BASE_SEED = 0     # pls_nightly restores the pls_cold snapshot of this seed
CURATE_DOCS = 2000
WORKLOADS = ("pls_cold", "pls_nightly", "curate")
WARM_RUNS = 1
HEAP = "2g"
DEADLINE_S = 170          # every run after the first ends within 180 s
BUILD_DEADLINE_S = 880    # the first run of a checkout also builds

END_TO_END = (("setup_s", "s"), ("run_s", "s"), ("warm_run_s", "s"), ("output_mb", "MB"))

SPAN_NAMES = ("run", "pipeline.etl_run", "pipeline.stages", "sources.snapshot.restore",
              "sources.sparql", "sources.esri.iri_pid", "pipeline.geocode_import",
              "pipeline.pls_run", "operators.idmap", "sources.snapshot.write", "sinks.publish",
              "operators.graph.pagerank", "pipeline.curation", "sinks.output_write")
JOB_FILES = ("PagedSource", "SparqlSource", "SnapshotStore", "GeocodeImport", "PlsPipeline",
             "EtlRun", "IdMap", "RelOps", "Graph", "CurationPipeline", "Classifier", "Dedup",
             "TextAnalysis", "Pls", "Curate", "Trace")
PER_LAYER = (
    [("sources.pages", "count"), ("sources.rows_fetched", "count"), ("sources.mb_served", "MB"),
     ("sources.fetch_wait_s", "s"), ("sources.fetch_busy_s", "s"),
     ("sources.token_refreshes", "count"), ("sources.retries", "count"),
     ("sources.keep_ratio", "ratio"), ("sources.scan_s", "s"),
     ("sources.snapshot.restore_s", "s"), ("sources.snapshot.read_mb", "MB"),
     ("sources.snapshot.write_s", "s"), ("sources.snapshot.write_mb", "MB"),
     ("sources.snapshot.files", "count"),
     ("pipeline.geocode_import_s", "s"), ("pipeline.pls_run_s", "s"),
     ("pipeline.etl_run_self_s", "s"), ("pipeline.curation_s", "s"),
     ("operators.idmap.encode_s", "s"), ("operators.idmap.keys_scanned", "count"),
     ("operators.idmap.new_ids", "count"), ("operators.idmap.new_ratio", "ratio"),
     ("operators.relops.carried_rows", "count"), ("operators.relops.addresses_dropped", "count"),
     ("operators.relops.geocodes_pruned", "count"), ("operators.dedup.survivor_ratio", "ratio"),
     ("sinks.publish_s", "s"), ("sinks.records", "count"), ("sinks.header_duration_s", "s"),
     ("util.caching.entries", "count"), ("util.caching.cached_mb", "MB"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.task_s", "s"), ("spark.cpu_s", "s"), ("spark.shuffle_write_mb", "MB"),
     ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s")]
    + [("spark.job_s." + f, "s") for f in JOB_FILES]
    + [("driver.gap_s", "s"), ("jvm.jit_s", "s"), ("jvm.classes_loaded", "count"),
       ("jvm.max_live_heap_mb", "MB"), ("setup.jvm_s", "s"), ("setup.session_s", "s"),
       ("setup.first_job_s", "s"), ("trace.overhead_s", "s")]
    + [("span.%s.%s" % (s, m), "s") for s in SPAN_NAMES for m in ("self_s", "task_s")])
# per-layer metrics taken from the untraced sample of a traced run: the traced
# run's boundary persists would be counted as cache entries, and its
# materializations run inside the stages the published header times
UNTRACED_LAYERS = ("util.caching.entries", "util.caching.cached_mb", "sinks.header_duration_s")


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so an unchanged checkout skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(REPO, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:20]


def clean_env():
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    env.setdefault("COURSIER_MODE", "offline")
    return env


def run_proc(cmd, cwd, log, deadline, env):
    """Run to completion in its own process group; kill the group at the deadline."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(stamp, deadline):
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return launch
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    open(log, "w").close()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"], HERE, log,
                  deadline, clean_env())
    if rc != 0 or not os.path.exists(launch):
        die("build failed (exit %s):\n%s" % (rc, tail(log)), 1)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return launch


def java(launch, work, main_args, log, deadline):
    with open(launch) as f:
        jvm = [line.rstrip("\n") for line in f if line.strip()]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp] + jvm
           + ["perfbench.Main", "--dir", work, "--out", out] + main_args)
    started = time.time()
    rc = run_proc(cmd, work, log, deadline, clean_env())
    if rc is None:
        die("sample timed out:\n" + tail(log), 1)
    if not os.path.exists(out):
        die("sample exited %s without a result:\n%s" % (rc, tail(log)), 1)
    with open(out) as f:
        res = json.load(f)
    res["wall_s"] = time.time() - started
    shutil.rmtree(tmp, ignore_errors=True)
    return res


def prepared_snapshot(launch, stamp, seed, deadline):
    """The committed pls_cold snapshot of `seed`, made once per build in its own JVM
    with the code under test."""
    path = os.path.join(CACHE, "%s-%d-%d" % (stamp, PLS_ADDRESSES, seed))
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    log = os.path.join(path, "prepare.log")
    res = java(launch, path, ["--workload", "prepare", "--seed", str(seed),
                              "--addresses", str(PLS_ADDRESSES), "--latency-ms", str(LATENCY_MS)],
               log, deadline)
    if res["failed"] or "run_s" not in res["metrics"]:
        die("preparing the nightly snapshot failed: %s" % res["errors"], 1)
    open(os.path.join(path, "DONE"), "w").close()
    # keep the newest few prepared snapshots
    entries = sorted((os.path.getmtime(os.path.join(CACHE, d)), d) for d in os.listdir(CACHE)
                     if os.path.isdir(os.path.join(CACHE, d)))
    for _, d in entries[:-6]:
        shutil.rmtree(os.path.join(CACHE, d), ignore_errors=True)
    return path


def sample(launch, workload, seed, work, trace, warm, snapshot, deadline):
    os.makedirs(work, exist_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--trace", str(trace), "--warm", str(warm)]
    if workload == "curate":
        for k in range(warm + 1):
            subprocess.run([sys.executable, os.path.join(HERE, "corpus.py"),
                            os.path.join(work, "corpus-%d" % k), str(seed + k), str(CURATE_DOCS)],
                           check=True, timeout=max(1.0, deadline - time.time()))
    else:
        args += ["--addresses", str(PLS_ADDRESSES), "--latency-ms", str(LATENCY_MS)]
        if snapshot:
            args += ["--snapshot", snapshot]
    res = java(launch, work, args, os.path.join(work, "sample.log"), deadline)
    spans = os.path.join(work, "spans.json")
    if trace and os.path.exists(spans):
        shutil.copy(spans, os.path.join(WORK, "spans-%s.json" % workload))
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    # a terminated run still stops the JVM it started (see run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for needed in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(REPO, needed)):
            die("no program source at %s; run from a full checkout" % os.path.join(REPO, needed))
    stamp = source_stamp()
    launch = build(stamp, t0 + BUILD_DEADLINE_S)
    # a run that had to build gets its measuring budget after the build
    deadline = (time.time() if time.time() - t0 > 10 else t0) + DEADLINE_S

    snapshot = None
    if a.workload == "pls_nightly":
        snapshot = prepared_snapshot(launch, stamp, NIGHTLY_BASE_SEED, deadline)

    run_dir = os.path.join(WORK, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    samples = []
    try:
        if a.trace:
            # an untraced and a traced cold run, back to back
            for trace in (0, 1):
                samples.append(sample(launch, a.workload, a.seed, os.path.join(run_dir, "t%d" % trace),
                                      trace, 0, snapshot, deadline))
        else:
            start = time.time()
            while not samples or time.time() - start < a.seconds:
                samples.append(sample(launch, a.workload, a.seed,
                                      os.path.join(run_dir, "s%d" % len(samples)), 0,
                                      WARM_RUNS, snapshot, deadline))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = sum(s["attempted"] for s in samples)
    failed = sum(s["failed"] for s in samples)
    for s in samples:
        for e in s["errors"]:
            print("error: " + e, file=sys.stderr)
        print("sample wall %.1f s, checks %s s" % (s["wall_s"], " ".join(
            "%.1f" % v for k, v in s["metrics"].items() if k.startswith("check_s"))), file=sys.stderr)
    if a.trace:
        base, traced = (s["metrics"] for s in samples)
        if "run_s" not in base or "run_s" not in traced:
            die("no successful untraced and traced runs to report", 1)
        m = dict(traced)
        m.update({k: base[k] for k in UNTRACED_LAYERS if k in base})
        m["trace.overhead_s"] = traced["run_s"] - base["run_s"]
        metrics = {name: {"value": float(m.get(name) or 0.0), "unit": unit}
                   for name, unit in PER_LAYER}
    else:
        metrics = {}
        for name, unit in END_TO_END:
            vals = [s["metrics"][name] for s in samples if s["metrics"].get(name) is not None]
            if not vals:
                die("no successful run to report %s" % name, 1)
            metrics[name] = {"value": statistics.median(vals), "unit": unit}
        for name, _ in END_TO_END:
            print("%-12s %s" % (name, " ".join("%.4f" % s["metrics"][name] for s in samples
                                               if s["metrics"].get(name) is not None)))
    print("failed_frac %.4f (%d of %d runs)" % (failed / max(attempted, 1), failed, attempted))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
