#!/usr/bin/env python3
"""The graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <analytics|tx_churn>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and
the benchmark from source with sbt (perfbench/build.sbt) and records the
classpath; later runs start the JVM directly. Each run:

1. generates the workload's inputs from --seed (gen.py);
2. runs the benchmark JVM (perfbench/src): set-up several times, an
   untimed warm pass, then whole passes of the workload's fixed work for
   --seconds, one client in a closed loop;
3. checks every answer: the JVM compares each answer to the warm pass's,
   and this script compares the warm answers (and final tables) to DuckDB
   (oracle.py);
4. prints one JSON line: the end-to-end metrics (--trace 0) or the
   per-layer metrics of a traced run (--trace 1).

Work files go under .bench_build/perfbench/ in the checkout. The exit
code is non-zero when an answer is wrong or the run fails.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("analytics", "tx_churn")
# a run must end within 180 s; gen.py and the oracle take a few seconds
JVM_TIMEOUT_S = 170
# the query tables' size: 1.0 is the engine's sf0.01 gate size (60,000
# lineitem rows). At sf0.1 the queries take about twice as long, which the
# benchmark's time budget lacks.
QUERY_MIX_SCALE = 1.0

# every metric the benchmark prints: name -> unit
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    # end-to-end figures that exist on one workload only, or are zero
    # when all is well, so they cannot carry a regression bound
    "fail_ratio": "ratio", "commit_p50_s": "s", "commit_tail_s": "s",
    "read_p50_s": "s", "read_tail_s": "s", "cdf_lag_p50_s": "s",
    "write_amp": "ratio", "space_amp": "ratio",
    "host.nproc": "count", "host.calib_cpu_s": "s", "host.steal_ratio": "ratio",
    "engine.session_s": "s", "engine.inputs_s": "s", "engine.warm_pass_s": "s",
    "spark.plan_s": "s", "spark.actions": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.slot_idle_ratio": "ratio", "spark.shuffle_write_b": "B",
    "spark.shuffle_read_b": "B", "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_b": "B", "spark.gc_s": "s", "spark.input_b": "B",
    "spark.input_rows": "count", "spark.output_b": "B", "spark.output_files": "count",
    "f1.clean_bronze_s": "s", "f1.transform_silver_s": "s", "f1.sql_reports_s": "s",
    "f1.jobs_per_dataset": "count", "f1.bronze_files": "count", "f1.bronze_b": "B",
    "f1.silver_rows": "count", "f1.silver_b": "B", "f1.gold_rows": "count",
    "tx.commit_s": "s", "tx.commit_n": "count", "tx.merge_s": "s", "tx.merge_n": "count",
    "tx.delete_s": "s", "tx.delete_n": "count", "tx.update_s": "s", "tx.update_n": "count",
    "tx.optimize_s": "s", "tx.optimize_n": "count", "tx.vacuum_s": "s",
    "tx.vacuum_n": "count", "tx.jobs_per_verb": "count", "tx.gap_per_verb_s": "s",
    "tx.snapshot_s": "s", "tx.manifest_b": "B", "tx.files_per_commit": "count",
    "tx.written_b": "B", "tx.live_files": "count", "tx.live_b": "B", "tx.stored_b": "B",
    "cdf.consume_s": "s", "cdf.rows_applied": "count", "cdf.versions_per_poll": "count",
    "src.read_s": "s", "src.bloom_lookup_s": "s", "src.files_scanned": "count",
    "src.files_total": "count", "src.prune_ratio": "ratio",
    "src.rows_scanned_per_row_returned": "ratio",
    "mix.relational_s": "s", "mix.dedup_s": "s", "mix.similarity_s": "s",
    "mix.text_s": "s", "mix.streaming_s": "s",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.overhead_ratio": "ratio",
    "self.f1_s": "s", "self.tx_s": "s", "self.cdf_s": "s",
    "self.src_s": "s", "self.relational_s": "s", "self.dedup_s": "s",
    "self.similarity_s": "s", "self.text_s": "s", "self.streaming_s": "s",
}
# analytics' SparkEntry queries by family (ids): one per family, which is
# what the benchmark's time budget leaves room for on 4 cores. Each takes
# about as long as the pipeline's ops, so the op median does not fall into
# a gap between two latencies; the heavier gate queries (q05, q107, q71,
# q104, q154, q156, q65, ...) are left to graft.Bench.
QUERY_MIX = {
    "relational": ["q01"],
    "dedup": ["q25"],
    "similarity": ["q28"],
    "text": ["q66"],
    "streaming": ["q31"],
}
PER_LAYER.update({f"q.{q}_s": "s" for ids in QUERY_MIX.values() for q in ids})

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def _source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark once per source state; return the classpath."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        sys.exit("perfbench: no graft sources next to perfbench/ (run from a graft checkout)")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = _source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark with sbt")
    if os.path.exists(os.path.join(BUILD, "classes.jsa")):
        os.remove(os.path.join(BUILD, "classes.jsa"))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: build failed ({p.returncode})")
    cp = open(cp_file).read().strip()
    work = os.path.join(BUILD, "work", "classes")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_jvm(cp, {"workload": "classes", "work": work}, work, result=False)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


# ----------------------------------------------------------------- the JVM

def run_jvm(cp, args, work, result=True):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed-size heap with fixed generations, touched at start-up: how much
    # of an untouched heap becomes resident depends on when young collections
    # happen to promote, which moved the resident set by up to 25% between
    # runs; so the resident set follows the program's native memory, and heap
    # use shows in jvm.heap_peak_mb.
    # The C1 compiler only: on 4 cores the C2 compiler threads compete with
    # the warm pass, which then takes about 4 s longer, while the timed passes
    # after it ran within 5% of C2's, so C2 costs run budget for little gain.
    cmd = [java, "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m",
           "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch",
           "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    # class-data sharing: runs map Spark's and graft's common classes from the
    # archive recorded right after the build, instead of loading them each time
    jsa = os.path.join(BUILD, "classes.jsa")
    cmd.append(f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
               else f"-XX:ArchiveClassesAtExit={jsa}")
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    if result:
        with open(args["out"]) as f:
            return json.load(f)


# ----------------------------------------------------------------- metrics

def cpu_ticks():
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ratio(before, after):
    """The share of the CPU time the run wanted that the hypervisor gave to
    other guests: steal / (user + nice + system + steal). On a shared VM
    this is what makes whole runs slower, and it is recorded with every run
    so that a slow run shows as one."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[7]
    return d[7] / busy if busy else 0.0


def median(values):
    return statistics.median(values) if values else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    inputs = os.path.join(work, "input")
    if a.workload == "analytics":
        f1 = gen.gen_f1(os.path.join(work, "f1"), a.seed)
        gen.gen_queries(os.path.join(work, "queries"), a.seed, QUERY_MIX_SCALE)
        inputs = os.path.join(work, "queries", "input")
        jvm_args = {
            "lake": f1["lake"],
            "silver_rows": ",".join(f"{k}={v}" for k, v in sorted(f1["silver_rows"].items())),
            "queries": ";".join(f"{fam}:{','.join(ids)}" for fam, ids in QUERY_MIX.items())}
    else:
        gen.gen_tx(work, a.seed)
        jvm_args = {}
    log(f"{a.workload}: inputs for seed {a.seed} generated in {time.time() - t0:.1f} s")

    ticks = cpu_ticks()
    res = run_jvm(cp, {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "inputs": inputs, "work": work, "out": os.path.join(work, "result.json"),
        **jvm_args}, work)
    steal = steal_ratio(ticks, cpu_ticks())

    # answers: the JVM's own checks, then the DuckDB oracle
    problems = oracle.check(a.workload, work, res, BUILD)
    # timed ops: those of the timed passes (the warm pass is 0; ops after
    # the last timed pass, like tx_churn's closing vacuum, are not in a pass)
    n_passes = len(res["passes"])
    timed = [o for o in res["ops"] if 0 < o["pass"] <= n_passes]
    if a.trace == 0:
        timed = [o for o in timed if not o["traced"]]
    bad_ops = [o for o in res["ops"] if not o["ok"]]
    for o in bad_ops[:10]:
        log(f"FAILED {o['kind']} {o['name']} (pass {o['pass']}): {o['err']}")
    for name, why in problems[:20]:
        log(f"WRONG {name or ''}: {why}")
    # every op's answer is checked, the warm pass's included; an op is
    # failed if it threw, differed from the warm answer, or its name's
    # answer differs from the oracle
    wrong = {name for name, _ in problems if name}
    attempted = len(res["ops"])
    failed = min(attempted, sum(1 for o in res["ops"] if not o["ok"] or o["name"] in wrong)
                 + sum(1 for name, _ in problems if not name))
    correct = failed == 0

    # op latencies are pooled over the timed passes
    lat = [o["lat_s"] for o in timed if o["ok"]]
    tail_v, tail_pct = oracle.op_tail(lat)
    walls = [p["wall_s"] for p in res["passes"] if a.trace == 0 or not p["traced"]]
    setup = median(res["setup_s"])
    log(f"{a.workload} seed={a.seed}: nproc={res['nproc']} cpus={res['cpus']} "
        f"calib_cpu_s={res['calib_cpu_s']:.4f} steal_ratio={steal:.3f} passes={len(res['passes'])} ops={len(timed)} "
        f"fail_ratio={failed / attempted:.4f} op_tail_s=p{tail_pct:.1f} of {len(lat)} ops")
    if a.trace == 0:
        values = {
            "setup_s": setup, "wall_s": median(walls), "op_p50_s": oracle.hd_quantile(lat, 0.5),
            "op_tail_s": tail_v, "peak_rss_mb": res["peak_rss_mb"]}
        units = END_TO_END
    else:
        values = {k: 0.0 for k in PER_LAYER}
        values.update(res["layers"])
        values.update(oracle.user_metrics(a.workload, res))
        values.update({
            "fail_ratio": failed / attempted,
            "host.nproc": float(res["nproc"]), "host.calib_cpu_s": res["calib_cpu_s"],
            "host.steal_ratio": steal,
            "engine.session_s": median(res["session_s"]),
            "engine.inputs_s": median(res["inputs_s"]),
            "engine.warm_pass_s": res["warm_pass_s"],
            "jvm.gc_s": res["jvm_gc_s"], "jvm.heap_peak_mb": res["heap_peak_mb"]})
        units = PER_LAYER
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "nproc": res["nproc"], "cpus": res["cpus"], "calib_cpu_s": res["calib_cpu_s"],
              "steal_ratio": steal,
              "op_tail_percentile": tail_pct, "op_samples": len(lat),
              "fail_ratio": failed / attempted, "values": values}
    with open(os.path.join(BUILD, f"last_{a.workload}_{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}}
    print(json.dumps(out))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
