#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles the program with the
repository's offline sbt settings (skipped when the sources are unchanged),
generates the landing inputs from the seed (analytics reads the fixture
tables under perfbench/fixtures), runs the program in-process
in one JVM (local[nproc], nproc shuffle partitions, heap sized from
MemTotal), checks the outputs against DuckDB, and
prints each metric raw, then one JSON object as the last stdout line.
With --trace 1 the run registers the listeners of Trace.scala and reports
the per-layer metrics; its records go to
.bench_build/perfbench/trace-<workload>-s<seed>.jsonl. See README.md.
"""
import argparse
import glob
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
CLASSES = os.path.join(ROOT, ".bench_build", "sbt", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# q234_brown_forsythe is left out: with it the round compiles 77 classes,
# near the 25 a segment of Spark's codegen cache holds, and in some runs
# the warm rounds recompiled 19-24 of them, with 30-50% more CPU per round
# (README.md, Workloads)
HEAVY = ",".join(["q207_theil_sen", "q162_winsorize"])

# round 0 runs in a cold JVM; the rounds before `warm` still warm the JIT
# up (they run 20-40% slower than later ones) and count in no figure.
# round_s: the cold, warm-up and warm round times on the reference machine
# (README.md), which turn --seconds into a round count
WORKLOADS = {
    "analytics-heavy": {"kind": "analytics", "fixtures": "sf0.01", "queries": HEAVY,
                        "warm": 3, "round_s": (11.0, 3.5, 2.5)},
    "incremental-landing": {"kind": "landing", "warm": 3, "round_s": (19.0, 6.5, 5.2)},
}
OPS = ("query", "load", "micro-batch")
# at least this many warm rounds, so that a figure is a median of three
MIN_WARM = 3
# the JVM's deadline beyond 2 x --seconds: set-up takes 5-20 s, and the
# floor of warm rounds can outlast a small --seconds
JVM_ALLOWANCE_S = 80


START = time.monotonic()


def log(msg):
    print(f"perfbench: [{time.monotonic() - START:.1f} s] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness (perfbench/build.sbt) unless up to date."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the root of a full checkout")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    repos = os.path.expanduser("~/.sbt/repositories")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g"
        + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else "")))
    log("compiling program and harness with sbt (offline)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=720)
    if r.returncode != 0:
        sys.exit(f"perfbench: sbt compile failed ({r.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)


def cpu_ticks():
    """(steal, total) jiffies of the machine, from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def heap():
    """The tier-1 formula: MemTotal/2 GiB, clamped to 2..8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def rounds(wl, seconds):
    """A fixed round count for --seconds, not a clock: every run of a
    workload then does the same work however fast the machine is, and the
    JIT, which keeps speeding the warm rounds up for several rounds, is at
    the same point in every run."""
    cold, warmup, warm = wl["round_s"]
    return wl["warm"] + max(MIN_WARM, int((seconds - cold - (wl["warm"] - 1) * warmup) / warm))


def cores():
    return len(os.sched_getaffinity(0))


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class Jvm:
    """One benchmark JVM; killed and reaped if the run is interrupted."""
    live = []

    def __init__(self, tmp, args, tag):
        self.err = os.path.join(tmp, f"{tag}.stderr")
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cmd += [f"-Xms{heap()}", f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Dspark.local.dir={tmp}/spark-local",
                f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
                f"-Djava.io.tmpdir={tmp}/jtmp",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main"] + args
        os.makedirs(f"{tmp}/jtmp", exist_ok=True)
        self.fh = open(self.err, "w")
        self.p = subprocess.Popen(cmd, cwd=tmp, stdout=self.fh, stderr=self.fh,
                                  stdin=subprocess.DEVNULL)
        Jvm.live.append(self.p)

    def wait(self, timeout):
        try:
            rc = self.p.wait(timeout=timeout)
        finally:
            self.fh.close()
        Jvm.live.remove(self.p)
        if rc != 0:
            sys.stderr.write(open(self.err).read()[-4000:])
            sys.exit(f"perfbench: benchmark JVM exited {rc}")
        return self.setup_warnings()

    def setup_warnings(self):
        n = 0
        for line in open(self.err):
            if "perfbench: setup done" in line:
                return n
            n += " WARN " in line
        return n


def stop_children(*_):
    for p in list(Jvm.live):
        p.kill()
        p.wait()
    sys.exit(130)


def read_records(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def warm_ops(recs, warm, key):
    """Each query's or load's median of `key` over the warm rounds."""
    per_op = {}
    for r in recs:
        if r["kind"] == "op" and r["round"] >= warm and r["type"] in ("query", "load"):
            per_op.setdefault(r["name"], []).append(key(r))
    return [median(v) for v in per_op.values()]


def end_to_end(recs, warm):
    """Times are the JVM's CPU seconds (every thread: tasks, driver, JIT,
    GC), not wall seconds: on a shared host the VM loses its CPUs to other
    guests for minutes at a time, which stretches wall time far more than
    CPU time (README.md, Machine)."""
    rounds = [r for r in recs if r["kind"] == "round"]
    setup = next(r for r in recs if r["kind"] == "setup")
    end = next(r for r in recs if r["kind"] == "end")
    return {
        "setup_s": (setup["setup_cpu_s"], "s"),
        "retained_heap_mb": (end["retained_heap_mb"], "MB"),
        "cold_pass_cpu_s": (rounds[0]["cpu_s"], "s"),
        "warm_pass_cpu_s": (median([r["cpu_s"] for r in rounds[warm:]]), "s"),
        # the median over queries or loads of each one's median: a typical
        # operation, robust to one slow round
        "op_p50_cpu_s": (median(warm_ops(recs, warm, lambda r: r["cpu_s"])), "s"),
    }


def per_layer(recs, ncores, setup_warn, first_warm):
    """Per-layer figures of the traced run: session figures from the set-up,
    every other figure summed over the warm rounds and divided by their
    number (so runs of different length compare), plus the cold round's
    codegen, jobs, idle slots and planning for the cold-pass predictions."""
    setup = next(r for r in recs if r["kind"] == "setup")
    rounds = [r for r in recs if r["kind"] == "round"]
    warm = rounds[first_warm:]
    nw = len(warm)
    ops = [r for r in recs if r["kind"] == "op" and r["round"] >= first_warm]

    def tot(key, rs=warm):
        return sum(r.get(key, 0) for r in rs) / max(1, len(rs))

    def ops_sum(key, pred=lambda r: True):
        return sum(r.get(key, 0) or 0 for r in ops if pred(r)) / max(1, nw)

    def idle(rs):
        return sum(r["wall_s"] * ncores - r["task_run_ms"] / 1000.0 for r in rs) / max(1, len(rs))

    loads = lambda r: r["type"] == "load"
    mb = lambda r: r["type"] == "micro-batch"
    delta = ops_sum("delta_bytes", loads)
    wbytes = ops_sum("write_bytes", loads)
    last_state = [r.get("state_rows", 0) for r in ops if mb(r)]
    end = next(r for r in recs if r["kind"] == "end")
    return {
        "wall.setup_s": (setup["setup_s"], "s"),
        "wall.cold_pass_s": (rounds[0]["wall_s"], "s"),
        "wall.warm_pass_s": (median([r["wall_s"] for r in warm]), "s"),
        "wall.op_p50_s": (median(warm_ops(recs, first_warm, lambda r: r["wall_s"])), "s"),
        "jvm.peak_rss_mb": (end["peak_rss_mb"], "MB"),
        "jvm.jit_cpu_s": (tot("jit_cpu_s"), "s"),
        "jvm.gc_cpu_s": (tot("gc_cpu_s"), "s"),
        "session.create_s": (setup["create_s"], "s"),
        "session.register_s": (setup["register_s"], "s"),
        "session.log_warnings": (setup_warn, "count"),
        "queries.build_s": (ops_sum("build_s"), "s"),
        "queries.build_jobs": (ops_sum("build_jobs"), "count"),
        "plans.analysis_s": (tot("analysis_ms") / 1000, "s"),
        "plans.optimization_s": (tot("optimization_ms") / 1000, "s"),
        "plans.planning_s": (tot("planning_ms") / 1000, "s"),
        "plans.executions": (tot("executions"), "count"),
        "plans.cold_total_s": (sum(tot(k, rounds[:1]) for k in (
            "analysis_ms", "optimization_ms", "planning_ms")) / 1000, "s"),
        "functions.codegen_compile_s": (tot("codegen_compile_ns") / 1e9, "s"),
        "functions.codegen_classes": (tot("codegen_classes"), "count"),
        "functions.cold_codegen_compile_s": (tot("codegen_compile_ns", rounds[:1]) / 1e9, "s"),
        "ops.jobs": (tot("jobs"), "count"),
        "ops.stages": (tot("stages"), "count"),
        "ops.tasks": (tot("tasks"), "count"),
        "ops.task_run_s": (tot("task_run_ms") / 1000, "s"),
        "ops.task_cpu_s": (tot("task_cpu_ns") / 1e9, "s"),
        "ops.gc_s": (tot("gc_ms") / 1000, "s"),
        "ops.idle_slot_s": (idle(warm), "s"),
        "ops.shuffle_read_bytes": (tot("shuffle_read_bytes"), "bytes"),
        "ops.shuffle_write_bytes": (tot("shuffle_write_bytes"), "bytes"),
        "ops.spill_bytes": (tot("spill_bytes"), "bytes"),
        "ops.cold_jobs": (tot("jobs", rounds[:1]), "count"),
        "ops.cold_idle_slot_s": (idle(rounds[:1]), "s"),
        "sources.read_bytes": (tot("read_bytes"), "bytes"),
        "sources.read_rows": (tot("read_rows"), "count"),
        "sources.write_bytes": (tot("write_bytes"), "bytes"),
        "sources.write_rows": (tot("write_rows"), "count"),
        "sources.files_written": (ops_sum("files", loads), "count"),
        "sources.write_amplification": (wbytes / delta if delta else 0.0, "ratio"),
        "pipeline.parse_s": (ops_sum("parse_s", loads), "s"),
        "pipeline.upsert_s": (ops_sum("wall_s", lambda r: r.get("mode") == "upsert"), "s"),
        "pipeline.cdc_s": (ops_sum("wall_s", lambda r: r.get("mode") == "cdc"), "s"),
        "pipeline.rollup_s": (ops_sum("wall_s", lambda r: r.get("mode") == "rollup"), "s"),
        "pipeline.load_attempts": (ops_sum("attempts", loads), "count"),
        "streaming.drain_s": (sum(r["wall_s"] for r in recs if r["kind"] == "drain"
                                  and r["round"] >= first_warm) / max(1, nw), "s"),
        "streaming.batches": (ops_sum("ok", mb), "count"),
        "streaming.input_rows": (ops_sum("input_rows", mb), "count"),
        "streaming.add_batch_s": (ops_sum("add_batch_s", mb), "s"),
        "streaming.planning_s": (ops_sum("planning_s", mb), "s"),
        "streaming.commit_s": (ops_sum("commit_s", mb), "s"),
        "streaming.state_rows": (last_state[-1] if last_state else 0, "count"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop_children)
    build()
    import checks  # reads tools/check.py of the checkout
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        if wl["kind"] == "landing":
            data = os.path.join(tmp, "data")
            gen.landing(data, a.seed)
        else:
            data = os.path.join(HERE, "fixtures", wl["fixtures"])
        n = cores()
        rec = os.path.join(tmp, "records.jsonl")
        work = os.path.join(tmp, "work")
        os.makedirs(work)
        args = ["--kind", wl["kind"], "--data", data, "--cores", str(n),
                "--records", rec, "--work", work, "--rounds", str(rounds(wl, a.seconds)),
                "--trace", str(a.trace)]
        if wl["kind"] == "analytics":
            args += ["--queries", wl["queries"]]
        log("inputs ready; starting the benchmark JVM")
        steal0, total0 = cpu_ticks()
        jvm = Jvm(tmp, args, "main")
        setup_warn = jvm.wait(JVM_ALLOWANCE_S + 2 * a.seconds)
        steal1, total1 = cpu_ticks()
        log(f"JVM done; the host took {100 * (steal1 - steal0) / max(1, total1 - total0):.1f}% "
            "of the machine's CPU time meanwhile (steal); checking outputs")
        recs = read_records(rec)

        if wl["kind"] == "analytics":
            problems = checks.analytics(data, work, recs)
        else:
            problems = checks.landing(data, recs)
        log("checks done")
        for p in problems:
            log(f"CHECK FAILED: {p}")

        op_recs = [r for r in recs if r["kind"] == "op"]
        for t in OPS:
            rs = [r for r in op_recs if r["type"] == t]
            if rs:
                print(f"ops {t}: attempted {len(rs)} failed {sum(not r['ok'] for r in rs)}")
        for r in op_recs:
            if not r["ok"]:
                log(f"FAILED {r['type']} {r['name']} round {r['round']}: {r['error']}")
        if a.trace:
            metrics = per_layer(recs, n, setup_warn, wl["warm"])
            for k, (v, u) in end_to_end(recs, wl["warm"]).items():
                print(f"traced {k} {v} {u}")
        else:
            metrics = end_to_end(recs, wl["warm"])
        shutil.copy(rec, os.path.join(
            BUILD, f"{'trace' if a.trace else 'records'}-{a.workload}-s{a.seed}.jsonl"))
        for k, (v, u) in metrics.items():
            print(f"metric {k} {v} {u}")
        print(json.dumps({
            "correct": not problems,
            "attempted": len(op_recs),
            "failed": sum(not r["ok"] for r in op_recs),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        for p in list(Jvm.live):
            p.kill()
            p.wait()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
