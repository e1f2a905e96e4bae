#!/usr/bin/env python3
"""Regrid benchmark: builds the benchmark driver against the repository's
main sources, runs one workload in one Spark driver process at
local[<cores>], and prints every metric by name with its unit. The last
stdout line is one JSON object: correct, attempted, failed, metrics.

  python3 regridbench/run.py --workload slab_apply --seed 1 --seconds 8 --trace 0
  python3 regridbench/run.py --workload slab_apply --steady 10    # spread of N runs
  python3 regridbench/run.py --selftest                           # unit checks

Run it from the root of the repository. See regridbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("slab_apply", "relational_apply", "weights_build", "pipeline_mix")
MAIN_SRC = os.path.join("src", "main", "scala")
TARGET = os.path.join(HERE, "target")
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

WEIGHT_METHODS = ("bilinear", "patch", "conservative", "nearest_s2d", "conservative_curv")
PIPELINE_QUERIES = ("q_dedup_incremental", "q_ann_pq", "q_classifier_auc")


def die(msg):
    print(f"regridbench: {msg}", file=sys.stderr)
    sys.exit(2)


def wait(p, timeout, what, log):
    """Waits for a child started in its own session; on timeout, kills its
    whole process group and waits for it before giving up."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{what} did not finish in {timeout} s; see {log}")


def spark_home():
    """SPARK_HOME, or the installation of the first spark-submit on PATH
    that sits next to Spark's jars."""
    if "SPARK_HOME" in os.environ:
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    die("Spark not found: set SPARK_HOME or put Spark's bin directory on PATH")


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(MAIN_SRC, "graft", "SparkEntry.scala")):
        die(f"{MAIN_SRC} not found: run from the repository root")
    files = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(TARGET, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx1g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        rc = wait(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            start_new_session=True), BUILD_TIMEOUT_S, "the build", log)
    with open(log) as fh:
        lines = [ln for ln in fh.read().splitlines()
                 if not ln.startswith("[") and "classes" in ln and ":" in ln]
    if rc != 0 or not lines:
        die(f"build failed (exit {rc}); see {log}")
    cp = lines[-1].strip()
    for old in glob.glob(os.path.join(TARGET, "classpath-*.txt")):
        os.remove(old)
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp


def run_jvm(cp, workload, seed, seconds, trace):
    """One driver process; returns its raw measurements."""
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(TARGET, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    out = os.path.join(scratch, "raw.json")
    log = os.path.join(TARGET, f"run-{workload}.log")
    # a pinned heap, pre-touched on transparent huge pages: the join +
    # group-by path is memory-latency bound, and this held its run-to-run
    # spread of op_p50_s to 1% against 6% on 4 KiB pages (4 runs each).
    # No hsperfdata file, so the run writes only inside the checkout.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseTransparentHugePages",
            "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}/tmp"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "regridbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores), "--scratch", scratch, "--out", out])
    # Spark takes its local dirs from these variables before its own
    # setting; point them all at the run's scratch directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    for var in ("LOCAL_DIRS", "SPARK_EXECUTOR_DIRS"):
        env.pop(var, None)
    try:
        with open(log, "w") as fh:
            t0 = time.time_ns()
            rc = wait(subprocess.Popen(cmd + ["--t0-ns", str(t0)], stdout=fh, stderr=fh,
                                       env=env, start_new_session=True),
                      RUN_TIMEOUT_S, workload, log)
        if rc != 0 or not os.path.isfile(out):
            die(f"{workload} driver exited {rc}; see {log}")
        keep = os.path.join(TARGET, f"last-{workload}{'-trace' if trace else ''}.json")
        shutil.copyfile(out, keep)
        with open(keep) as fh:
            raw = json.load(fh)
        raw["oracle_errors"] = oracle_check(raw["oracle"], scratch, cores)
        return raw
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def rows(con, sql):
    """A result as a sorted list of rows, columns in name order."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=names.__getitem__)
    return [names[i] for i in order], sorted(
        (tuple(r[i] for i in order) for r in cur.fetchall()), key=repr)


def oracle_check(oracle, scratch, cores):
    """Compares each pipeline query's set-up result, as the driver wrote
    it, with its DuckDB oracle over the same input tables; returns the
    mismatches. Floats are compared exactly: both engines round them."""
    if not oracle:
        return []
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {cores}")
    con.execute(f"SET temp_directory = '{scratch}/duckdb'")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{scratch}/data/{t}.parquet/*.parquet')")
    errors = []
    for name, sql in sorted(oracle.items()):
        got = rows(con, f"SELECT * FROM read_parquet('{scratch}/results/{name}/*.parquet')")
        err = mismatch(got, rows(con, sql))
        if err:
            errors.append(f"{name}: {err}")
    return errors


def mismatch(got, want):
    """How two results from `rows` differ, or None. An empty result is a
    mismatch too: it would make the check vacuous."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc}, oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows, oracle {len(wr)}"
    if not gr:
        return "empty result"
    bad = next((i for i, (g, w) in enumerate(zip(gr, wr)) if g != w), None)
    return None if bad is None else f"row {bad} {gr[bad]}, oracle {wr[bad]}"


def span_tree(raw):
    """Spans of the traced ops, grouped by op, with self times."""
    spans = raw["spans"]
    self_s = stats.self_times(spans)
    by_op = {}
    for s in spans:
        s["self_s"] = self_s[s["id"]]
        s["dur_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
        by_op.setdefault(s["op"], []).append(s)
    return by_op


def end_to_end(raw):
    ops = [o for o in raw["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops]
    tail, pct, n = stats.tail(walls)
    items = sum(o["items"] for o in ops)
    metrics = {
        "setup_s": (raw["startup_s"] + stats.median(raw["setup_s"]), "s"),
        "op_p50_s": (stats.median(walls), "s"),
        "op_tail_s": (tail, "s"),
        "work_items_per_s": (items / sum(walls), "1/s"),
        "cpu_s_per_op": (stats.median([o["cpu_s"] for o in ops]), "s"),
        "retained_heap_mb": (raw["retained_heap_bytes"] / 2**20, "MB"),
    }
    note = (f"op_tail_s is p{pct:.1f} of n={n} timed ops; warm-up ops: {len(raw['warmup'])}; "
            f"set-up runs: {', '.join(f'{s:.3f}' for s in raw['setup_s'])} s "
            f"after {raw['startup_s']:.3f} s of JVM and Spark start")
    return metrics, note


def per_layer(raw):
    cores = raw["cores"]
    by_op = span_tree(raw)
    traced = [o for o in raw["ops"] if o["traced"]]
    untraced = [o for o in raw["ops"] if not o["traced"]]
    facts = raw["facts"]
    med = stats.median

    def per_op(key):
        return med([sum(s[key] for s in spans) for spans in by_op.values()])

    def named(name, key):
        vals = [sum(s[key] for s in spans if s["name"] == name) for spans in by_op.values()]
        return med(vals)

    walls = {op: next(s["dur_s"] for s in spans if s["name"] == "op")
             for op, spans in by_op.items()}
    p50_untraced = med([o["wall_s"] for o in untraced])
    m = {
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.stages": (per_op("stages"), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "B"),
        "spark.shuffle_read_bytes": (per_op("shuffle_read_bytes"), "B"),
        "spark.spill_bytes": (per_op("spill_bytes"), "B"),
        "spark.executor_cpu_s": (per_op("cpu_ns") / 1e9, "s"),
        "spark.scheduler_delay_s": (per_op("scheduler_delay_ms") / 1e3, "s"),
        "spark.parallel_efficiency": (med([
            sum(s["run_ms"] for s in spans) / 1e3 / (walls[op] * cores)
            for op, spans in by_op.items()]), "ratio"),
        "jvm.alloc_mb_per_op": (med([o["alloc_bytes"] for o in raw["ops"]]) / 2**20, "MB"),
        "jvm.gc_s_per_op": (med([o["gc_s"] for o in raw["ops"]]), "s"),
        # ops run with Spark's code cache emptied first: the classes an op
        # generates, and what compiling them all again costs per op
        "codegen.classes_per_op": (med([o["compiles"] for o in raw["recompiled"]]), "count"),
        "codegen.recompile_s_per_op": (
            med([o["wall_s"] for o in raw["recompiled"]]) - p50_untraced, "s"),
        # the first set-up, from process launch: the cold path, with
        # class loading and code generation that later set-ups reuse
        "setup.cold_s": (raw["startup_s"] + raw["setup_s"][0], "s"),
        "host.steal_s": (raw["steal_s"], "s"),
        "host.loadavg": (raw["loadavg"], "load"),
        "trace.overhead_s": (med([o["wall_s"] for o in traced]) - p50_untraced, "s"),
        # share of each traced op's wall time that the self times of its
        # layer spans (every span but the op's root) account for
        "trace.span_coverage": (med([
            sum(s["self_s"] for s in spans if s["name"] != "op") / walls[op]
            for op, spans in by_op.items()]), "ratio"),
    }
    scan = facts.get("slab.scan_floor_s", 0.0)
    kernel = p50_untraced - scan if scan else 0.0
    bytes_c = facts.get("slab.bytes_computed", 0.0)
    m.update({
        "slab.scan_floor_s": (scan, "s"),
        "slab.kernel_s": (kernel, "s"),
        "slab.flops": (facts.get("slab.flops", 0.0), "count"),
        "slab.bytes_computed": (bytes_c, "B"),
        "slab.gbps_computed": (bytes_c / kernel / 1e9 if kernel > 0 else 0.0, "GB/s"),
        "stream.triad_gbps": (facts.get("stream.triad_gbps", 0.0), "GB/s"),
        "regridder.collect_w_s": (facts.get("regridder.collect_w_s", 0.0), "s"),
        "regridder.persist_s": (named("regridder.persist", "dur_s"), "s"),
        "regridder.reuse_s": (named("regridder.reuse", "dur_s"), "s"),
        "weights.disk_bytes_per_triplet": (facts.get("weights.disk_bytes_per_triplet", 0.0), "B"),
    })
    for meth in WEIGHT_METHODS:
        span = f"weights.{meth}"
        m[f"{span}.build_s"] = (named(span, "dur_s"), "s")
        m[f"{span}.nnz"] = (facts.get(f"{span}.nnz", 0.0), "count")
        m[f"{span}.tasks"] = (named(span, "tasks"), "count")
        m[f"{span}.shuffle_bytes"] = (named(span, "shuffle_write_bytes"), "B")
    for q in PIPELINE_QUERIES:
        span = f"pipeline.{q}"
        m[f"{span}.s"] = (named(span, "dur_s"), "s")
        m[f"{span}.jobs"] = (named(span, "jobs"), "count")
        m[f"{span}.tasks"] = (named(span, "tasks"), "count")
        m[f"{span}.shuffle_bytes"] = (named(span, "shuffle_write_bytes"), "B")
    names = sorted({s["name"] for spans in by_op.values() for s in spans})
    note = (f"traced ops: {len(traced)} (every other timed op), untraced: {len(untraced)}; "
            "median self time per op: " +
            ", ".join(f"{n} {named(n, 'self_s'):.4f} s" for n in names))
    return m, note


def measure(cp, workload, seed, seconds, trace):
    raw = run_jvm(cp, workload, seed, seconds, trace)
    metrics, note = (per_layer if trace else end_to_end)(raw)
    ops = raw["ops"]
    failed = sum(not o["ok"] for o in ops)
    errors = [o["error"] for o in raw["warmup"] + ops + raw["recompiled"] if not o["ok"]]
    errors += [f"oracle mismatch: {e}" for e in raw["oracle_errors"]]
    result = {
        "correct": not errors,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    lines = [f"{workload} seed={seed} cores={raw['cores']}: {note}",
             f"host steal {raw['steal_s']:.2f} s, loadavg {raw['loadavg']:.2f} during the run"]
    lines += [f"op failed: {e}" for e in errors[:5]]
    lines += [f"  {k} = {v:.6g} {u}" for k, (v, u) in metrics.items()]
    return result, lines


def steady(cp, args):
    """Repeat one workload with seeds 1..N; print each metric's spread."""
    runs = []
    for seed in range(1, args.steady + 1):
        result, lines = measure(cp, args.workload, seed, args.seconds, args.trace)
        runs.append(result)
        print("\n".join(lines[:2]))
        print(f"run {seed}: " + json.dumps(result), flush=True)
    print(f"{args.workload}: {len(runs)} runs of {args.seconds} s")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        s = stats.spread(vals)
        print(f"  {name}: median {s['median']:.6g}  q1 {s['q1']:.6g}  q3 {s['q3']:.6g}  "
              f"iqr/median {s['iqr_over_median']:.4f}")
    return 0 if all(r["correct"] for r in runs) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
        return 0 if unittest.TextTestRunner().run(suite).wasSuccessful() else 1
    if not args.workload:
        ap.error("--workload is required")
    cp = build()
    if args.steady:
        return steady(cp, args)
    result, lines = measure(cp, args.workload, args.seed, args.seconds, args.trace)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
