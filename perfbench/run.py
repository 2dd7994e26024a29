#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, check, report.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. Compiles `src/main/scala` and the
harness in `perfbench/src` with the Scala compiler shipped in the Spark
jars (no sbt), runs the harness in one JVM against the sf0.1 tables,
compares every execution's fingerprint with `perfbench/expected`, and
prints one JSON line: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. The full artifact (provenance, per-query
rows, every metric with its sample count) is written beside the build,
or to `--artifact`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("relational", "curation", "learned")
HEAP = "4g"
DEADLINE_S = 170  # the whole run, build excluded
# warm passes per run; the first finishes the JIT warm-up and is not reported
WARM_PASSES = {"relational": 5, "curation": 3, "learned": 5}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


def dataset(root, sf="0.1"):
    """$PERFBENCH_DATA, else the sf0.1 directory TESTDATA.md lists."""
    if os.environ.get("PERFBENCH_DATA"):
        return os.environ["PERFBENCH_DATA"]
    with open(os.path.join(root, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == sf:
                return cells[2].rstrip("/")
    fail(f"TESTDATA.md lists no sf{sf} directory: set PERFBENCH_DATA")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    return main, harness


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(srcs, jars, classpath, out, log):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if rc != 0:
        fail(f"compile failed, see {log}")


def build(root, build_dir, spark):
    """Compile library + harness once per source digest."""
    main, harness = sources(root)
    if not main:
        fail("no src/main/scala here: run from the repository root")
    if not harness:
        fail("harness sources missing")
    key = digest(main + harness)
    dest = os.path.join(build_dir, "perfbench-" + key)
    if os.path.isdir(dest):
        return dest
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    jars = os.path.join(spark, "*")
    os.makedirs(tmp)
    scalac(main, spark, jars, os.path.join(tmp, "main"), os.path.join(tmp, "main.log"))
    scalac(harness, spark, os.path.join(tmp, "main") + os.pathsep + jars,
           os.path.join(tmp, "harness"), os.path.join(tmp, "harness.log"))
    for res in glob.glob(os.path.join(root, "src/main/resources/*")):
        shutil.copy(res, os.path.join(tmp, "main"))
    os.rename(tmp, dest)
    return dest


def fs_type(path):
    """Filesystem type of the mount holding `path` (tmpfs or a disk fs)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def git_commit(root):
    try:
        return subprocess.check_output(["git", "-C", root, "rev-parse", "HEAD"],
                                       stderr=subprocess.DEVNULL, text=True).strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def load_expected():
    exp = {}
    for path in glob.glob(os.path.join(HERE, "expected", "*.tsv")):
        with open(path) as f:
            for line in f:
                if line.strip() and not line.startswith("#"):
                    name, fp = line.rstrip("\n").split("\t")[:2]
                    exp[name] = fp
    return exp


def run_jvm(args, root, spark, data, classes, scratch, threads, t_start):
    cp = os.pathsep.join([os.path.join(classes, "harness"), os.path.join(classes, "main"),
                          os.path.join(spark, "*")])
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    jvm = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "--add-modules=jdk.incubator.vector", "-XX:+UseParallelGC",
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UseAdaptiveSizePolicy",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dlog4j2.level=ERROR", "-cp", cp, "perfbench.Harness"]
    remaining = DEADLINE_S - (time.time() - t_start)
    hargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--out", scratch, "--data", data, "--root", root,
             "--threads", str(threads), "--passes", str(WARM_PASSES[args.workload]),
             "--budget", str(max(10.0, remaining - 35))]
    if args.workload != "learned":
        hargs += ["--queries", os.path.join(HERE, "workloads", args.workload + ".txt")]
    log = open(os.path.join(scratch, "jvm.log"), "w")
    proc = subprocess.Popen(jvm + hargs, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(5.0, remaining))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = "timeout"
    finally:
        log.close()
    return rc


def remove_dead_scratch(work):
    """Delete scratch dirs left by benchmark processes that no longer
    exist; a live process's dir is never touched."""
    for d in glob.glob(os.path.join(work, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def read_events(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def metric(value, unit, n=None):
    m = {"value": value, "unit": unit}
    if n is not None:
        m["n"] = n
    return m


def summarize(events, expected):
    """Turn the harness's JSON lines into metrics plus per-query rows."""
    setup = next((e for e in events if e["kind"] == "setup"), None)
    execs = [e for e in events if e["kind"] == "exec"]
    end = next((e for e in events if e["kind"] == "end"), None)
    if setup is None or not execs or end is None:
        raise RuntimeError("harness ended early")
    # timed executions fail by throwing or timing out; the check pass
    # also compares each query's fingerprint with its expectation
    failed = []
    for e in execs:
        want = expected.get(e["query"])
        if e["err"]:
            e["status"] = "error"
        elif e["pass"] != "check":
            e["status"] = "ok"
        elif want is None:
            e["status"] = "no-expectation"
        elif e["fp"] != want:
            e["status"] = "wrong-result"
        else:
            e["status"] = "ok"
        if e["status"] != "ok":
            failed.append({"pass": e["pass"], "query": e["query"], "status": e["status"],
                           "err": e["err"], "fp": e["fp"], "expected": want})
    cold = [e for e in execs if e["pass"] == "cold"]
    warm = [e for e in execs if e["pass"] == "warm" and e["pass_idx"] >= 2]
    checked = {e["query"] for e in execs if e["pass"] == "check"}
    if checked != {e["query"] for e in cold}:
        raise RuntimeError("the check pass did not cover every measured query")
    by_q = {}
    for e in warm:
        by_q.setdefault(e["query"], []).append(e["wall_ms"])
    # latency percentiles across queries, each at its median warm
    # execution: one slow sample cannot move them, a slow query can
    per_query = [statistics.median(v) for v in by_q.values()]
    p50, _ = stats.percentile(per_query, 50)
    p90, _ = stats.percentile(per_query, 90)
    e2e = {
        "setup_s": metric(setup["setup_s"], "s"),
        "cold_s": metric(sum(e["wall_ms"] for e in cold) / 1e3, "s", len(cold)),
        "warm_s": metric(sum(statistics.median(v) for v in by_q.values()) / 1e3, "s", len(warm)),
        "warm_p50_ms": metric(p50, "ms", len(warm)),
        "warm_p90_ms": metric(p90, "ms", len(warm)),
        "heap_peak_mb": metric(end["heap_peak_mb"], "MiB"),
        "failed_frac": metric(len(failed) / len(execs), "fraction", len(execs)),
    }
    refresh = next((e for e in events if e["kind"] == "refresh"), None)
    if refresh:
        e2e["refresh_s"] = metric(refresh["refresh_s"], "s")
    rows = {}
    for e in execs:
        r = rows.setdefault(e["query"], {"family": e["family"]})
        r.setdefault(e["pass"], []).append(round(e["wall_ms"], 3))
    return e2e, failed, rows, execs, setup, refresh


def action_ms(e):
    """An execution's action span without codegen."""
    return sum(e["self_ms"][k] for k in ("exec", "sched", "driver"))


def per_layer(execs, setup, refresh, threads):
    """Per-layer metrics of a traced run: the cold pass plus the mean
    traced warm pass (learned adds the native arm's own metrics). Adds
    each traced execution's layer self-times to it as `self_ms`."""
    for e in execs:
        if e["traced"]:
            e["self_ms"] = stats.self_times(e)
    cold = [e for e in execs if e["pass"] == "cold" and e["traced"]]
    warm = [e for e in execs if e["pass"] == "warm" and e["traced"] and e["pass_idx"] >= 2]
    n_warm = len({e["pass_idx"] for e in warm}) or 1

    def total(fn):
        return sum(fn(e) for e in cold) + sum(fn(e) for e in warm) / n_warm

    def layer(name):
        return total(lambda e: e["self_ms"][name])

    span = setup["spans"]
    m = {
        "engine.register_s": metric(span["engine.register_s"], "s"),
        "engine.prewarm_s": metric(span["engine.prewarm_s"], "s"),
        "plans.model_load_s": metric(span["plans.model_load_s"], "s"),
        "query.build_ms": metric(layer("build"), "ms"),
        "catalyst.analysis_ms": metric(layer("parse") + layer("analysis"), "ms"),
        "catalyst.optimization_ms": metric(layer("optimization"), "ms"),
        "catalyst.planning_ms": metric(layer("planning"), "ms"),
        "sched.jobs": metric(total(lambda e: e["jobs"]), "count"),
        "sched.stages": metric(total(lambda e: e["stages"]), "count"),
        "sched.tasks": metric(total(lambda e: e["tasks"]), "count"),
        "sched.idle_ms": metric(layer("sched") + layer("driver"), "ms"),
        "sched.job_gap_ms": metric(layer("sched"), "ms"),
        "sched.driver_ms": metric(layer("driver"), "ms"),
        "codegen.compile_ms": metric(total(lambda e: e["codegen_ms"]), "ms"),
        "codegen.compiles": metric(total(lambda e: e["codegen_n"]), "count"),
        "exec.run_ms": metric(total(lambda e: e["run_ms"]), "ms"),
        "exec.cpu_ms": metric(total(lambda e: e["cpu_ms"]), "ms"),
        "exec.gc_ms": metric(total(lambda e: e["task_gc_ms"]), "ms"),
        "exec.slot_util": metric(total(lambda e: e["run_ms"]) / max(1e-9, layer("exec") * threads),
                                 "fraction"),
        "shuffle.write_bytes": metric(total(lambda e: e["shuffle_write"]), "bytes"),
        "shuffle.read_bytes": metric(total(lambda e: e["shuffle_read"]), "bytes"),
        "shuffle.fetch_wait_ms": metric(total(lambda e: e["fetch_wait_ms"]), "ms"),
        "spill.bytes": metric(total(lambda e: e["spill"]), "bytes"),
        "jvm.gc_ms": metric(total(lambda e: e["jvm_gc_ms"]), "ms"),
    }
    # trace overhead: the traced warm passes 2 and 5 against the
    # untraced 3 and 4 (ABBA), whole passes of the same queries
    untraced = [e for e in execs if e["pass"] == "warm" and not e["traced"] and e["pass_idx"] >= 2]
    if ({e["pass_idx"] for e in warm}, {e["pass_idx"] for e in untraced}) != ({2, 5}, {3, 4}):
        raise RuntimeError("traced run lacks the ABBA warm passes 2-5")
    tw = sum(e["wall_ms"] for e in warm) / 2
    uw = sum(e["wall_ms"] for e in untraced) / 2
    m["bench.trace_wall_ratio"] = metric(tw / uw, "ratio")
    m["bench.trace_overhead_frac"] = metric(tw / uw - 1.0, "fraction")
    fams = {}
    for e in cold:
        fams.setdefault(e["family"], [0.0, 0.0])[0] += e["wall_ms"] / 1e3
    for e in warm:
        fams.setdefault(e["family"], [0.0, 0.0])[1] += e["wall_ms"] / 1e3 / n_warm
    for f, (c, w) in sorted(fams.items()):
        m[f"family.{f}.cold_s"] = metric(c, "s")
        m[f"family.{f}.warm_s"] = metric(w, "s")
    # learned-planner decisions; the strategy is dormant elsewhere (0)
    decisions = [e.get("decision") for e in cold]
    for d in ("routed", "declined", "bypassed"):
        m[f"plans.{d}"] = metric(decisions.count(d), "count")
    if any(e["pass"] == "native" for e in execs):
        native = {e["query"]: e for e in execs if e["pass"] == "native" and e["traced"]}
        sweep = [e["phases"].get("planning", 0) - native[e["query"]]["phases"].get("planning", 0)
                 for e in cold if e["query"] in native]
        if sweep:
            m["plans.sweep_ms"] = metric(sum(sweep) / len(sweep), "ms", len(sweep))
        last = max(e["pass_idx"] for e in warm) if warm else None
        m["plans.routed_exec_s"] = metric(
            sum(action_ms(e) for e in warm if e["pass_idx"] == last) / 1e3, "s")
        m["plans.native_exec_s"] = metric(sum(action_ms(e) for e in native.values()) / 1e3, "s")
    m["planopt.candidates"] = metric(refresh["candidates"] if refresh else 0, "count")
    m["planopt.train_pairs"] = metric(refresh["train_pairs"] if refresh else 0, "count")
    if refresh:
        m["planopt.enumerate_ms"] = metric(refresh["enumerate_s"] * 1e3, "ms")
        m["planopt.train_ms"] = metric(refresh["train_s"] * 1e3, "ms")
        m["planopt.eval_ms"] = metric(refresh["eval_s"] * 1e3, "ms")
        if refresh.get("ranking_loss") is not None:
            m["planopt.ranking_loss"] = metric(refresh["ranking_loss"], "loss")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", help="where to write the full JSON artifact")
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no src/main/scala here: run from the repository root")
    spark = spark_jars(root)
    data = dataset(root)
    if not os.path.isdir(data):
        fail(f"dataset {data} not found (set PERFBENCH_DATA)")
    expected = load_expected()
    if not expected:
        fail("no expected fingerprints under perfbench/expected")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(root, build_dir, spark)
    t_start = time.time()  # the deadline covers the run, not the one-off build

    threads = min(4, len(os.sched_getaffinity(0)))
    load_before = os.getloadavg()
    work = os.path.join(build_dir, "perfbench-runs")
    os.makedirs(work, exist_ok=True)
    remove_dead_scratch(work)
    scratch = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(scratch)
    try:
        rc = run_jvm(args, root, spark, data, classes, scratch, threads, t_start)
        events_path = os.path.join(scratch, "events.jsonl")
        if rc != 0 or not os.path.exists(events_path):
            with open(os.path.join(scratch, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"harness exited with {rc}")
        events = read_events(events_path)
        e2e, failed, rows, execs, setup, refresh = summarize(events, expected)
        layers = per_layer(execs, setup, refresh, threads) if args.trace else {}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    env = next(e for e in events if e["kind"] == "env")
    provenance = {
        "nproc": os.cpu_count(), "task_threads": threads, "heap": HEAP,
        "heap_max_mb": env["heap_max_mb"], "java": env["java"], "spark": env["spark"],
        "git_commit": git_commit(root), "source_digest": os.path.basename(classes),
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "scratch": os.path.relpath(scratch, root), "scratch_fs": fs_type(scratch),
        "data": os.path.basename(data),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "elapsed_s": round(time.time() - t_start, 3),
    }
    artifact = {
        "workload": args.workload, "provenance": provenance,
        "end_to_end": e2e, "per_layer": layers,
        "correct": not failed, "failures": failed,
        "queries": rows, "setup": setup, "refresh": refresh,
        "executions": execs if args.trace else [],
    }
    path = args.artifact or os.path.join(
        work, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    names = [m["name"] for m in spec["end_to_end" if not args.trace else "per_layer"]]
    source = layers if args.trace else e2e
    metrics = {k: {"value": source[k]["value"], "unit": source[k]["unit"]} for k in names}
    for k, v in sorted(e2e.items()):
        print(f"{k:>14} = {v['value']:.4f} {v['unit']}" + (f"  (n={v['n']})" if "n" in v else ""),
              file=sys.stderr)
    print(json.dumps({"correct": not failed, "attempted": len(execs),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
