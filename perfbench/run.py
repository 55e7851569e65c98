#!/usr/bin/env python3
"""User-facing benchmark for the sensor pipeline engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 10 --trace 0

Workloads: ingest, analyst, curation (see perfbench/README.md).
The first run in a checkout builds the engine and the benchmark with sbt
into the checkout's own target directories; later runs reuse the build
while the sources and the jars on its classpath are unchanged. Every run
measures afresh.

--trace 0 prints the end-to-end metrics; --trace 1 runs the workload once
untraced and once traced, prints the per-layer metrics and the tracing
overhead, and writes spans and a per-layer summary under
.bench_build/trace/. The last line of stdout is always one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Extra modes (not used for measurement):
    --selftest   timed-call canary + ingest truth self-test
    --pin        re-pin per-query digests and cold costs (perfbench/pinned.json)
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
PINNED = os.path.join(BENCH, "pinned.json")
TABLES = os.path.join(BUILD, "tables")
WORKLOADS = ("ingest", "analyst", "curation")
DEADLINE_S = 170.0
FAMILIES = ("agg", "rel", "adv", "sim", "dd", "txt", "ml", "mm", "graph")

# The metrics the final JSON line carries (BENCHMARK.json lists the same).
END_TO_END = [("op_p50_ms", "ms"), ("ops_per_s", "1/s"), ("live_heap_mb", "MB"),
              ("setup_s", "s")]
PER_LAYER = (
    [("analytics.build_ms_p50", "ms"), ("analytics.build_s_total", "s"),
     ("analytics.build_jobs", "count"),
     ("spark.analysis_ms_p50", "ms"), ("spark.optimize_ms_p50", "ms"),
     ("spark.plan_ms_p50", "ms"),
     ("spark.exec_ms_p50", "ms"), ("spark.exec_s_total", "s"), ("spark.jobs", "count"),
     ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.task_busy_ratio", "ratio"),
     ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
     ("spark.spill_mb", "MB"), ("jvm.gc_s", "s"),
     ("operators.cache_hits", "count"), ("operators.cache_misses", "count"),
     ("operators.cache_evictions", "count"), ("operators.cache_hit_ratio", "ratio"),
     ("operators.repeat_miss_ratio", "ratio"), ("operators.artifact_mb", "MB"),
     ("util.blocks_held", "count")]
    + [(f"family.{f}.{k}", "s") for f in FAMILIES for k in ("build_s", "exec_s")]
    + [(f"streaming.{leg}.{k}", "ms") for leg in ("index", "archive")
       for k in ("batch_p50_ms", "source_ms_p50", "planning_ms_p50", "add_batch_ms_p50",
                 "commit_ms_p50")]
    + [("streaming.index.state_rows", "count"), ("streaming.index.state_mb", "MB"),
       ("streaming.index.late_dropped", "count"), ("streaming.index.checkpoint_mb", "MB"),
       ("streaming.dead_letters", "count"),
       ("compaction.runs", "count"), ("compaction.fire_batch_ms", "ms"),
       ("compaction.rewrite_mb", "MB"), ("compaction.files_in", "count"),
       ("compaction.files_out", "count")])

MB = 1048576.0
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def source_stamp(cp=""):
    """Hash of the sources, build files and pins, and of the size and
    modification time of every jar on the classpath `cp` and every jar
    beside them (the engine's build takes whole jar directories)."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             PINNED]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if not os.path.exists(f):
            continue
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    jar_dirs = sorted({os.path.dirname(e) for e in cp.split(os.pathsep) if e.endswith(".jar")})
    for d in jar_dirs:
        h.update(d.encode())
        for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            p = os.path.join(d, name)
            if name.endswith(".jar") and os.path.isfile(p):
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt and generate the query tables;
    both are cached in .bench_build until a source, the pins or a jar on
    the classpath change."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(cp_file) as g:
            cp = g.read().strip()
        with open(stamp_file) as f:
            if f.read().strip() == source_stamp(cp):
                return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark (sbt)")
    t = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.forcestart=false", "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        raise BenchError(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    log(f"build done in {time.time() - t:.0f} s")
    shutil.rmtree(TABLES, ignore_errors=True)
    scratch = os.path.join(BUILD, "runs", f"gen-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    try:
        run_jvm(cp, "gen", {"tables": TABLES}, scratch, time.time())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(source_stamp(cp))
    return cp


# ------------------------------------------------------- repo hygiene

def tree_snapshot():
    """Files of the checkout outside the build and scratch directories."""
    snap = {}
    for d, dirs, fs in os.walk(ROOT):
        rel = os.path.relpath(d, ROOT)
        dirs[:] = [x for x in dirs if x not in ("target", ".git")
                   and not (rel == "." and x == ".bench_build")]
        for f in fs:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            snap[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return snap


def tree_changes(before, after):
    added = sorted(set(after) - set(before))
    gone = sorted(set(before) - set(after))
    changed = sorted(k for k in set(before) & set(after) if before[k] != after[k])
    return added + gone + changed


# ------------------------------------------------------------ the JVM

def run_jvm(cp, mode, args, scratch, t_start):
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    out = os.path.join(scratch, "result.json")
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens
           + ["-cp", cp, "perfbench.Main", mode, f"scratch={scratch}", f"out={out}"]
           + [f"{k}={v}" for k, v in args.items()])
    remaining = DEADLINE_S - (time.time() - t_start)
    if remaining < 20:
        raise BenchError("no time left for the run")
    launch = time.time()
    with open(os.path.join(scratch, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=jlog, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=remaining)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("JVM run timed out")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(scratch, "jvm.log")) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        raise BenchError(f"JVM exited with {rc}")
    with open(os.path.join(scratch, "jvm.log")) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(out) as f:
        res = json.load(f)
    res["launch_s"] = launch
    return res


# ------------------------------------------------------------ metrics

def pct(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 1)) - 1))
    return xs[k]


def end_to_end(workload, res):
    """Returns (metrics {name: (value, unit, samples)}, attempted, failed)."""
    m = {}
    if workload == "ingest":
        data = [b for b in res["batches"] if b["rows"] > 0]
        lat = [b["trigger_ms"] for b in data]
        attempted = len(data)
        failed = 0 if res["correct"] else attempted
        wall = res["timed_s"]
        m["rows_per_s"] = (res["frames"] / wall, "rows/s", 1)
        m["ops_per_s"] = (attempted / wall, "1/s", attempted)
        m["write_amp"] = (res["written_bytes"] / res["wire_bytes"], "ratio", 1)
        m["sink_files"] = (res["sink_files"], "count", 1)
    else:
        ops = res["ops"]
        good = [o for o in ops if o["ok"]]
        lat = [o["build_ms"] + o["exec_ms"] for o in good]
        attempted = len(ops)
        failed = sum(1 for o in ops if not (o["ok"] and o["correct"]))
        m["ops_per_s"] = (len(good) / res["timed_s"], "1/s", len(good))
        if workload == "curation":
            m["scratch_mb"] = (res["artifact_bytes"] / MB, "MB", 1)
    m["op_p50_ms"] = (statistics.median(lat) if lat else 0.0, "ms", len(lat))
    if len(lat) >= 100:
        m["op_p90_ms"] = (pct(lat, 0.9), "ms", len(lat))
    m["error_rate"] = (failed / max(1, attempted), "ratio", attempted)
    m["live_heap_mb"] = (res["live_heap_mb"], "MB", 1)
    m["setup_s"] = (res["first_op_ms"] / 1000.0 - res["launch_s"], "s", 1)
    return m, attempted, failed


def per_layer(workload, res):
    v = {name: 0.0 for name, _ in PER_LAYER}
    v["jvm.gc_s"] = res["gc_s"]
    if workload == "ingest":
        for leg in ("index", "archive"):
            bs = [b for b in res["batches"] if b["leg"] == leg and b["rows"] > 0]
            for key, src in (("batch_p50_ms", "trigger_ms"), ("source_ms_p50", "source_ms"),
                             ("planning_ms_p50", "planning_ms"),
                             ("add_batch_ms_p50", "add_batch_ms"), ("commit_ms_p50", "commit_ms")):
                v[f"streaming.{leg}.{key}"] = statistics.median([b[src] for b in bs]) if bs else 0.0
        v["streaming.index.state_rows"] = res["state_rows"]
        v["streaming.index.state_mb"] = res["state_bytes"] / MB
        v["streaming.index.late_dropped"] = res["late_dropped"]
        v["streaming.index.checkpoint_mb"] = res["checkpoint_bytes"] / MB
        v["streaming.dead_letters"] = res["dead_letters"]
        fired = [c for c in res["compaction"] if c["fired"]]
        v["compaction.runs"] = len(fired)
        v["compaction.fire_batch_ms"] = statistics.median([c["ms"] for c in fired]) if fired else 0.0
        v["compaction.rewrite_mb"] = sum(c["rewrite_bytes"] for c in fired) / MB
        v["compaction.files_in"] = sum(c["files_in"] for c in fired)
        v["compaction.files_out"] = sum(c["files_out"] for c in fired)
        return v
    ops = [o for o in res["ops"] if o["ok"]]
    stats = {s["i"]: s for s in res["op_stats"]}
    st = [stats[o["i"]] for o in ops if o["i"] in stats]
    med = lambda xs: statistics.median(xs) if xs else 0.0
    v["analytics.build_ms_p50"] = med([o["build_ms"] for o in ops])
    v["analytics.build_s_total"] = sum(o["build_ms"] for o in ops) / 1000.0
    v["analytics.build_jobs"] = sum(s["build_jobs"] for s in st)
    v["spark.analysis_ms_p50"] = med([s["analysis_ms"] for s in st])
    v["spark.optimize_ms_p50"] = med([s["optimize_ms"] for s in st])
    v["spark.plan_ms_p50"] = med([s["plan_ms"] for s in st])
    v["spark.exec_ms_p50"] = med([o["exec_ms"] for o in ops])
    v["spark.exec_s_total"] = sum(o["exec_ms"] for o in ops) / 1000.0
    for k in ("jobs", "stages", "tasks"):
        v[f"spark.{k}"] = sum(s[k] for s in st)
    wall_ms = sum(o["build_ms"] + o["exec_ms"] for o in ops)
    v["spark.task_busy_ratio"] = (sum(s["run_ms"] for s in st) / (wall_ms * res["cores"])
                                  if wall_ms else 0.0)
    v["spark.shuffle_read_mb"] = sum(s["shuffle_read"] for s in st) / MB
    v["spark.shuffle_write_mb"] = sum(s["shuffle_write"] for s in st) / MB
    v["spark.spill_mb"] = sum(s["spill"] for s in st) / MB
    hits = sum(o["memo_hits"] for o in ops)
    misses = sum(o["memo_misses"] for o in ops)
    v["operators.cache_hits"] = hits
    v["operators.cache_misses"] = misses
    v["operators.cache_evictions"] = sum(o["memo_evictions"] for o in ops)
    v["operators.cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    rep = [o for o in ops if o["repeat"]]
    rep_lookups = sum(o["memo_hits"] + o["memo_misses"] for o in rep)
    v["operators.repeat_miss_ratio"] = (sum(o["memo_misses"] for o in rep) / rep_lookups
                                        if rep_lookups else 0.0)
    v["operators.artifact_mb"] = res["artifact_bytes"] / MB
    v["util.blocks_held"] = statistics.mean([o["persisted_rdds"] for o in ops]) if ops else 0.0
    for f in FAMILIES:
        fo = [o for o in ops if o["family"] == f]
        v[f"family.{f}.build_s"] = sum(o["build_ms"] for o in fo) / 1000.0
        v[f"family.{f}.exec_s"] = sum(o["exec_ms"] for o in fo) / 1000.0
    return v


def print_table(title, rows):
    print(title)
    for name, value, unit, extra in rows:
        print(f"  {name:<36} {value:>14.4f} {unit:<7} {extra}")


def one_run(cp, workload, seed, seconds, trace, t_start):
    scratch = os.path.join(BUILD, "runs", f"{workload}-{seed}-{'t' if trace else 'u'}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    before = tree_snapshot()
    try:
        args = {"workload": workload, "seed": seed, "seconds": seconds,
                "trace": 1 if trace else 0, "digests": PINNED, "tables": TABLES,
                "spans": os.path.join(scratch, "spans.json")}
        res = run_jvm(cp, "run", args, scratch, t_start)
        if trace:
            tdir = os.path.join(BUILD, "trace", f"{workload}-seed{seed}")
            os.makedirs(tdir, exist_ok=True)
            shutil.copy(os.path.join(scratch, "spans.json"), os.path.join(tdir, "spans.json"))
            res["trace_dir"] = tdir
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    leaked = tree_changes(before, tree_snapshot())
    if leaked:
        log(f"run wrote into the checkout: {leaked[:10]}")
    res["leaked"] = leaked
    # Keep the raw samples of the run for inspection; nothing reads them back.
    kept = os.path.join(BUILD, "results", f"{workload}-seed{seed}-s{seconds}-"
                        f"{'traced' if trace else 'untraced'}.json")
    os.makedirs(os.path.dirname(kept), exist_ok=True)
    with open(kept, "w") as f:
        json.dump(res, f)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("not a checkout of the engine: run from the repository root")
        return 2
    cp = build()
    t_start = time.time()
    if a.pin:
        return pin(cp, t_start)
    if a.selftest:
        return selftest(cp, a, t_start)
    if not a.workload:
        ap.error("--workload is required")
    if not os.path.exists(PINNED):
        raise BenchError(f"missing {PINNED}")

    untraced = one_run(cp, a.workload, a.seed, a.seconds, False, t_start)
    e2e, attempted, failed = end_to_end(a.workload, untraced)
    correct = failed == 0 and not untraced["leaked"] and untraced.get("correct", True)
    rows = [(k, v, u, f"n={n}") for k, (v, u, n) in sorted(e2e.items())]
    print_table(f"workload={a.workload} seed={a.seed} seconds={a.seconds} "
                f"ops={attempted} failed={failed}", rows)
    su = untraced["setup"]
    print(f"  set-up: session {untraced['session_ready_ms'] / 1000.0 - untraced['launch_s']:.2f} s, "
          f"warm-up {su['warmup_ms'] / 1000.0:.2f} s; timed {untraced['timed_s']:.2f} s")
    if a.trace == 0:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END}
    else:
        traced = one_run(cp, a.workload, a.seed, a.seconds, True, t_start)
        t_e2e, t_att, t_failed = end_to_end(a.workload, traced)
        correct = correct and t_failed == 0 and not traced["leaked"] and traced.get("correct", True)
        print_table("tracing overhead (traced - untraced)",
                    [(k, t_e2e[k][0] - v, u,
                      f"untraced={v:.4f} traced={t_e2e[k][0]:.4f} "
                      f"({(t_e2e[k][0] / v - 1) * 100 if v else 0:+.1f}%)")
                     for k, (v, u, _) in sorted(e2e.items()) if k in t_e2e])
        layers = per_layer(a.workload, traced)
        units = dict(PER_LAYER)
        print_table("per-layer (traced run)", [(k, layers[k], units[k], "") for k in units])
        summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "end_to_end_untraced": {k: v[0] for k, v in e2e.items()},
                   "end_to_end_traced": {k: v[0] for k, v in t_e2e.items()},
                   "per_layer": layers}
        with open(os.path.join(traced["trace_dir"], "layers.json"), "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        log(f"spans and per-layer summary in {traced['trace_dir']}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
        attempted, failed = attempted + t_att, failed + t_failed
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def pin(cp, t_start):
    global DEADLINE_S
    DEADLINE_S = 3600.0
    scratch = os.path.join(BUILD, "runs", f"pin-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    try:
        res = run_jvm(cp, "pin", {}, scratch, t_start)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    bad = [o["name"] for o in res["ops"] if not o["ok"]]
    if bad:
        log(f"queries failed: {bad}")
        return 1
    out = {"sf": res["sf"], "data_seed": res["data_seed"],
           "queries": {o["name"]: {"digest": o["digest"],
                                   "cold_ms": round(o["build_ms"] + o["exec_ms"], 1)}
                       for o in res["ops"]}}
    with open(PINNED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"pinned {len(out['queries'])} queries to {PINNED}")
    return 0


def selftest(cp, a, t_start):
    global DEADLINE_S
    DEADLINE_S = 900.0
    ok = True
    for mode, args in (("canary", {"digests": PINNED, "tables": TABLES,
                                   "queries": "q_rel10d_approx_audit,q_rel31_profile"}),
                       ("ingest-selftest", {"seed": a.seed})):
        scratch = os.path.join(BUILD, "runs", f"{mode}-{os.getpid()}")
        os.makedirs(scratch, exist_ok=True)
        try:
            res = run_jvm(cp, mode, args, scratch, time.time())
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        for row in res.get("canary", []):
            # count() may prune the work; the timed call must not.
            passed = row["correct"] and row["timed_ms"] >= 3 * row["count_ms"]
            ok &= passed
            print(f"canary {row['name']}: count() {row['count_ms']:.0f} ms, timed call "
                  f"{row['timed_ms']:.0f} ms, digest ok={row['correct']} -> "
                  f"{'PASS' if passed else 'FAIL'}")
        for row in res.get("selftest", []):
            passed = not row["problems"]
            ok &= passed
            print(f"ingest truth, {row['frames_per_file']} frames/file: keys={row['keys']} "
                  f"late={row['late']} malformed={row['malformed']} "
                  f"redelivered={row['redelivered']} -> "
                  f"{'PASS' if passed else 'FAIL ' + '; '.join(row['problems'])}")
        if mode == "ingest-selftest":
            keys = {r["keys"] for r in res["selftest"]}
            ok &= len(keys) == 1
    print("selftest " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
