#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --rebuild-expected   (DuckDB results anew)

Builds the harness and the program from source (perfbench/build.sbt) when
they changed, makes the run's inputs, runs perfbench.Harness in one JVM,
checks every result against DuckDB, and prints one JSON object as its last
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Inputs come from $PERFBENCH_DATA (default /root/testdata)/sf0.1; everything
the run writes stays under perfbench/.work.
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import scalegen  # noqa: E402

DATA = os.path.join(os.environ.get("PERFBENCH_DATA", "/root/testdata"), "sf0.1")
K = 5  # replica factor of token_etl_scaled's input
T_START = time.time()
LIMIT_S = 170  # a run ends within 180 s; the first run in a checkout may build
FIRST_LIMIT_S = 880

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"[perfbench] {msg}")
    sys.exit(2)


def run_proc(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")
    return p.returncode, out, err


def tree_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compiles when the sources changed; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = tree_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest:
            return b["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx2g")
    log("[perfbench] building")
    rc, out, _ = run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        deadline - time.time(), cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        log(out[-4000:])
        fail("build failed")
    cp = out.strip().splitlines()[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, digest


def java_cmd(cp, main_args, tmp):
    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{heap}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
             "-cp", cp, "perfbench.Harness"] + main_args)


def catalog(cp, digest, deadline):
    """Operation lists and oracle SQL, as the built program defines them."""
    path = os.path.join(WORK, "catalog.json")
    if os.path.exists(path):
        with open(path) as f:
            c = json.load(f)
        if c.get("digest") == digest:
            return c
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc, _, err = run_proc(java_cmd(cp, ["--dump", path + ".tmp"], tmp),
                          deadline - time.time(), stdout=subprocess.DEVNULL,
                          stderr=subprocess.PIPE, text=True)
    if rc != 0:
        log(err[-4000:])
        fail("could not list the workloads")
    with open(path + ".tmp") as f:
        c = json.load(f)
    c["digest"] = digest
    with open(path, "w") as f:
        json.dump(c, f)
    os.remove(path + ".tmp")
    return c


def all_queries(cat):
    return sorted({q for qs in cat["workloads"].values() for q in qs})


def scaled_input(seed):
    """The k-fold events for this seed (other seeds' copies are dropped)."""
    root = os.path.join(WORK, "inputs")
    d = os.path.join(root, f"x{K}-seed{seed}")
    if not os.path.exists(os.path.join(d, "events.parquet")):
        shutil.rmtree(root, ignore_errors=True)
        scalegen.make_events(DATA, d, K, seed)
    return d


def cores():
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def verify(workload, rec, run_dir, expected, events):
    """Failure reason per (pass index, op), for every failed operation, and
    the set of those whose result a check found wrong (the others threw)."""
    failures = {}
    wrong = set()
    con = check.connect(cores(), os.path.join(WORK, "duckdb-tmp"))
    cold_digest = {}
    for p in rec["passes"]:
        i = p["index"]
        for o in p["shared"] + p["ops"]:
            if o["error"]:
                failures[(i, o["name"])] = o["error"]
        for o in p["ops"]:
            name = o["name"]
            if (i, name) in failures:
                continue
            if workload == "token_etl_scaled":
                stores = os.path.join(run_dir, f"pass{i}", "stores")
                d = check.store_digest(con, stores, name)
                if p["kind"] == "cold":
                    cold_digest[name] = d
                    why = check.check_store(con, events, stores, name)
                elif d != cold_digest.get(name):
                    why = "store changed on a repeat load"
                else:
                    why = failures.get((0, name))
            else:
                why = check.check_result(
                    con, os.path.join(run_dir, f"pass{i}", name), expected[name])
            if why:
                failures[(i, name)] = why
                wrong.add((i, name))
    con.close()
    return failures, wrong


def outcome(rec, failures, wrong, per_pass):
    """attempted, failed and correct of one run. A run is correct when every
    pass ran all its operations and no check found a result wrong; an
    operation that threw counts as failed but wrote nothing to be wrong."""
    attempted = sum(len(p["shared"]) + len(p["ops"]) for p in rec["passes"])
    complete = all(len(p["ops"]) == per_pass for p in rec["passes"])
    return attempted, len(failures), complete and not wrong


def metrics(rec, trace, spec):
    warm = [p for p in rec["passes"] if p["kind"] == "warm"]
    plain = [p for p in warm if not p["traced"]]
    if not trace:
        # each operation's median over the warm passes, then the median over
        # operations: the middle of all warm times would straddle two
        # operations of one pass and jitter with each of them
        by_op = {}
        for p in plain:
            for o in p["ops"]:
                by_op.setdefault(o["name"], []).append(o["seconds"])
        vals = {
            "setup_s": median(rec["setup_s"]),
            "cold_pass_s": rec["passes"][0]["seconds"],
            "warm_pass_s": median([p["seconds"] for p in plain]),
            "query_p50_s": median([median(ts) for ts in by_op.values()]),
            "heap_peak_mb": max([rec["heap_after_setup_mb"]] +
                                [p["heap_after_gc_mb"] for p in rec["passes"]]),
            "output_mb": median([p["output_bytes"] for p in rec["passes"]]) / 1e6,
        }
        names = spec["end_to_end"]
    else:
        traced = [p for p in warm if p["traced"]]
        vals = {m["name"]: median([p["layers"].get(m["name"], 0.0) for p in traced])
                for m in spec["per_layer"]}
        cold = rec["passes"][0]["layers"]
        for k in ("ops.Shared.build_ms", "ops.Shared.self_ms"):
            vals[k] = cold.get(k, 0.0)
        vals["ops.Shared.cached_mb"] = max(p["storage_mb"] for p in rec["passes"])
        vals["trace.overhead_ms"] = 1000 * (
            median([p["seconds"] for p in traced]) - median([p["seconds"] for p in plain]))
        names = spec["per_layer"]
    return {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in names}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rebuild-expected", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    if not os.path.isdir(DATA):
        fail(f"input directory {DATA} not found")
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if not a.rebuild_expected and a.workload not in names:
        fail(f"unknown workload {a.workload!r}; choose one of {names}")

    os.makedirs(WORK, exist_ok=True)
    first = not os.path.exists(os.path.join(WORK, "build.json"))
    deadline = T_START + (FIRST_LIMIT_S if first or a.rebuild_expected else LIMIT_S)
    cp, digest = build(deadline)
    cat = catalog(cp, digest, deadline)
    if a.rebuild_expected:
        shutil.rmtree(check.expected_dir(WORK), ignore_errors=True)
    # every workload's expected results, so that only a checkout's first
    # run (or this command) pays for the slow oracles
    expected = check.ensure_expected(WORK, DATA, cat["oracle"], all_queries(cat),
                                     log=log, threads=cores())
    if a.rebuild_expected:
        return

    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    events = None
    extra = []
    if a.workload == "token_etl_scaled":
        inp = scaled_input(a.seed)
        events = os.path.join(inp, "events.parquet")
        extra = ["--input", inp]
    # leave time after the JVM for the checks
    budget = deadline - time.time() - 35
    hargs = ["--workload", a.workload, "--cores", str(cores()), "--data", DATA,
             "--out", run_dir, "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--budget", f"{budget:.0f}"] + extra
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    rc, _, err = run_proc(java_cmd(cp, hargs, tmp), deadline - time.time() - 15,
                          env=env, stdout=subprocess.DEVNULL,
                          stderr=subprocess.PIPE, text=True)
    if rc != 0:
        log(err[-6000:])
        fail(f"harness exited with {rc}")
    with open(os.path.join(run_dir, "run.json")) as f:
        rec = json.load(f)

    t_checks = time.time()
    failures, wrong = verify(a.workload, rec, run_dir, expected, events)
    log(f"[perfbench] harness ended {t_checks - T_START:.1f} s into the run, "
        f"checks took {time.time() - t_checks:.1f} s")
    per_pass = len(cat["pipelines"] if a.workload == "token_etl_scaled"
                   else cat["workloads"][a.workload])
    attempted, failed, correct = outcome(rec, failures, wrong, per_pass)
    for (i, op), why in sorted(failures.items()):
        log(f"[perfbench] FAILED pass{i} {op}: {why}")
    if a.trace:
        keep = os.path.join(WORK, f"spans-{a.workload}.jsonl")
        shutil.copyfile(os.path.join(run_dir, "spans.jsonl"), keep)
        log(f"[perfbench] spans written to {os.path.relpath(keep, ROOT)}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics(rec, a.trace, spec)}
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True).stdout.strip() or None
    print(f"[perfbench] ran on: cores={rec['cores']} "
          f"default_parallelism={rec['default_parallelism']} master={rec['master']} "
          f"shuffle_partitions={rec['shuffle_partitions']} "
          f"max_heap_mb={rec['max_heap_mb']:.0f} spark={rec['spark_version']} "
          f"jdk={rec['java_version']} commit={commit} source_digest={digest[:16]} "
          f"k={K} seed={a.seed} input={DATA}")
    print(f"[perfbench] workload={a.workload} passes={len(rec['passes'])} "
          f"attempted={attempted} failed={failed}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
