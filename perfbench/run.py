#!/usr/bin/env python3
"""The repo's layered benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <etl_poll|query_lanes>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the program and the
harness from source with sbt (`perfbench/build.sbt`); later runs reuse the
build while no source changed. Build products, generated inputs and result
files live under `.bench_build/`.

The last line of stdout is the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`, with
the end-to-end metrics when `--trace 0` and the per-layer metrics when
`--trace 1`. fail_frac = failed / attempted. See perfbench/README.md.
"""
import argparse
import gzip
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402

WORKLOADS = ("etl_poll", "query_lanes")
# lane tables: one fixed dataset, the one whose outputs passed the DuckDB
# oracle (tools/check.py) when expected_fingerprints.json was made
LANE_SF, LANE_SEED = 0.01, 42
# ETL feed: dimensions at sf0.1, a stream long enough that no run drains it
FEED_SF, FEED_EVENTS = 0.1, 200_000
HEAP = "3g"
DEADLINE_S = 170
JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

CHILDREN = []


def stop_children(signum=None, frame=None):
    """Kills every process group this script started and waits for it."""
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if signum is not None:
        sys.exit(128 + signum)


def spawn(cmd, **kw):
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(p)
    return p


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_files(*roots):
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(d, f)


def source_stamp():
    h = hashlib.sha256()
    for f in tree_files(os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                        os.path.join(ROOT, "project", "build.properties"),
                        os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src"),
                        os.path.join(HERE, "project", "build.properties")):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt build of the program and the harness; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no program sources here ({need} missing): run from a checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log("building (sbt compile) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            p = spawn(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], cwd=HERE, env=env,
                      stdout=subprocess.PIPE, stderr=out, text=True)
            stdout, _ = p.communicate(timeout=840)
        except (OSError, subprocess.TimeoutExpired) as e:
            stop_children()
            die(f"build failed: {e}")
        out.write(stdout)
    lines = [x for x in stdout.splitlines() if "scala-2.13" in x and os.pathsep in x]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {os.path.join(BUILD, 'build.log')}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def lane_data():
    """The fixed lane dataset, generated once per checkout."""
    with open(gen_data.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"lanes-sf{LANE_SF}-s{LANE_SEED}-{tag}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        gen_data.generate(d, LANE_SF, LANE_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def quantile(xs, q):
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(workload, ops):
    """The user-facing metrics of a set of timed ops (no set-up)."""
    walls = [o["wall_ms"] for o in ops]
    if workload == "etl_poll":
        # an etl_poll op is a poll tick; rollover ticks make refresh_ms
        polls = [o["wall_ms"] for o in ops if o["kind"] != "rollover"]
        m = {"op_p50_ms": statistics.median(polls), "op_p90_ms": quantile(polls, 0.9)}
    else:
        m = {"op_p50_ms": statistics.median(walls), "op_p90_ms": quantile(walls, 0.9)}
    if workload == "etl_poll":
        by_pass = {}
        for o in ops:
            by_pass.setdefault(o["pass"], []).append(o["wall_ms"])
        polls = [o for o in ops if o["kind"] != "rollover"]
        m["pass_s"] = statistics.median(sum(v) for v in by_pass.values()) / 1e3
        m["ingest_rows_per_s"] = sum(o["rows"] for o in polls) / (sum(o["wall_ms"] for o in polls) / 1e3)
        m["refresh_ms"] = statistics.median(o["wall_ms"] for o in ops if o["kind"] == "rollover")
    else:
        by_lane = {}
        for o in ops:
            by_lane.setdefault(o["key"], []).append(o["wall_ms"])
        med = {k: statistics.median(v) for k, v in by_lane.items()}
        m["pass_s"] = sum(med.values()) / 1e3
        m["ingest_rows_per_s"] = sum(o["rows"] for o in ops) / (sum(walls) / 1e3)
        # the longest stalls of a pass: mean median of the slowest quarter
        tail = sorted(med.values())[-max(1, len(med) // 4):]
        m["refresh_ms"] = statistics.mean(tail)
    return m


def etl_replay(res, feed):
    """The final fact table must equal a DuckDB replay of the delivered
    drops: distinct events LEFT JOIN customer. Returns a mismatch or None."""
    import duckdb
    con = duckdb.connect()
    q = f"""
      WITH d AS (SELECT DISTINCT event_id, ts, user_id, value
                 FROM read_parquet('{res['incoming_dir']}/*/*.parquet')),
      exp AS (SELECT d.event_id, d.ts, d.user_id, d.value, c.c_mktsegment
              FROM d LEFT JOIN read_parquet('{feed}/customer.parquet') c
              ON d.user_id = c.c_custkey),
      got AS (SELECT event_id, ts, user_id, value, c_mktsegment
              FROM read_parquet('{res['fact_dir']}/*.parquet'))
      SELECT (SELECT count(*) FROM exp), (SELECT count(*) FROM got),
             (SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL SELECT * FROM got)),
             (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM exp))"""
    n_exp, n_got, missing, extra = con.execute(q).fetchone()
    if (n_exp, missing, extra) != (n_got, 0, 0) or n_exp != res["delivered_events"]:
        return (f"fact table != replay: {n_got} rows vs {n_exp} expected "
                f"({missing} missing, {extra} unexpected, {res['delivered_events']} delivered)")
    return None


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    return sum(v), idle, v[7] if len(v) > 7 else 0


def busy_cpus(seconds=0.5):
    """CPUs busy over a short sample, before anything of this run starts.
    The 1-minute loadavg still carries the previous run's own load when
    runs go back to back, so it cannot tell contention on its own."""
    t0, i0, _ = cpu_times()
    time.sleep(seconds)
    t1, i1, _ = cpu_times()
    return (os.cpu_count() or 1) * (1 - (i1 - i0) / max(t1 - t0, 1))


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def git_stamp():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10)
        if head.returncode != 0:
            return {"head": "unknown", "dirty": None}
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                               text=True, timeout=10).stdout.strip() != ""
        return {"head": head.stdout.strip(), "dirty": dirty}
    except (OSError, subprocess.TimeoutExpired):
        return {"head": "unknown", "dirty": None}


def java_cmd(cp, run_dir, main_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *JAVA_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *main_args]


def run_jvm(cmd, run_dir, timeout):
    """Runs the harness JVM to completion (or kills it at the deadline)."""
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = spawn(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            stop_children()
            return None


def tail(path, n=15):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def selftest(cp):
    """The JVM self-tests plus: the input generator is deterministic per
    seed, and the seed changes the feed."""
    fails = []
    with tempfile.TemporaryDirectory(dir=BUILD) as d:
        def digest(sub, seed):
            out = os.path.join(d, sub)
            gen_data.generate(out, FEED_SF, seed, ["customer", "events"], events_rows=20_000)
            return {f: hashlib.sha256(open(os.path.join(out, f), "rb").read()).hexdigest()
                    for f in sorted(os.listdir(out))}
        a, b, c = digest("a", 7), digest("b", 7), digest("c", 8)
        if a != b:
            fails.append("input generator is not deterministic for one seed")
        if a == c:
            fails.append("input generator ignores the seed")
        code = run_jvm(java_cmd(cp, d, ["--selftest"]), d, DEADLINE_S)
        if code != 0:
            fails.append("JVM self-tests failed:\n" + tail(os.path.join(d, "jvm.log")))
    for f in fails:
        print(f"FAIL {f}")
    print("selftest ok" if not fails else f"selftest: {len(fails)} failures")
    return 0 if not fails else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    cp = build()
    built = time.monotonic()  # the run's deadline excludes a first-run build
    if a.selftest:
        sys.exit(selftest(cp))

    nproc = os.cpu_count()
    load_before = loadavg()
    busy_before = busy_cpus()
    cpu0 = cpu_times()
    contended = busy_before > nproc / 2
    if contended:
        print(f"!!! CONTENDED: {busy_before:.2f} CPUs busy > nproc/2 = {nproc / 2} before the run "
              f"(loadavg {load_before}); figures from this run are not comparable !!!", flush=True)

    data = lane_data()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_gen = time.monotonic()
    feed = os.path.join(run_dir, "feed")
    if a.workload == "etl_poll":
        gen_data.generate(feed, FEED_SF, a.seed, ["region", "nation", "customer", "events"],
                          events_rows=FEED_EVENTS)
    gen_s = time.monotonic() - t_gen

    out = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--feed", feed,
            "--work", os.path.join(run_dir, "work"), "--out", out,
            "--expected", os.path.join(HERE, "expected_fingerprints.json")]
    code = run_jvm(java_cmd(cp, run_dir, args), run_dir, DEADLINE_S - (time.monotonic() - built))
    if code != 0 or not os.path.exists(out):
        log(tail(os.path.join(run_dir, "jvm.log")))
        die(f"harness JVM {'timed out' if code is None else f'exited {code}'}")
    with open(out) as f:
        res = json.load(f)

    ops = res["ops"]
    failures = [f"{o['key']} (pass {o['pass']}): {o['error'] or o['mismatch']}"
                for o in ops if o["error"] or o["mismatch"]]
    checks = list(res["selftest_failures"]) + list(res["warmup_failures"])
    if a.workload == "etl_poll":
        if res["feed_exhausted"]:
            checks.append("the feed ran out before the measuring window ended")
        replay = etl_replay(res, feed)
        if replay:
            failures.append(replay)
    attempted = len(ops)
    failed = len(failures)
    correct = failed == 0 and not checks and attempted > 0

    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    e2e = end_to_end(a.workload, untraced)
    e2e["setup_s"] = res["setup_s"]
    layers = dict(res["layers"])
    if a.trace:
        layers["trace.pass_s"] = end_to_end(a.workload, traced)["pass_s"]
        layers["trace.overhead_s"] = layers["trace.pass_s"] - e2e["pass_s"]
    # print exactly the metrics BENCHMARK.json declares for this mode; the
    # record keeps every layer
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = layers if a.trace else e2e
    missing = sorted(set(units) - set(got))
    if missing:
        die(f"run lacks declared metrics: {', '.join(missing)}")
    metrics = {k: got[k] for k in units}
    load_after = loadavg()
    cpu1 = cpu_times()
    steal = (cpu1[2] - cpu0[2]) / max(cpu1[0] - cpu0[0], 1)

    per_lane = {}
    for o in untraced:
        per_lane.setdefault(o["key"], []).append(o["wall_ms"])
    stamp = {**git_stamp(), "nproc": nproc, "heap_max_mb": res["heap_max_mb"],
             "java": res["java_version"], "spark": res["spark_version"], "seed": a.seed,
             "workload": a.workload, "traced": bool(a.trace), "seconds": a.seconds,
             "load_before": load_before, "load_after": load_after, "busy_cpus_before": busy_before,
             "steal_frac": steal, "contended": contended,
             "passes": res["passes"], "traced_passes": res["traced_passes"]}
    record = {"stamp": stamp, "correct": correct, "attempted": attempted, "failed": failed,
              "fail_frac": failed / max(attempted, 1), "failures": failures, "checks": checks,
              "end_to_end": e2e, "per_layer": layers if a.trace else None,
              "setup_phases": {"inputs_s": gen_s, **res["setup_phases"],
                               "warm_pass_s": res.get("warm_pass_s")},
              "op_medians_ms": {k: statistics.median(v) for k, v in sorted(per_lane.items())},
              "ops": [[o["key"], o["pass"], int(o["traced"]), o["wall_ms"]] for o in ops]}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if a.trace:
        with gzip.open(os.path.join(results, name + ".spans.json.gz"), "wt") as f:
            json.dump({"ops": ops, "spans": res["spans"]}, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"# {a.workload} seed={a.seed} trace={a.trace} head={stamp['head']} dirty={stamp['dirty']} "
          f"nproc={nproc} heap={res['heap_max_mb']}MB java={res['java_version']} "
          f"spark={res['spark_version']} load={load_before}->{load_after} "
          f"busy_before={busy_before:.2f} steal={steal:.3f}"
          + (" CONTENDED" if contended else ""))
    for f in (failures + checks)[:10]:
        print(f"# FAIL {f}")
    print(f"# fail_frac {failed / max(attempted, 1)} ({failed}/{attempted} ops)")
    for k in sorted(metrics):
        print(f"# {k} {metrics[k]} {units.get(k, '')}")
    print(f"# record {os.path.relpath(os.path.join(results, name + '.json'), ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units.get(k, "")}
                                  for k, v in sorted(metrics.items())}}))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    main()
