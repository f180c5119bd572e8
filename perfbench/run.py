#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness with sbt on first use (offline, cached
under perfbench/target), generates the workload's inputs from the seed,
runs the harness JVM (perfbench.Main) with `local[N]`, N = the CPUs this
process may use, compares the registry outputs with their DuckDB oracles,
and prints a report whose last line is one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Every file it writes is under
perfbench/.work and perfbench/target; a run's work files are removed when
it ends, except its result.json and, when traced, its spans.jsonl, kept in
perfbench/.work/results/<workload>-seed<n>-trace<t>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# The tables each workload's ops read, generated from --seed at SCALE
# times sf0.1.
WORKLOADS = {"stream_kcore": ["events", "lineitem"], "lake_ops": ["orders"]}
SCALE = 0.1
END_TO_END = ["setup_s", "wall_s", "peak_heap_mb"]
HEAP = "2g"
# A run must end within 180 s, or 900 s when it also builds.
DEADLINE_S, BUILD_DEADLINE_S = 170, 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(fs)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness once per source state; returns
    the runtime classpath and whether this call built it."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not next "
             "to the benchmark directory; run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the engine")
    stamp = source_stamp()
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "bench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1], False
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=out, timeout=850)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1] + "\n")
    return cps[-1], True


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed, so no child outlives the run. Returns the exit
    code, or "timeout"."""
    p = subprocess.Popen(cmd, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def oracle_check(data_dir, check_dir):
    """Compares each dumped registry output with its DuckDB oracle, run on
    the same generated inputs. Returns (wrong, unchecked, missing, lines)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check_oracle as co
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.ALL:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({p!r})")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(check_dir, "queries.txt")) as f:
        names = [l.strip() for l in f if l.strip()]
    wrong, unchecked, missing, lines = 0, 0, 0, []
    for name in names:
        got = co.load_spark(con, os.path.join(check_dir, name))
        if got is None:
            missing += 1
            lines.append(f"check {name}: no output (the query failed)")
            continue
        if name not in oracle:
            unchecked += 1
            lines.append(f"check {name}: no oracle, {got.num_rows} rows")
            continue
        try:
            exp = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failed check
            wrong += 1
            lines.append(f"check {name}: oracle error {e}")
            continue
        sc, st, sr = co.norm(got)
        dc, dt, dr = co.norm(exp)
        ok = sc == dc and st == dt and len(sr) == len(dr) and all(
            co.cmp_val(a, b)[1] for ra, rb in zip(sr, dr)
            for a, b in zip(ra, rb))
        wrong += 0 if ok else 1
        lines.append(f"check {name}: {'ok' if ok else 'WRONG'} "
                     f"({len(sr)} rows vs oracle {len(dr)})")
    con.close()
    return wrong, unchecked, missing, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp, built = build()
    setup_start = time.time()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    for d in (data, out, os.path.join(work, "tmp")):
        os.makedirs(d)
    try:
        t0 = time.time()
        tables = gen.generate(data, a.seed, WORKLOADS[a.workload], SCALE)
        gen_s = time.time() - t0
        n = cpus()
        cmd = (["java"] + [x for p in ADD_OPENS
                           for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.local.dir={work}/tmp",
                "-Dspark.sql.streaming.streamingQueryListeners="
                "perfbench.StreamProbe"] +
               (["-Dspark.sql.queryExecutionListeners=perfbench.CatalystProbe"]
                if a.trace else []) +
               ["-cp", cp, "perfbench.Main", a.workload, str(a.seed),
                str(a.seconds), str(a.trace), data, out,
                str(setup_start * 1000.0), str(gen_s)])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
        env.pop("SPARK_GRAFT_MASTER", None)
        log = os.path.join(work, "jvm.log")
        budget = ((BUILD_DEADLINE_S if built else DEADLINE_S) -
                  (time.time() - START))
        with open(log, "w") as lf:
            rc = run_group(cmd, cwd=work, env=env, stdout=lf,
                           timeout=max(budget, 10))
        res_file = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(res_file):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"harness JVM ended with {rc}")
        with open(res_file) as f:
            res = json.load(f)
        with open(log) as f:
            notes = [l.rstrip() for l in f if l.startswith("perfbench:")]
        check_dir = os.path.join(out, "check")
        wrong, unchecked, missing, check_lines = 0, 0, 0, []
        if os.path.exists(os.path.join(check_dir, "queries.txt")):
            wrong, unchecked, missing, check_lines = oracle_check(data,
                                                                  check_dir)
        wrong += res.get("wrong_results", 0)
        report(a, res, tables, wrong, unchecked, check_lines + notes)
        attempted = res["attempted"]
        failed = res["failed"]
        e2e = res["end_to_end"]
        if a.trace:
            metrics = per_layer_metrics(res)
        else:
            metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]}
                       for k in END_TO_END}
        # an op that threw has no output to check, so it fails the run
        print(json.dumps({"correct": wrong == 0 and missing == 0 and
                          failed == 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        keep = os.path.join(HERE, ".work", "results",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("result.json", "spans.jsonl"):
            if os.path.exists(os.path.join(out, f)):
                shutil.copy(os.path.join(out, f), keep)
        shutil.rmtree(work, ignore_errors=True)


def per_layer_metrics(res):
    """Every per-layer metric of BENCHMARK.json; a layer the workload does
    not enter reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    layers = dict(res["per_layer"], **res.get("layers", {}))
    return {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
            for m in spec}


def report(a, res, tables, wrong, unchecked, lines):
    env = dict(res["env"])
    env["workload"] = a.workload
    print("env " + json.dumps(env, sort_keys=True))
    for t, s in tables.items():
        print(f"input {t}: {s['rows']} rows, {s['bytes']} bytes")
    for k, m in sorted(res["end_to_end"].items()):
        what = (f"p{m['pct']}" if "pct" in m else
                "peak" if k.startswith("peak") else "median")
        # an invalid value (wall_s when an op threw) is null
        v = "null" if m["value"] is None else f"{m['value']:.4f}"
        print(f"metric {k} = {v} {m['unit']} ({what} of {m['samples']} samples)")
    rows = sum(s["rows"] for s in tables.values())
    wall = res["end_to_end"]["wall_s"]["value"]
    if wall:
        print(f"metric rows_per_s = {rows / wall:.1f} 1/s ({rows} input rows "
              f"per typical pass)")
    print(f"metric failed_frac = {res['failed'] / max(res['attempted'], 1)} "
          f"({res['failed']} of {res['attempted']} ops)")
    print(f"metric wrong_results = {wrong} count ({unchecked} outputs "
          f"without an oracle)")
    if "lake_space_amp" in res:
        print(f"metric lake_space_amp = {res['lake_space_amp']:.4f} ratio")
    print("passes " + " ".join(f"{w:.3f}" for w in res["pass_walls_s"]))
    print("hygiene " + json.dumps(res["hygiene"]))
    for l in lines:
        print(l)


if __name__ == "__main__":
    main()
