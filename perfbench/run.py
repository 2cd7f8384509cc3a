#!/usr/bin/env python3
"""graft benchmark: runs one workload against the compiled engine and prints
one JSON line with correctness, operation counts and metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload queries|warehouse_rw \
      --seed N --seconds S --trace 0|1

--trace 0 prints the end-to-end metrics; --trace 1 attaches listeners and
spans and prints the per-layer metrics instead. The first run builds the
engine (see build.py). Everything the run writes stays under the checkout:
`.bench_build/` (classes) and `.bench_run/` (inputs, results, spans, logs).
See README.md beside this file.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
RUN = os.path.join(ROOT, ".bench_run")
EXPECTED = os.path.join(HERE, "expected.json")
DEADLINE_S = 170  # a run must end within 180 s

# build.sbt's forked-run JVM options, with a fixed 3 GB heap (reserved up
# front, so the resident-set peak depends on what the run touches rather
# than on when the collector grows the heap) and no perf-data file
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def cpu_times():
    """Aggregate CPU jiffies (user, nice, system, idle, ..., steal) of the
    host as the kernel reports them, for the run's steal-time note."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def launch(cp, cfg, started):
    """Run the engine-side process on `cfg`; return its result dict and the
    epoch ms at which it was spawned."""
    cfg_path = os.path.join(RUN, "config.json")
    res_path = os.path.join(RUN, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=DATA,
               SPARK_GRAFT_CPUS=str(cfg["cores"]),
               SPARK_LOCAL_DIRS=os.path.join(RUN, "spark-local"))
    with open(os.path.join(RUN, "jvm.log"), "w") as logf:
        spawn_ms = time.time() * 1e3
        p = subprocess.Popen(
            ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                   "perfbench.Main", cfg_path, res_path],
            cwd=RUN, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("engine process timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    res = json.load(open(res_path)) if os.path.isfile(res_path) else {}
    if rc != 0 or "fatal" in res:
        tail = open(os.path.join(RUN, "jvm.log")).read()[-3000:]
        raise RuntimeError(f"engine process failed (exit {rc}): "
                           f"{res.get('fatal', '')}\n{tail}")
    return res, spawn_ms


def check_queries(res):
    """Fingerprint check of the warm-up results and the index-path check.
    Returns (attempted, failed, wrong results, failure notes)."""
    expected = json.load(open(EXPECTED))
    notes = []
    served = res["index_served"]
    missing = {q for q, ix in workloads.INDEX_SERVED.items() if not served[ix]}
    if missing:
        notes.append(f"index not served after set-up: {sorted(missing)}")
    failed = wrong = 0
    runs = [(w, True) for w in res["warmup"]] + [(o, False) for o in res["ops"]]
    for w, written in runs:  # warm-up results were written out to check
        name, err = w["name"], w["error"]
        if w["ok"] and written:
            got = metrics.fingerprint_parquet(os.path.join(RUN, "out", name))
            want = {k: expected[name][k] for k in ("rows", "hash")}
            if got != want:
                wrong += 1
                err = f"result {got} != expected {want}"
        if err:
            notes.append(f"{name}: {err}")
        if err or name in missing:
            failed += 1
    return len(runs), failed, wrong, notes


def replay(inputs, res):
    """DuckDB replay of the table's creation and every acknowledged write,
    in the writer's order; returns the table's fingerprint."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{os.path.join(DATA, 'lineitem.parquet')}')")
    con.execute(inputs["create_sql"])
    stmts = [s for s in inputs["warmup"] if "duck" in s] + inputs["writer"]
    recs = [w for w in res["warmup"] if w["role"] == "writer"] + \
        [o for o in res["ops"] if o["role"] == "writer"]
    for rec, stmt in zip(recs, stmts):
        if rec["ok"]:
            for q in stmt["duck"]:
                con.execute(q)
    return metrics.fingerprint_table(
        con.sql(f"SELECT * FROM {inputs['table']}").arrow())


def storage_stats(table):
    """Live files, retained versions and space amplification of the
    warehouse table (bytes on disk over bytes of the live version; hard
    links shared between versions count once)."""
    tdir = os.path.join(RUN, "wh", table)
    live = os.path.join(tdir, open(os.path.join(tdir, "CURRENT")).read().strip())

    def size(d):
        seen, total = set(), 0
        for dp, _, fs in os.walk(d):
            for f in fs:
                st = os.stat(os.path.join(dp, f))
                if st.st_ino not in seen:
                    seen.add(st.st_ino)
                    total += st.st_size
        return total
    files = [f for f in os.listdir(live) if f.endswith(".parquet")]
    versions = [d for d in os.listdir(tdir)
                if os.path.isdir(os.path.join(tdir, d)) and d.startswith("v")]
    return {"commands.live_files": len(files),
            "commands.versions": len(versions),
            "commands.space_amp": size(os.path.join(RUN, "wh")) / size(live)}


def check_warehouse(inputs, res):
    """Statement errors and the durability check. Returns (attempted,
    failed, wrong results, failure notes)."""
    ops = res["warmup"] + res["ops"]
    notes = [f"{o['kind']}: {o['error']}" for o in ops if not o["ok"]]
    failed = len(notes)
    got = metrics.fingerprint_parquet(os.path.join(RUN, "final"))
    want = replay(inputs, res)
    wrong = int(got != want)
    if wrong:
        notes.append(f"durability: reopened table {got} != DuckDB replay {want}")
    return len(ops) + 1, failed + wrong, wrong, notes


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    cp = build.build()
    started = time.time()  # the first run's build is outside the deadline
    cpu0 = cpu_times()
    if os.path.isdir(RUN):
        shutil.rmtree(RUN)
    os.makedirs(RUN)
    cfg = {"workload": a.workload, "data_dir": DATA, "run_dir": RUN,
           "seconds": a.seconds, "trace": bool(a.trace), "cores": cores()}
    if a.workload == "warehouse_rw":
        inputs = workloads.warehouse_inputs(a.seed)
    else:
        inputs = workloads.query_inputs(a.seed)
    cfg.update(inputs)
    res, spawn_ms = launch(cp, cfg, started)
    d = [y - x for x, y in zip(cpu0, cpu_times())]
    steal = d[7] / max(1, sum(d)) if len(d) > 7 else 0.0

    if a.workload == "warehouse_rw":
        attempted, failed, wrong, notes = check_warehouse(inputs, res)
        stats = storage_stats(inputs["table"])
    else:
        attempted, failed, wrong, notes = check_queries(res)
        stats = None
    for n in notes:
        log(f"FAILED {n}")

    if a.trace:
        vals = metrics.per_layer(res, cfg["cores"], stats, {
            "suite.relational_s": workloads.RELATIONAL,
            "suite.corpus_s": workloads.CORPUS})
        with open(os.path.join(RUN, "spans.json"), "w") as f:
            json.dump(metrics.spans(res), f)
        names = "per_layer"
    else:
        vals = metrics.end_to_end(res, spawn_ms)
        names = "end_to_end"
    lat, _ = metrics.latencies(res["ops"])
    p = metrics.highest_percentile(len(lat))
    tail = (f"p{p * 100:g} {metrics.percentile(lat, p):.0f} ms" if p else
            f"none has {metrics.BEYOND} samples beyond it")
    log(f"{a.workload} seed={a.seed}: {len(res['ops'])} timed operations "
        f"({len(lat)} ok) in "
        f"{(res['timed_end_ms'] - res['timed_start_ms']) / 1e3:.1f} s; "
        f"highest percentile: {tail}; "
        f"{time.time() - spawn_ms / 1e3:.1f} s since the engine started, "
        f"host CPU steal {steal:.1%}")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[names]
    # correct: every result the engine returned was right; failed also
    # counts operations that returned an error or missed their index
    out = {"correct": wrong == 0, "attempted": attempted, "failed": failed,
           "metrics": {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                       for m in spec}}
    print(json.dumps(out))


if __name__ == "__main__":
    # a terminated run still stops and reaps the engine process (see launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (build.BuildError, RuntimeError) as e:
        log(f"error: {e}")
        sys.exit(1)
