"""The benchmark's own math: percentiles, interval unions, span self time,
result fingerprints and the metrics derived from one run's raw records."""
import datetime
import decimal
import hashlib
import math
import statistics

import pyarrow.parquet as pq

# A percentile is reported only when at least this many samples lie above it.
BEYOND = 10
LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


class TooFewSamples(ValueError):
    pass


def percentile(xs, p):
    """Nearest-rank percentile of `xs`, refused unless at least BEYOND
    samples lie above it."""
    s = sorted(xs)
    k = max(0, math.ceil(p * len(s)) - 1)
    if not s or len(s) - 1 - k < BEYOND:
        raise TooFewSamples(f"p{p * 100:g} of {len(s)} samples has fewer "
                            f"than {BEYOND} beyond it")
    return s[k]


def highest_percentile(n):
    """The highest percentile of LADDER that n samples support, or None."""
    ok = [p for p in LADDER if n - math.ceil(p * n) >= BEYOND]
    return ok[-1] if ok else None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, a), min(e, b)) for a, b in children]
    return (e - s) - union_length(clipped)


# ------------------------------------------------------------- fingerprints

def canon(v):
    """Canonical text of one value: floats to 12 significant digits (so an
    integral float reads like the integer), decimals as floats, timestamps to
    the microsecond, lists and structs element by element."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return format(f, ".12g")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def fingerprint_rows(columns, rows):
    """(row count, order-insensitive hash) of rows given as dicts. Column
    names are part of the hash; row order is not."""
    cols = sorted(columns)
    h = hashlib.blake2b("\x1f".join(cols).encode(), digest_size=8)
    acc = int.from_bytes(h.digest(), "big")
    for r in rows:
        d = hashlib.blake2b("\x1f".join(canon(r[c]) for c in cols).encode(),
                            digest_size=8)
        acc = (acc + int.from_bytes(d.digest(), "big")) % (1 << 64)
    return {"rows": len(rows), "hash": f"{acc:016x}"}


def fingerprint_table(table):
    """Fingerprint of a pyarrow Table."""
    return fingerprint_rows(table.column_names, table.to_pylist())


def fingerprint_parquet(path):
    return fingerprint_table(pq.read_table(path))


# ------------------------------------------------------------------ metrics

def latencies(ops):
    """Successful timed operations' latencies in ms, and per kind."""
    ok = [o for o in ops if o["ok"]]
    by_kind = {}
    for o in ok:
        by_kind.setdefault(o["kind"], []).append(o["end"] - o["start"])
    return [o["end"] - o["start"] for o in ok], by_kind


def end_to_end(res, spawn_ms):
    """The end-to-end metrics of one untraced run."""
    ops = res["ops"]
    lat, by_kind = latencies(ops)
    wall_s = (res["timed_end_ms"] - res["timed_start_ms"]) / 1e3
    return {
        "setup_s": (res["setup_end_ms"] - spawn_ms) / 1e3,
        "suite_s": sum(statistics.median(v) for v in by_kind.values()) / 1e3,
        "op_p50_ms": statistics.median(lat),
        "ops_per_s": len(lat) / wall_s,
        "rss_peak_mb": res["rss_peak_mb"],
    }


def spans(res):
    """Spans of the timed region as dicts with id, parent, name, start, end
    (epoch ms). Query workloads: query > construct | plan | execute > job >
    stage. warehouse_rw: stmt > engine.sql | stream > job > stage."""
    t0, t1 = res["timed_start_ms"], res["timed_end_ms"]
    tr = res.get("trace", {})
    out = []

    def add(name, start, end, parent, op):
        out.append({"id": len(out), "parent": parent, "name": name,
                    "start": start, "end": end, "op": op})
        return len(out) - 1

    phases = sorted((p for p in tr.get("phases", []) if t0 <= p["start"] <= t1),
                    key=lambda p: p["start"])
    engine = {f"{r['thread']}#{r['seq']}": r for r in res.get("engine_sql", [])}
    holders = {}  # op id -> [(span id, start, end)] that jobs may nest in
    for o in res["ops"]:
        q = add("stmt" if "role" in o else "query", o["start"], o["end"], None,
                o["id"])
        if "role" in o:
            e = engine.get(o["id"])
            if e:
                a = add("engine.sql", e["start"], e["end"], q, o["id"])
                b = add("stream", e["end"], o["end"], q, o["id"])
                holders[o["id"]] = [(a, e["start"], e["end"]),
                                    (b, e["end"], o["end"])]
            continue
        c = add("construct", o["start"], o["constructed"], q, o["id"])
        plan = [p for p in phases if o["constructed"] <= p["start"] <= o["end"]]
        x0 = o["constructed"]
        if plan:
            x0 = max(p["end"] for p in plan)
            add("plan", min(p["start"] for p in plan), x0, q, o["id"])
        x = add("execute", x0, o["end"], q, o["id"])
        holders[o["id"]] = [(c, o["start"], o["constructed"]),
                            (x, x0, o["end"])]
    job_span = {}
    for j in tr.get("jobs", []):
        hs = holders.get(j["op"])
        if not hs or j["end"] < 0:
            continue
        parent = next((h for h, s, e in hs if s <= j["start"] <= e), hs[-1][0])
        job_span[j["id"]] = add("job", j["start"], j["end"], parent, j["op"])
    for s in tr.get("stages", []):
        if s["job"] in job_span and s["end"] >= s["start"] >= 0:
            p = out[job_span[s["job"]]]
            add("stage", s["start"], s["end"], p["id"], p["op"])
    return out


def self_times(span_list):
    """Sum of self time (ms) per span name."""
    kids = {}
    for s in span_list:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    tot = {}
    for s in span_list:
        t = self_time((s["start"], s["end"]), kids.get(s["id"], []))
        tot[s["name"]] = tot.get(s["name"], 0.0) + t
    return tot


SPAN_NAMES = ["query", "construct", "plan", "execute", "stmt", "engine.sql",
              "stream", "job", "stage"]


def per_layer(res, cores, warehouse, families):
    """The per-layer metrics of one traced run. Rates are per timed
    operation unless the name says otherwise. `warehouse` holds the
    storage counts of warehouse_rw (None elsewhere); `families` maps a
    metric name to the query kinds whose summed medians it reports."""
    t0, t1 = res["timed_start_ms"], res["timed_end_ms"]
    ops = res["ops"]
    n = max(1, len(ops))
    tr = res["trace"]
    ids = {o["id"] for o in ops}
    jobs = [j for j in tr["jobs"] if t0 <= j["start"] <= t1]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in tr["stages"] if s["job"] in job_ids]
    mb = float(1 << 20)
    phases = [p for p in tr["phases"] if t0 <= p["start"] <= t1]
    by_op = {}
    for j in jobs:
        if j["op"] in ids and j["end"] >= 0:
            by_op.setdefault(j["op"], []).append((j["start"], j["end"]))
    gaps = [(o["end"] - o["start"]) - union_length(by_op.get(o["id"], []))
            for o in ops]
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    run_ms = sum(s["run_ms"] for s in stages)
    c = res["counters"]
    _, by_kind = latencies(ops)
    m = {
        "graft.session_s": res["session_s"],
        "operators.index_build_s": res.get("index_build_s", 0.0),
        "operators.construct_s": sum(o["constructed"] - o["start"] for o in ops
                                     if "constructed" in o) / 1e3 / n,
        "operators.construct_jobs": sum(1 for j in jobs if j["op"] in ids and
                                        j["phase"] == "construct") / n,
        "catalyst.analysis_ms": sum(p.get("analysis", 0) for p in phases) / n,
        "catalyst.optimization_ms":
            sum(p.get("optimization", 0) for p in phases) / n,
        "catalyst.planning_ms": sum(p.get("planning", 0) for p in phases) / n,
        "catalyst.codegen_compiles": c["codegen_compiles"] / n,
        "catalyst.codegen_ms": c["codegen_ms"] / n,
        "graft.files_discovered": c["files_discovered"] / n,
        "graft.file_cache_hits": c["file_cache_hits"] / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s["tasks"] for s in stages) / n,
        "spark.driver_gap_s": sum(gaps) / 1e3 / n,
        "spark.executor_run_s": run_ms / 1e3 / n,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9 / n,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3 / n,
        "spark.core_busy": run_ms / ((t1 - t0) * cores),
        "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / mb / n,
        "spark.shuffle_write_mb":
            sum(s["shuffle_write"] for s in stages) / mb / n,
        "spark.spill_mb": sum(s["spill"] for s in stages) / mb / n,
        "spark.input_mb": sum(s["input"] for s in stages) / mb / n,
        "spark.stage_skew": statistics.mean(skews) if skews else 0.0,
        "trace.suite_s":
            sum(statistics.median(v) for v in by_kind.values()) / 1e3,
    }
    engine = {f"{r['thread']}#{r['seq']}": r for r in res.get("engine_sql", [])}
    sql = {"reader": [], "writer": []}
    stream = []
    for o in ops:
        e = engine.get(o["id"])
        if "role" in o and e:
            sql[o["role"]].append(e["end"] - e["start"])
            if o["role"] == "reader":
                stream.append((o["end"] - o["start"]) - (e["end"] - e["start"]))
    writes = [o["bytes_written"] for o in ops if "bytes_written" in o]
    m["engine.sql_read_ms"] = statistics.mean(sql["reader"]) if sql["reader"] else 0.0
    m["engine.sql_write_ms"] = statistics.mean(sql["writer"]) if sql["writer"] else 0.0
    m["server.stream_ms"] = statistics.mean(stream) if stream else 0.0
    m["commands.bytes_written_mb"] = statistics.mean(writes) / mb if writes else 0.0
    for name, kinds in families.items():
        m[name] = sum(statistics.median(by_kind[k]) for k in kinds
                      if k in by_kind) / 1e3
    m.update(warehouse or {"commands.live_files": 0, "commands.versions": 0,
                           "commands.space_amp": 0.0})
    st = self_times(spans(res))
    for name in SPAN_NAMES:
        m[f"span.{name}.self_ms"] = st.get(name, 0.0) / n
    return m
