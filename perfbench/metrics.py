"""Metric names, units, and the arithmetic that turns one run's raw JVM and
generator output into them.

End-to-end metrics are defined on every workload; what one unit of work is
depends on the workload (see README.md in this directory):

  ingest_burst  a message; latency is per pack, from the write of its last
                message to the sink commit of the batch holding it
  ingest_paced  a message; latency is per pack, from the scheduled send
                time of its last message to that commit
  batch_suite   a query (build + execute)
  store_churn   a store call (add, remove, compact or serve)

Per-layer metrics are reported by traced runs; a layer that a workload does
not exercise reports 0.
"""
import json
import os
import re

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("latency_ms.p50", "ms", "lower"),
    ("latency_ms.p90", "ms", "lower"),
]

MODULES = ["Relational", "Stats", "Dedup", "Similarity", "TextOps", "Bpe", "Sp",
           "Search", "Multimodal", "MediaDedup", "Assemble", "ParseOps"]
BATCH_STORES = ["media", "dhash", "sp"]
CHURN_STORES = ["vector", "siglake", "bm25", "runs"]
REMOVABLE = ["vector", "siglake"]

# Reported by every traced run of the gated workloads (BENCHMARK.json).
PER_LAYER = [
    ("error_rate", "ratio", "lower"),
    ("ingest.msg_per_s", "1/s", "higher"),
    ("ingest.commit_latency_ms.p50", "ms", "lower"),
    ("ingest.commit_latency_ms.p99", "ms", "lower"),
    ("batch.total_s", "s", "lower"),
    ("batch.query_s.p50", "s", "lower"),
    ("batch.query_s.p90", "s", "lower"),
    ("gen.late_ms.max", "ms", "lower"),
    ("sources.latest_offset_ms.p50", "ms", "lower"),
    ("sources.commit_ms.p50", "ms", "lower"),
    ("sources.lag_msgs.max", "count", "lower"),
    ("parse.ns_per_msg", "ns", "lower"),
    ("parse.regex_drop", "count", "lower"),
    ("parse.cast_kill", "count", "lower"),
    ("pack.ns_per_msg", "ns", "lower"),
    ("pack.state_bytes.max", "bytes", "lower"),
    ("pack.state_commit_ms.p50", "ms", "lower"),
    ("sink.ns_per_msg", "ns", "lower"),
    ("stream.query_planning_ms.p50", "ms", "lower"),
    ("stream.wal_commit_ms.p50", "ms", "lower"),
    ("stream.trigger_ms.p50", "ms", "lower"),
    ("stream.batches", "count", "lower"),
    ("stream.rows_per_batch.p50", "count", "higher"),
] + [("batch.%s.%s_s" % (m, phase), "s", "lower")
     for m in MODULES for phase in ("build", "execute")] + [
    ("batch.fast_second_calls", "count", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.result_bytes", "bytes", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
] + [("setup.%s.build_s" % s, "s", "lower") for s in BATCH_STORES]

# Reported only by the reference workload store_churn (not in BENCHMARK.json).
CHURN_LAYER = [
    ("store.serve_ms.p50", "ms", "lower"),
    ("store.serve_ms.p90", "ms", "lower"),
    ("store.dml_ms.p50", "ms", "lower"),
    ("store.dml_ms.p90", "ms", "lower"),
] + [("setup.%s.build_s" % s, "s", "lower") for s in CHURN_STORES] + [
    ("store.%s.%s" % (s, m), u, "lower")
    for s in CHURN_STORES
    for m, u in [("add_ms.p50", "ms"), ("remove_ms.p50", "ms"), ("compact_ms.p50", "ms"),
                 ("serve_ms.p50", "ms"), ("files", "count"), ("bytes_per_live_row", "bytes")]
    if s in REMOVABLE or m != "remove_ms.p50"]





def pct(values, q):
    """Linear-interpolated percentile q in [0, 100]; 0.0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


# --------------------------------------------------------------- ingest

_PART = re.compile(r"(?:_device|level)=([^/]+)/pack_seq=(\d+)/")


def commit_log(sink):
    """{(key, pack_seq): commit epoch s} from a file sink's metadata log:
    a pack commits with the first batch whose log entry lists its files;
    the batch's commit time is the log file's modification time."""
    d = os.path.join(sink, "_spark_metadata")
    entries = []
    for name in os.listdir(d):
        base = name[:-len(".compact")] if name.endswith(".compact") else name
        if base.isdigit():
            entries.append((int(base), os.path.join(d, name)))
    packs = {}
    for _, path in sorted(entries):
        mtime = os.stat(path).st_mtime_ns / 1e9
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                m = _PART.search(json.loads(line)["path"])
                if m:
                    packs.setdefault((m.group(1), int(m.group(2))), mtime)
    return packs


def _sent_by(timeline, t):
    n = 0
    for ts, lines in timeline:
        if ts > t:
            break
        n = lines
    return n


def ingest(mode, res, man):
    errors = list(man.get("errors", []))
    attempted = failed = 0
    lat_ms, commits = [], []
    for name, dev in man["devices"].items():
        pack = dev["pack"]
        packs = commit_log(res["sinks"][name])
        commits += packs.values()
        check = res["check"][name]
        for key, kept in dev["kept"].items():
            want = kept // pack
            attempted += want
            got = check.get(key, {"rows": 0, "packs": 0, "pack_span": 0,
                                  "bad_packs": 0, "bad_seq": 0, "null_temp": 0})
            sentinels = sum(1 for s in dev["sentinel_seqs"].get(key, [])
                            if s < want * pack)
            bad = (got["packs"] != want or got["pack_span"] != want
                   or got["rows"] != want * pack or got["bad_packs"]
                   or got["bad_seq"] or got["null_temp"] != sentinels)
            sent = dev["pack_sent"].get(key, [])
            for k in range(want):
                c = packs.get((key, k))
                if c is None or k >= len(sent) or sent[k] is None:
                    failed += 1
                    continue
                lat_ms.append((c - sent[k]) * 1000.0)
            if bad:
                failed += 1
                errors.append("%s key %s: expected %d packs of %d, got %s; "
                              "sentinels %d" % (name, key, want, pack, got, sentinels))
    lines = sum(d["lines"] for d in man["devices"].values())
    if mode == "burst":
        start = min(d["accept_at"] for d in man["devices"].values())
    else:
        start = min(d["t0"] for d in man["devices"].values())
    elapsed = max(commits) - start if commits else float("nan")
    rate_msgs = lines / elapsed if commits else 0.0

    prog = [p for p in res["progress"] if p["rows"] > 0]
    layer = {
        "ingest.msg_per_s": rate_msgs,
        "ingest.commit_latency_ms.p50": pct(lat_ms, 50),
        "ingest.commit_latency_ms.p99": pct(lat_ms, 99),
        "gen.late_ms.max": max(d["late_ms_max"] for d in man["devices"].values()),
    }
    if res["progress"]:
        injected = {k: sum(d["injected"][k] for d in man["devices"].values())
                    for k in ("malformed", "cast")}
        drops = sum(p["regex_drop"] + p["regex_drop_fresh"] for p in res["progress"])
        kills = sum(p["cast_kill"] for p in res["progress"])
        if drops != injected["malformed"] or kills != injected["cast"]:
            failed += 1
            errors.append("parse counts: regex_drop %d (injected %d), cast_kill %d "
                          "(injected %d)" % (drops, injected["malformed"], kills,
                                             injected["cast"]))
        lag = 0
        for p in res["progress"]:
            tl = man["devices"][p["query"]]["timeline"]
            lag = max(lag, _sent_by(tl, (p["ts"] + p["trigger_ms"]) / 1000.0)
                      - int(p["end_offset"]))
        layer.update({
            "sources.latest_offset_ms.p50": pct([p["latest_offset_ms"] for p in prog], 50),
            "sources.commit_ms.p50": pct([p["commit_offsets_ms"] for p in prog], 50),
            "sources.lag_msgs.max": lag,
            "parse.regex_drop": drops,
            "parse.cast_kill": kills,
            "pack.state_bytes.max": max(p["state_bytes"] for p in res["progress"]),
            "pack.state_commit_ms.p50": pct([p["state_commit_ms"] for p in prog], 50),
            "stream.query_planning_ms.p50": pct([p["query_planning_ms"] for p in prog], 50),
            "stream.wal_commit_ms.p50": pct([p["wal_commit_ms"] for p in prog], 50),
            "stream.trigger_ms.p50": pct([p["trigger_ms"] for p in prog], 50),
            "stream.batches": len(prog),
            "stream.rows_per_batch.p50": pct([p["rows"] for p in prog], 50),
        })
    if res.get("probes"):
        pr = res["probes"]
        layer.update({"parse.ns_per_msg": pr["parse_ns_per_msg"],
                      "pack.ns_per_msg": pr["pack_ns_per_msg"],
                      "sink.ns_per_msg": pr["sink_ns_per_msg"]})
    layer.update(exec_layer(res.get("exec")))
    e2e = {
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "throughput_per_s": rate_msgs,
        "latency_ms.p50": pct(lat_ms, 50),
        "latency_ms.p90": pct(lat_ms, 90),
    }
    return {"attempted": max(1, attempted), "failed": failed, "errors": errors,
            "e2e": e2e, "layer": layer,
            "sidecar": {"samples": {"packs": len(lat_ms), "batches": len(prog)},
                        "spans": res.get("spans", []), "probes": res.get("probes", {}),
                        "errors": errors}}


# ---------------------------------------------------------------- batch

def batch(res, pinned):
    qs = res["queries"]
    errors, failed = [], 0
    for q in qs:
        want = pinned.get(q["query"])
        if want != [q["rows"], q["hash"]]:
            failed += 1
            errors.append("%s: fingerprint %s, pinned %s" % (
                q["query"], [q["rows"], q["hash"]], want))
    secs = [q["build_s"] + q["execute_s"] for q in qs]
    layer = {
        "batch.total_s": res["total_s"],
        "batch.query_s.p50": pct(secs, 50),
        "batch.query_s.p90": pct(secs, 90),
    }
    for m in MODULES:
        layer["batch.%s.build_s" % m] = sum(q["build_s"] for q in qs if q["module"] == m)
        layer["batch.%s.execute_s" % m] = sum(q["execute_s"] for q in qs if q["module"] == m)
    for s, v in res["stores"].items():
        layer["setup.%s.build_s" % s] = v
    first = {q["query"]: q["build_s"] + q["execute_s"] for q in qs}
    fast = sorted(q["query"] for q in res["second"]
                  if q["build_s"] + q["execute_s"] < first[q["query"]] / 2)
    if res["second"]:
        layer["batch.fast_second_calls"] = len(fast)
    layer.update(exec_layer(res.get("exec")))
    e2e = {
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "throughput_per_s": len(qs) / res["total_s"],
        "latency_ms.p50": pct(secs, 50) * 1000.0,
        "latency_ms.p90": pct(secs, 90) * 1000.0,
    }
    return {"attempted": len(qs), "failed": failed, "errors": errors,
            "e2e": e2e, "layer": layer,
            "sidecar": {"queries": qs, "second_calls": res["second"],
                        "second_call_over_2x_faster": fast,
                        "samples": {"queries": len(qs)},
                        "spans": res.get("spans", []), "errors": errors}}


# ---------------------------------------------------------------- churn

def churn(res):
    calls = res["calls"]
    errors = list(res["errors"])
    serve = [c["ms"] for c in calls if c["kind"] == "serve"]
    dml = [c["ms"] for c in calls if c["kind"] != "serve"]
    layer = {
        "store.serve_ms.p50": pct(serve, 50),
        "store.serve_ms.p90": pct(serve, 90),
        "store.dml_ms.p50": pct(dml, 50),
        "store.dml_ms.p90": pct(dml, 90),
    }
    for s, v in res["stores"].items():
        layer["setup.%s.build_s" % s] = v
    for s in CHURN_STORES:
        for kind in ("add", "remove", "compact", "serve"):
            xs = [c["ms"] for c in calls if c["store"] == s and c["kind"] == kind]
            if xs:
                layer["store.%s.%s_ms.p50" % (s, kind)] = pct(xs, 50)
        fp = res["footprint"][s]
        layer["store.%s.files" % s] = fp["files"]
        layer["store.%s.bytes_per_live_row" % s] = fp["bytes"] / max(1, fp["live_rows"])
    layer.update(exec_layer(res.get("exec")))
    ms = [c["ms"] for c in calls]
    e2e = {
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "throughput_per_s": len(calls) / res["loop_s"],
        "latency_ms.p50": pct(ms, 50),
        "latency_ms.p90": pct(ms, 90),
    }
    return {"attempted": max(1, len(calls)),
            "failed": sum(1 for c in calls if not c["ok"]), "errors": errors,
            "e2e": e2e, "layer": layer,
            "sidecar": {"rounds": res["rounds"], "samples": {"serve": len(serve), "dml": len(dml)},
                        "footprint": res["footprint"], "spans": res.get("spans", []),
                        "errors": errors}}


def exec_layer(ex):
    if not ex:
        return {}
    return {"exec." + k: v for k, v in ex.items()}


# --------------------------------------------------------------- output

def finish(args, res):
    failed = res["failed"]
    attempted = res["attempted"]
    res["layer"]["error_rate"] = failed / attempted
    if args.trace:
        names = PER_LAYER + (CHURN_LAYER if args.workload == "store_churn" else [])
        values = dict.fromkeys((n for n, _, _ in names), 0.0)
        values.update(res["layer"])
    else:
        names = END_TO_END
        values = res["e2e"]
    for e in res.get("errors", [])[:20]:
        print("[perfbench] check failed: %s" % e, flush=True)
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u, _ in names}
    return {"correct": failed == 0 and not res.get("errors"),
            "attempted": attempted, "failed": failed, "metrics": metrics}
