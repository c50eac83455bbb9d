#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first call compiles the engine
(src/main/scala) and the benchmark's JVM program (perfbench/src) with the
Scala compiler shipped in the Spark jars, into $CARGO_TARGET_DIR (default
.bench_build); later calls reuse the classes while the sources are unchanged.
Every input is generated from --seed inside a per-run directory under
.bench_run/, which is removed when the run ends.

The last stdout line is one JSON object: correct, attempted, failed, and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
A traced run also writes its spans and raw per-layer data to --sidecar.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import metrics  # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"),
                             recursive=True))
    if not engine:
        raise BenchError("no engine sources under src/main/scala — run from "
                         "the root of a source checkout")
    if not bench:
        raise BenchError("no benchmark sources under perfbench/src")
    return engine + bench


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BenchError("set SPARK_HOME to a Spark 4 distribution")
    return m.group(1)


def build(root):
    """Compile engine + benchmark once per source state; return classpath."""
    srcs = sources(root)
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise BenchError("Spark jars not found at %s" % jars)
    resources = os.path.join(root, "src/main/resources")
    h = hashlib.sha1()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".complete")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        listing = os.path.join(out_root, "sources.txt")
        with open(listing, "w") as f:
            f.write("\n".join(srcs) + "\n")
        log("compiling %d sources into %s" % (len(srcs), out))
        t0 = time.time()
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars + "/*",
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
             "@" + listing],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise BenchError("compile failed")
        open(os.path.join(out, ".complete"), "w").close()
        log("compiled in %.1f s" % (time.time() - t0))
    return ":".join([out, resources, jars + "/*"])


# ------------------------------------------------------------------ JVM

def write_conf(path, conf):
    with open(path, "w") as f:
        for k, v in sorted(conf.items()):
            f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))


def run_jvm(cp, run_dir, conf, timeout_s):
    conf_path = os.path.join(run_dir, "conf.properties")
    out_path = os.path.join(run_dir, "result.json")
    write_conf(conf_path, conf)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp,
            "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dderby.system.home=" + run_dir,
            "-Dgraft.index.dir=" + os.path.join(run_dir, "stores"),
            "-Dgraft.media.dir=" + os.path.join(run_dir, "media"),
            "-Dgraft.scale.dir=" + os.path.join(run_dir, "scale"),
            "-cp", cp, "perfbench.Main", conf_path, out_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            raise BenchError("JVM timed out after %d s" % timeout_s)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(out_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = [l for l in f.read().splitlines()
                    if "Exception" in l or "Error" in l or "error" in l][-15:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise BenchError("JVM failed with code %d" % rc)
    with open(out_path) as f:
        return json.load(f)


# ------------------------------------------------------------- workloads

def ingest_plan(mode, seconds):
    """Devices, each on its own connection. Burst: the station shape,
    three sonic anemometers and the 4-level grouped humidity probe.
    Paced: one sonic and the probe, so that two streaming queries share
    the four cores and per-trigger cost, not CPU contention between
    queries, sets the commit latency."""
    if mode == "burst":
        packs = max(1, round(seconds * 0.4))
        sonics, sonic_pack, probe_pack = 3, 12000, 18
        sonic_lines = int(packs * sonic_pack / 0.985) + 1
        probe_lines = int(4 * probe_pack * 50 / 0.985) + 1
        rate = 0.0
    else:
        sonics, sonic_pack, probe_pack = 1, 25, 18
        rate = PACED_RATE
        sonic_lines = probe_lines = int(rate / 2 * seconds)
    devs = [{"name": "S%d" % i, "kind": "sonic", "pack": sonic_pack,
             "lines": sonic_lines, "levels": 1} for i in range(1, sonics + 1)]
    devs.append({"name": "RH", "kind": "probe", "pack": probe_pack,
                 "lines": probe_lines, "levels": 4})
    for d in devs:
        d["warmup_lines"], d["warmup_pack"] = WARMUP[d["kind"]]
    return devs, rate


PACED_RATE = 300.0   # offered messages/s over the two connections
# micro-batch trigger interval: burst runs batches back to back; paced
# triggers every 2 s, so per-trigger work, not a saturated CPU, sets latency
TRIGGER_MS = {"burst": 0, "paced": 2000}
# per device kind: (lines, pack) of the warm-up stream run before timing
WARMUP = {"sonic": (12000, 6000), "probe": (720, 18)}


def probe_payload(seed, seconds, run_dir):
    """The first sonic device's ingest_burst payload, as a file for the
    per-layer batch probes of a traced run."""
    import gen_ingest
    dev = ingest_plan("burst", seconds)[0][0]
    lines = gen_ingest.build_lines(dev, gen_ingest.device_rng(seed, dev))[0]
    path = os.path.join(run_dir, "probe_payload.txt")
    with open(path, "w") as f:
        f.write("".join(lines))
    return {"probe.payload": path, "probe.pack": dev["pack"]}


def run_ingest(args, cp, run_dir):
    mode = "burst" if args.workload == "ingest_burst" else "paced"
    devs, rate = ingest_plan(mode, args.seconds)
    plan = {"seed": args.seed, "mode": mode, "rate": rate,
            "deadline_s": JVM_TIMEOUT_S,
            "out": os.path.join(run_dir, "gen.json"),
            "ports_file": os.path.join(run_dir, "ports.json"),
            "devices": devs}
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    gen = subprocess.Popen([sys.executable, os.path.join(BENCH, "gen_ingest.py"),
                            os.path.join(run_dir, "plan.json")],
                           start_new_session=True)
    try:
        t_end = time.time() + 30
        while not os.path.exists(plan["ports_file"]):
            if gen.poll() is not None or time.time() > t_end:
                raise BenchError("generator did not start")
            time.sleep(0.02)
        with open(plan["ports_file"]) as f:
            ports = json.load(f)["ports"]
        conf = {"workload": args.workload, "trace": int(args.trace),
                "cores": args.cores, "run_dir": run_dir,
                "deadline_s": JVM_TIMEOUT_S - 20, "trigger_ms": TRIGGER_MS[mode],
                "devices": ",".join(d["name"] for d in devs)}
        for d, port in zip(devs, ports):
            n = d["name"]
            conf.update({"dev.%s.kind" % n: d["kind"], "dev.%s.pack" % n: d["pack"],
                         "dev.%s.port" % n: port, "dev.%s.lines" % n: d["lines"],
                         "dev.%s.warm_pack" % n: d["warmup_pack"],
                         "dev.%s.warm_lines" % n: d["warmup_lines"]})
        if args.trace:
            conf.update(probe_payload(args.seed, args.seconds, run_dir))
        res = run_jvm(cp, run_dir, conf, JVM_TIMEOUT_S)
        try:
            gen.wait(timeout=20)
        except subprocess.TimeoutExpired:
            raise BenchError("generator did not finish")
        with open(plan["out"]) as f:
            man = json.load(f)
    finally:
        if gen.poll() is None:
            os.killpg(gen.pid, signal.SIGKILL)
            gen.wait()
    return metrics.ingest(mode, res, man)


def run_batch(args, cp, run_dir):
    import batch
    return batch.run(args, cp, run_dir, run_jvm)


def run_churn(args, cp, run_dir):
    import churn
    return churn.run(args, cp, run_dir, run_jvm)


WORKLOADS = {"ingest_burst": run_ingest, "ingest_paced": run_ingest,
             "batch_suite": run_batch, "store_churn": run_churn}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] cores (4 for every gated run)")
    ap.add_argument("--sidecar", default=None,
                    help="traced runs: write spans and raw layer data here")
    ap.add_argument("--pin", default=None,
                    help="batch_suite: write the observed output fingerprints here")
    args = ap.parse_args()
    # a terminated run still stops the JVM and the generator it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    try:
        cp = build(root)
        run_dir = os.path.join(root, ".bench_run", "%s-%d-%d" % (
            args.workload, args.seed, os.getpid()))
        os.makedirs(run_dir)
        try:
            res = WORKLOADS[args.workload](args, cp, run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    except BenchError as e:
        log("error: %s" % e)
        sys.exit(2)
    out = metrics.finish(args, res)
    if args.sidecar:
        with open(args.sidecar, "w") as f:
            json.dump(dict(res.get("sidecar", {}), e2e=res["e2e"]), f, indent=1,
                      sort_keys=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
