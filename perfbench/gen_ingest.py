#!/usr/bin/env python3
"""Out-of-process, seeded device-message generator for the ingest workloads.

One process, one thread per device connection (at most four). Each thread
listens on its own loopback port; the engine's TCP source connects to it.

Usage: gen_ingest.py PLAN.json

PLAN.json holds:
  seed          int   — the workload seed; every line is a function of it
  mode          "burst" | "paced"
  rate          float — paced only: offered messages/s summed over devices
  deadline_s    float — the generator gives up after this many seconds
  out           str   — where to write the manifest (JSON) when done
  ports_file    str   — written with {"ports": [...]} once all ports listen
  devices       list of {name, kind: "sonic"|"probe", lines, pack, levels,
                         warmup_lines, warmup_pack}

A device with warmup_lines serves them to its first connection (the
engine's warm-up query) and its payload to the second.

Every *kept* line carries `n= <seq>`, its sequence number among the kept
lines of its key (device, or level for the grouped probe), so the k-th
pack of a key holds exactly seqs [k*pack, (k+1)*pack). Injected lines:
  malformed  — no regex match        → counted as regex_drop
  cast       — `ZZZ` numeric field   → counted as cast_kill
  sentinel   — `///` temperature     → kept, temperature NULL
The manifest records the exact counts, the scheduled send time of every
pack's last line, and how late the sender ran.
"""
import json
import os
import random
import socket
import sys
import threading
import time

MALFORMED_SHARE = 0.004
CAST_SHARE = 0.003
SENTINEL_SHARE = 0.005


def build_lines(dev, rng):
    """(payload lines, per-key kept counts, injected counts, last-line index
    of every pack as {key: [line index, ...]}, sentinel seqs per key)."""
    kind, n, pack = dev["kind"], dev["lines"], dev["pack"]
    levels = dev.get("levels", 1)
    seq = {}
    lines = []
    pack_end = {}
    inj = {"malformed": 0, "cast": 0, "sentinel": 0}
    sentinels = {}
    for i in range(n):
        key = (i % levels) + 1 if kind == "probe" else dev["name"]
        r = rng.random()
        if r < MALFORMED_SHARE:
            inj["malformed"] += 1
            lines.append("ERR sensor %d timeout\n" % rng.randrange(100))
            continue
        if r < MALFORMED_SHARE + CAST_SHARE:
            inj["cast"] += 1
            if kind == "sonic":
                lines.append("u= ZZZ+0.079 v= 0.1 w= 0.2 t= 14.9 n= -1\n")
            else:
                lines.append("%02d RH= ZZZ %%RH T= 14.9 'C n= -1\n" % key)
            continue
        s = seq.get(key, 0)
        seq[key] = s + 1
        sentinel = r < MALFORMED_SHARE + CAST_SHARE + SENTINEL_SHARE
        if sentinel:
            inj["sentinel"] += 1
            sentinels.setdefault(str(key), []).append(s)
        temp = "///" if sentinel else "%.2f" % (10.0 + rng.random() * 15.0)
        if kind == "sonic":
            lines.append("u= %.3f v= %.3f w= %.3f t= %s n= %d\n" % (
                rng.uniform(-5, 5), rng.uniform(-5, 5), rng.uniform(-1, 1),
                temp, s))
        else:
            lines.append("%02d RH= %.2f %%RH T= %s 'C n= %d\n" % (
                key, rng.uniform(20, 90), temp, s))
        if (s + 1) % pack == 0:
            pack_end.setdefault(str(key), []).append(len(lines) - 1)
    kept = {str(k): v for k, v in seq.items()}
    return lines, kept, inj, pack_end, sentinels


def warm_line(kind, i):
    """Line i of the warm-up stream: valid, with per-key sequence numbers
    (the probe's four levels take turns)."""
    if kind == "sonic":
        return "u= 0.1 v= 0.2 w= 0.3 t= 14.9 n= %d\n" % i
    return "%02d RH= 50.00 %%RH T= 14.90 'C n= %d\n" % (i % 4 + 1, i // 4)


def device_rng(seed, dev):
    return random.Random("%d/%s" % (seed, dev["name"]))


class Device(threading.Thread):
    def __init__(self, dev, seed, mode, rate_per_dev, start_evt, deadline):
        super().__init__(daemon=True)
        self.dev = dev
        rng = device_rng(seed, dev)
        (self.lines, self.kept, self.inj, self.pack_end,
         self.sentinels) = build_lines(dev, rng)
        self.warm = [warm_line(dev["kind"], i) for i in range(dev.get("warmup_lines", 0))]
        self.mode = mode
        self.rate = rate_per_dev
        self.start_evt = start_evt
        self.deadline = deadline
        self.srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(1)
        self.port = self.srv.getsockname()[1]
        self.accepted = threading.Event()
        self.t0 = None            # epoch s of the schedule start
        self.accept_at = None     # epoch s the measured connection opened
        self.sent_at = {}         # line index → epoch s actually written
        self.timeline = []        # (epoch s, lines written so far)
        self.late_max = 0.0
        self.error = None

    def _accept(self):
        self.srv.settimeout(max(0.1, self.deadline - time.time()))
        conn, _ = self.srv.accept()
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        return conn

    def _hold(self, conn):
        """Keep the connection open (a silent healthy device) until the
        engine closes it or the deadline passes."""
        conn.settimeout(max(0.1, self.deadline - time.time()))
        try:
            while conn.recv(4096):
                pass
        except OSError:
            pass
        conn.close()

    def run(self):
        try:
            if self.warm:
                conn = self._accept()
                conn.sendall("".join(self.warm).encode("ascii"))
                self._hold(conn)
            conn = self._accept()
            self.accept_at = time.time()
            self.accepted.set()
            if self.mode == "burst":
                self._burst(conn)
            else:
                self.start_evt.wait(max(0.1, self.deadline - time.time()))
                self._paced(conn)
            self._hold(conn)
        except Exception as e:  # reported in the manifest, fails the run
            self.error = "%s: %s" % (type(e).__name__, e)
            self.accepted.set()

    def _burst(self, conn):
        self.t0 = self.accept_at
        ends = {i for v in self.pack_end.values() for i in v}
        chunk, size, first = [], 0, 0
        for i, line in enumerate(self.lines):
            chunk.append(line)
            size += len(line)
            if size >= 65536 or i == len(self.lines) - 1:
                conn.sendall("".join(chunk).encode("ascii"))
                now = time.time()
                self.timeline.append((now, i + 1))
                for j in range(first, i + 1):
                    if j in ends:
                        self.sent_at[j] = now
                chunk, size, first = [], 0, i + 1

    def _paced(self, conn):
        self.t0 = self.start_evt.t0
        period = 1.0 / self.rate
        ends = {i for v in self.pack_end.values() for i in v}
        i, n = 0, len(self.lines)
        while i < n:
            now = time.time()
            due = int((now - self.t0) / period) + 1
            if due <= i:
                time.sleep(min(0.002, (i * period + self.t0) - now))
                continue
            j = min(due, n)
            self.late_max = max(self.late_max, now - (self.t0 + i * period))
            conn.sendall("".join(self.lines[i:j]).encode("ascii"))
            if not self.timeline or now - self.timeline[-1][0] >= 0.01 or j == n:
                self.timeline.append((now, j))
            for k in range(i, j):
                if k in ends:
                    self.sent_at[k] = self.t0 + k * period
            i = j


class StartGate(threading.Event):
    t0 = None


def main(plan_path):
    with open(plan_path) as f:
        plan = json.load(f)
    deadline = time.time() + plan["deadline_s"]
    gate = StartGate()
    devs = plan["devices"]
    per_dev = plan.get("rate", 0.0) / max(1, len(devs))
    threads = [Device(d, plan["seed"], plan["mode"], per_dev, gate, deadline)
               for d in devs]
    with open(plan["ports_file"] + ".tmp", "w") as f:
        json.dump({"ports": [t.port for t in threads]}, f)
    os.replace(plan["ports_file"] + ".tmp", plan["ports_file"])
    for t in threads:
        t.start()
    for t in threads:
        t.accepted.wait(max(0.1, deadline - time.time()))
    gate.t0 = time.time() + 0.05
    gate.set()
    for t in threads:
        t.join(max(0.1, deadline - time.time()))
    man = {"devices": {}, "errors": [t.error for t in threads if t.error]}
    for t in threads:
        if t.is_alive():
            man["errors"].append("%s: still running at deadline" % t.dev["name"])
        man["devices"][t.dev["name"]] = {
            "kind": t.dev["kind"], "pack": t.dev["pack"],
            "lines": len(t.lines), "kept": t.kept, "injected": t.inj,
            "t0": t.t0, "accept_at": t.accept_at,
            "late_ms_max": t.late_max * 1000.0,
            "sentinel_seqs": t.sentinels,
            "timeline": t.timeline,
            # per key: epoch s the last line of each pack was (due to be) sent
            "pack_sent": {k: [t.sent_at.get(i) for i in v]
                          for k, v in t.pack_end.items()},
        }
    with open(plan["out"], "w") as f:
        json.dump(man, f)
    for t in threads:
        t.srv.close()


if __name__ == "__main__":
    main(sys.argv[1])
