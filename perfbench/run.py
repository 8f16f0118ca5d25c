#!/usr/bin/env python3
"""Benchmark of the graft sketch engine: three workloads on local[4].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the repository's
Scala sources together with perfbench/src into .bench_build/ with the
Scala compiler that ships in Spark's jars ($SPARK_HOME/jars); later runs
reuse the build while the sources are unchanged. One JVM then runs the
workload and writes its raw measurements; this script checks them,
turns them into metrics and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. A
line before it carries the workload's named figures and the contention
evidence of the run. A run with any failed check exits 1.
"""

import argparse
import array
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
GATE_HASHES = os.path.join(HERE, "gate_hashes.json")
WORKLOADS = ["token_build", "sbf_bulk", "wire_mixed"]
JVM_TIMEOUT_S = 170
CORES = 4
WIRE_FIELDS = 6  # phase, op, due, sent, done, lag (ns)
WIRE_SLO_US = 1000.0
WIRE_RATE = 10000
SAT_WINDOWS = 15
OPS = ["c", "s", "m", "b", "admin"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def sources():
    repo = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not repo:
        die(f"no repository sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    return repo + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(jars):
    """Compile the repository and the benchmark into CLASSES unless the
    sources are unchanged since the last build."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, "perfbench.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("compilation failed")
    with open(os.path.join(tmp, "perfbench.stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def host_snapshot():
    """1-minute load and the host's CPU counters (s): busy, steal."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, steal = ticks[:8]
    return {"load1": load, "busy_s": (user + nice + system + irq + softirq) / hz, "steal_s": steal / hz}


def run_jvm(jars, workload, seed, seconds, trace, out):
    """Run one workload in its own JVM; returns its resource usage."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    # a fixed-size heap: with a growing one, run-to-run spread was about
    # twice as wide. The daemon workload runs on the program's own
    # collector (the JVM default, G1), since its tail latencies include
    # the server's pauses. The batch workloads run on the parallel
    # collector with a fixed young generation and a pre-touched heap:
    # token_build spread half as much as with G1, and sbf_bulk a third
    # as much as with the parallel collector's adaptive sizing
    gc = [] if workload == "wire_mixed" else [
        "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn1g", "-XX:+AlwaysPreTouch"]
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m"] + gc + [
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              workload, str(seed), str(seconds), str(trace), out])
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    return {"exit": proc.returncode, "wall_s": time.monotonic() - t0,
            "cpu_s": usage.ru_utime + usage.ru_stime,
            "peak_rss_mb": usage.ru_maxrss / 1024.0}


def batch_metrics(raw):
    """Closed-loop workloads: per-op rates and times, median over ops."""
    ns, units = raw["op_ns"], raw["op_units"]
    return {"throughput_per_s": statistics.median([u / t * 1e9 for u, t in zip(units, ns)]),
            "op_p50_us": statistics.median(ns) / 1e3}


def read_wire(out):
    recs = array.array("q")
    with open(os.path.join(out, "wire.bin"), "rb") as f:
        recs.frombytes(f.read())
    if sys.byteorder == "little":
        recs.byteswap()  # DataOutputStream writes big-endian
    return [recs[i:i + WIRE_FIELDS] for i in range(0, len(recs), WIRE_FIELDS)]


def wire_metrics(raw, out, named, layers, checks):
    recs = read_wire(out)
    rates, phase_ns = raw["rates"], raw["phase_s"] * 1e9
    by_phase = {}
    for r in recs:
        by_phase.setdefault(r[0], []).append(r)

    def lat_us(phase, op):
        rs = [r for r in by_phase.get(phase, []) if r[1] == op]
        return [x / 1e3 for x in stats.due_latencies([r[2] for r in rs], [r[4] for r in rs])]

    ladder = []
    for i, rate in enumerate(rates):
        rs = [r for r in by_phase.get(i, []) if OPS[r[1]] != "admin"]
        p99 = stats.percentile(lat_us(i, 0) + lat_us(i, 1), 99)
        growing = stats.backlog_growing([r[2] for r in rs], [r[4] for r in rs], 0, phase_ns,
                                        slack=2 * raw["conns"])
        ok = p99 is not None and p99 <= WIRE_SLO_US and not growing
        ladder.append({"rate": rate, "sent": len(rs), "check_p50_us": stats.percentile(lat_us(i, 0), 50),
                       "p99_us": p99, "backlog_growing": growing, "meets_slo": ok})
    named["wire_ladder"] = ladder
    passing = [step["rate"] for step in ladder if step["meets_slo"]]
    named["wire_max_ops_per_s"] = max(passing) if passing else 0
    at = rates.index(WIRE_RATE)
    for op, label in ((0, "check"), (1, "set")):
        for q in (50, 99):
            v = stats.percentile(lat_us(at, op), q)
            if v is None:
                checks.append(f"too few {label} samples for p{q} at {WIRE_RATE} ops/s")
            named[f"wire_{label}_p{q}_us"] = v
    sat = by_phase.get(len(rates), [])
    if not sat:
        checks.append("no closed-loop requests completed")
        return {}
    # completions per window, median over windows: one pause (GC, a
    # sweep) moves one window, not the figure
    t0, t1 = min(r[3] for r in sat), max(r[4] for r in sat)
    width = (t1 - t0) / SAT_WINDOWS
    counts = [0] * SAT_WINDOWS
    for r in sat:
        counts[min(SAT_WINDOWS - 1, int((r[4] - t0) / width))] += 1
    open_loop = [r[5] / 1e6 for i in range(len(rates)) for r in by_phase.get(i, [])]
    layers["wire.gen_lag_ms"] = stats.percentile(open_loop, 99)
    named["wire_gen_lag_p99_ms"] = layers["wire.gen_lag_ms"]
    named["requests"] = {OPS[op]: sum(1 for r in recs if r[1] == op) for op in range(len(OPS))}
    named["closed_loop_check_p50_us"] = stats.percentile(lat_us(len(rates), 0), 50)
    return {"throughput_per_s": statistics.median(counts) / width * 1e9,
            "op_p50_us": named["closed_loop_check_p50_us"]}


def layer_metrics(raw, layers):
    out = {}
    for k, v in raw.get("layers", {}).items():
        if k == "wire.admin_us":
            out["wire.admin_p99_us"] = stats.percentile(v, 99)
        elif k == "wire.gen_lag_ms" and isinstance(v, list):
            out[k] = stats.percentile(v, 99)
        else:
            out[k] = statistics.median(v) if isinstance(v, list) else v
    out.update(layers)
    return out


def tracing_overhead(raw):
    """Traced ops (listener attached) against untraced ones, per unit."""
    flags, ns, units = raw.get("op_traced", []), raw.get("op_ns", []), raw.get("op_units", [])
    on = [t / u for f, t, u in zip(flags, ns, units) if f]
    off = [t / u for f, t, u in zip(flags, ns, units) if not f]
    if not on or not off:
        return None
    return statistics.median(on) / statistics.median(off) - 1.0


def gate_checks(raw, failures):
    got = raw.get("gate_hashes", {})
    if not got:
        return 0
    want = json.load(open(GATE_HASHES)) if os.path.exists(GATE_HASHES) else {}
    for g, h in got.items():
        if want.get(g) != h:
            failures.append(f"gate {g}: content hash {h}, recorded {want.get(g)}")
    return len(got)


def evidence(usage, before, after, named):
    """Contention evidence of one run. The run is flagged, never
    dropped, when other processes or the hypervisor took CPU from it
    or the wire generator ran late."""
    wall = usage["wall_s"]
    others = (after["busy_s"] - before["busy_s"] - usage["cpu_s"]) / wall
    stolen = (after["steal_s"] - before["steal_s"]) / wall
    flags = []
    if others > 0.5:
        flags.append(f"other processes used {others:.2f} cores")
    if stolen > 0.25:
        flags.append(f"hypervisor stole {stolen:.2f} cores")
    lag = named.get("wire_gen_lag_p99_ms")
    if lag is not None and lag > 0.5:
        flags.append(f"generator p99 lateness {lag:.3f} ms")
    return {"load1_before": before["load1"], "load1_after": after["load1"],
            "process_cpu_s": usage["cpu_s"], "wall_s": wall,
            "process_cores": usage["cpu_s"] / wall, "other_cores": others, "stolen_cores": stolen,
            "contaminated": bool(flags), "reasons": flags}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    jars = spark_jars()
    build(jars)

    out = os.path.join(BUILD, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    before = host_snapshot()
    usage = run_jvm(jars, args.workload, args.seed, args.seconds, args.trace, out)
    after = host_snapshot()
    raw_path = os.path.join(out, "raw.json")
    if usage["exit"] != 0 or not os.path.exists(raw_path):
        shutil.rmtree(out, ignore_errors=True)
        die(f"workload JVM exited with {usage['exit']}")
    raw = json.load(open(raw_path))

    failures = list(raw["failures"])
    attempted, failed = raw["attempted"], raw["failed"]
    named, layers, notes = dict(raw.get("named", {})), {}, []
    if args.workload == "wire_mixed":
        e2e = wire_metrics(raw, out, named, layers, notes)
    else:
        e2e = batch_metrics(raw)
    shutil.rmtree(out, ignore_errors=True)
    gate_failures = []
    attempted += gate_checks(raw, gate_failures)
    failed += len(gate_failures) + len(notes)
    attempted += len(notes)
    failures += gate_failures + notes

    e2e["setup_s"] = statistics.median(raw["setup_s"])
    named["setup_s"] = raw["setup_s"]
    if raw.get("op_ns"):
        named["op_s"] = [t / 1e9 for t in raw["op_ns"]]
    named["peak_rss_mb"] = usage["peak_rss_mb"]
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace:
        values = layer_metrics(raw, layers)
        declared = spec["per_layer"]
        named["tracing_overhead_frac"] = tracing_overhead(raw)
        named["exec_traced_ops"] = raw.get("layers", {}).get("exec.ops")
    else:
        values = e2e
        declared = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in declared}
    missing = [k for k, m in metrics.items() if m["value"] is None]
    for k in missing:
        failures.append(f"metric {k} could not be measured")
        metrics[k]["value"] = 0
    failed += len(missing)
    attempted += len(missing)

    info = {"workload": args.workload, "seed": args.seed, "unit": raw.get("unit"),
            "named": named, "evidence": evidence(usage, before, after, named),
            "failures": failures[:20]}
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
