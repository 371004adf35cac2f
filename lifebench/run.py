"""Occurrence-lifecycle benchmark: one command builds the program from
source, runs a workload in one JVM and prints its metrics.

    python3 lifebench/run.py --workload bulk --seed 1 --seconds 20 --trace 0
    python3 lifebench/run.py --workload all  --seed 1 --seconds 20 --trace 1
    python3 lifebench/run.py --selftest

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Each run also leaves a record (host facts, every metric, the failures,
the exit reason if the JVM died) under ``lifebench/.runs``, and a traced
run its spans. Exit code 0 only when every output check passed.
See lifebench/README.md for the workloads and the metric table.
"""
import argparse
import glob
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

WORKLOADS = ["bulk", "serve"]
RUNS = os.path.join(HERE, ".runs")
CHILD_TIMEOUT_S = 170
HEAP = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags(work):
    # a fixed, pre-touched heap: peak RSS is then the heap plus everything
    # off-heap (metaspace, code cache, threads, buffers) instead of varying
    # with how far G1 happened to grow the heap in a run
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             f"-Djava.io.tmpdir={work}/tmp"]
    for m in ADD_OPENS:
        flags += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return flags


def run_child(cmd, log_path):
    """Run the JVM; return (exit status, rusage, wall seconds)."""
    with open(log_path, "w") as log:
        t0 = time.monotonic()
        # few malloc arenas: native memory, and so RSS, varies less
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True, env=env)
        deadline = t0 + CHILD_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                return status, usage, time.monotonic() - t0
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                pid, status, usage = os.wait4(proc.pid, 0)
                return -1, usage, time.monotonic() - t0
            time.sleep(0.05)


def cpu_times():
    """Host CPU times (user .. steal) from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def exit_reason(status):
    if status == -1:
        return f"killed after the {CHILD_TIMEOUT_S} s timeout"
    if os.WIFSIGNALED(status):
        return f"killed by signal {os.WTERMSIG(status)}"
    return f"exit code {os.WEXITSTATUS(status)}"


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            lines = [l for l in f.read().splitlines()
                     if " INFO " not in l and " WARN " not in l]
        return "\n".join(lines[-n:])
    except OSError:
        return ""


def untraced_record(workload, seed):
    """The latest untraced record of this workload and seed, if any."""
    best = None
    for path in glob.glob(os.path.join(RUNS, "*", "record.json")):
        try:
            with open(path) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        if r.get("trace") == 0 and r.get("seed") == seed and workload in r.get("workloads", {}):
            if best is None or r["finished_at"] > best["finished_at"]:
                best = r
    return best and best["workloads"][workload]


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"], default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        sys.exit(selftest.main())

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    names = WORKLOADS if a.workload == "all" else [a.workload]
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(RUNS, "work-" + tag)
    out = os.path.join(RUNS, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    flags = jvm_flags(work)
    cmd = [build.java()] + flags + ["-cp", classpath, "lifebench.Main", "run",
                                    work, ",".join(names), str(a.seed),
                                    str(a.seconds), str(a.trace), out]
    load_start, cpu_start = os.getloadavg()[0], cpu_times()
    status, usage, wall = run_child(cmd, os.path.join(out, "jvm.log"))
    load_end, cpu_end = os.getloadavg()[0], cpu_times()
    # share of host CPU time the hypervisor gave to other guests
    steal = None
    if cpu_start and cpu_end:
        d = [b - a for a, b in zip(cpu_start, cpu_end)]
        steal = d[7] / max(1, sum(d))
    shutil.rmtree(work, ignore_errors=True)
    peak_rss_mb = usage.ru_maxrss / 1024.0  # ru_maxrss is in KiB on Linux

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace,
        "host": {"nproc": os.cpu_count(), "load1_start": load_start,
                 "load1_end": load_end, "cpu_steal_share": steal,
                 "jvm_wall_s": wall,
                 "jvm_cpu_s": usage.ru_utime + usage.ru_stime,
                 "jvm_flags": flags},
        "exit": exit_reason(status), "workloads": {},
    }
    attempted = failed = 0
    final = {}
    for w in names:
        path = os.path.join(out, f"facts_{w}.json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            facts = json.load(f)
        attempted += facts["attempted"]
        failed += facts["failed"]
        e2e = metrics.end_to_end(facts, peak_rss_mb)
        entry = {"end_to_end": e2e,
                 "named": {k: v for k, (v, _) in metrics.named(facts).items()},
                 "failures": facts["failures"], "truth": facts["truth"]}
        print(f"== {w}  seed={a.seed}  attempted={facts['attempted']} "
              f"failed={facts['failed']}")
        for name, unit, _ in metrics.END_TO_END:
            print(f"  {name:<24} {fmt(e2e[name]):>12} {unit}")
        for name, (v, unit) in metrics.named(facts).items():
            print(f"  {name:<24} {fmt(v):>12} {unit}")
        for msg in facts["failures"]:
            print(f"  FAILED {msg}")
        entry["blocking_wall_s"] = metrics.blocking_wall(facts)
        if a.trace:
            layers = metrics.per_layer(facts)
            entry["per_layer"] = layers
            entry["layer_self_time_s"] = metrics.layer_self_times(facts)
            selfs, traced_wall = metrics.blocking_path(facts)
            n = len(metrics.ops_of(facts["phase"]))
            path = {"span_self_time_s": selfs, "traced_wall_s": traced_wall,
                    "traced_op_s": entry["blocking_wall_s"]}
            print(f"  blocking path: span self time {selfs:.3f} s over "
                  f"{n} operations, traced wall {traced_wall:.3f} s")
            plain = untraced_record(w, a.seed)
            if plain:
                # tracing overhead: this traced run minus the untraced one
                path["untraced_op_s"] = plain["blocking_wall_s"]
                path["tracing_overhead_s"] = (entry["blocking_wall_s"] -
                                              plain["blocking_wall_s"])
                entry["tracing_overhead"] = {
                    k: e2e[k] - plain["end_to_end"][k] for k in e2e}
                print(f"  blocking operation: traced {entry['blocking_wall_s']:.3f} s,"
                      f" untraced {plain['blocking_wall_s']:.3f} s; tracing "
                      f"overhead {path['tracing_overhead_s']:+.3f} s; end-to-end "
                      "deltas " + ", ".join(f"{k} {v:+.4g}" for k, v in
                                            entry["tracing_overhead"].items()))
            else:
                print("  tracing overhead: no untraced record of this seed "
                      "yet; run with --trace 0 first")
            entry["blocking_path"] = path
            for name, s in sorted(entry["layer_self_time_s"].items(),
                                  key=lambda kv: -kv[1]):
                print(f"  self {name:<22} {s:10.3f} s")
            with open(os.path.join(out, f"trace_{w}.json"), "w") as f:
                json.dump(facts["phase"]["spans"], f)
            units = {n: u for n, u, _ in metrics.per_layer_spec()}
            final.update({(k if len(names) == 1 else f"{w}.{k}"):
                          {"value": v, "unit": units[k]} for k, v in layers.items()})
        else:
            final.update({(k if len(names) == 1 else f"{w}.{k}"):
                          {"value": e2e[k], "unit": u}
                          for k, u, _ in metrics.END_TO_END})
        record["workloads"][w] = entry
    finished = len(record["workloads"]) == len(names)
    record["finished_at"] = time.time()
    print(f"host: nproc={os.cpu_count()} load1 {load_start:.2f}->{load_end:.2f} "
          f"cpu steal {'n/a' if steal is None else f'{steal:.1%}'}; "
          f"jvm cpu {record['host']['jvm_cpu_s']:.1f} s over {wall:.1f} s wall; "
          f"jvm {record['exit']}")
    if not (status == 0 and finished):
        record["log_tail"] = tail(os.path.join(out, "jvm.log"))
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    if not (status == 0 and finished):
        print(f"benchmark JVM failed ({record['exit']}); record kept in {out}",
              file=sys.stderr)
        print(record["log_tail"], file=sys.stderr)
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": final}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
