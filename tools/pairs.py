"""Paired lifecycle-benchmark runs of two checkouts.

Runs ``python3 lifebench/run.py`` in a base and a change checkout for each
seed, alternating which side runs first (odd seeds base first, even seeds
change first), and prints per workload, for each end-to-end metric, both
sides' median and quartiles, the change's median gap and how many pairs
the change won; then the same for the workload's ``named`` metrics (per
request kind on ``serve``), which are reported, not judged.

    python3 tools/pairs.py BASE CHANGE --workload serve --seeds 1-10
    python3 tools/pairs.py BASE CHANGE --workload all --seeds 11,12 \\
        --log pairs.jsonl
    python3 tools/pairs.py BASE CHANGE --workload bulk --seeds 1-10 --trace
    python3 tools/pairs.py --report pairs.jsonl

Each run's record (``lifebench/.runs/<tag>/record.json`` of its checkout)
is appended to ``--log`` as one JSON line as soon as it finishes, so an
interrupted series can still be reported. Each checkout builds itself on
its first run.

Each workload's report ends with one verdict line per end-to-end metric:
``regressed`` when the change's median is worse than the base's by more
than the metric's ``bound`` in ``BENCHMARK.json``, otherwise ``ok``.
``--claim METRIC@WORKLOAD`` (repeatable) adds a line that reads ``claim
met`` only when the change won at least 9 of every 10 pairs on that metric
(a tie counts for neither side) and its median gap exceeds the base's
interquartile range; otherwise ``claim not met`` and why. ``--report``
gives the same verdicts from a saved log:

    python3 tools/pairs.py --report pairs.jsonl --claim p50_ms@serve

With ``--trace``, one traced run per side (on the first seed) follows the
untraced pairs, and the report adds each side's median of the named
per-layer metrics over its traced runs: ``processors.enrich.plan_ms``,
``processors.enrich.s`` and ``delta.jobs_per_batch``. The end-to-end
figures come from the untraced runs only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "lifebench"))
sys.dont_write_bytecode = True  # leave no cache file under lifebench/

import metrics  # noqa: E402

SIDES = ("base", "change")
LAYERS = ("processors.enrich.plan_ms", "processors.enrich.s", "delta.jobs_per_batch")


def seeds_of(text):
    """'1-10' or '1,3,5' or a mix: the seeds in order."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds, trace=0):
    """One benchmark run in `checkout`; its record, or a stub when the run
    left none."""
    cmd = [sys.executable, "lifebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    out, _ = proc.communicate()
    tag = f"{workload}-s{seed}-t{trace}-{proc.pid}"
    path = os.path.join(checkout, "lifebench", ".runs", tag, "record.json")
    try:
        with open(path) as f:
            record = json.load(f)
    except (OSError, ValueError):
        record = {"workloads": {}, "exit": f"no record: {out[-500:]}"}
    record["returncode"] = proc.returncode
    return record


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def bounds():
    """Each end-to-end metric's regression bound, as a share of the base
    median, from the repository's ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def regressed(better, bound, base, change):
    """Whether `change` is worse than `base` by more than `bound` of it."""
    worse = change - base if better == "lower" else base - change
    return base != 0 and worse / abs(base) > bound


def claim_line(claim, b, c, wins, n, better):
    """The verdict on `claim` ("METRIC@WORKLOAD"), given the base's and the
    change's quartiles `b` and `c` over `n` pairs, `wins` of them won by the
    change: met when it won at least 9 of every 10 pairs and its median gap
    exceeds the base's interquartile range in the claimed direction."""
    if not n:
        return f"  claim {claim}: claim not met (no pairs)"
    why = []
    if wins * 10 < 9 * n:
        why.append(f"change better in only {wins}/{n} pairs")
    if (c[1] - b[1]) * (-1 if better == "lower" else 1) <= b[2] - b[0]:
        why.append(f"median gap {c[1] - b[1]:+.4g} not beyond base IQR "
                   f"{b[2] - b[0]:.4g} in the claimed direction")
    head = "claim met" if not why else "claim not met"
    return (f"  claim {claim}: {head} (change better {wins}/{n}; "
            f"median {b[1]:.4g} -> {c[1]:.4g}; base IQR {b[0]:.4g}-{b[2]:.4g})"
            + (f": {'; '.join(why)}" if why else ""))


def report(rows, claims=()):
    """Prints the summary of `rows`: dicts with side, seed, workload and
    the workload's entry of a record, with a verdict per end-to-end metric
    and one per claim in `claims` ("METRIC@WORKLOAD"). Traced rows feed
    only the per-layer medians of the metrics in `LAYERS`."""
    traced = [r for r in rows if r.get("trace")]
    rows = [r for r in rows if not r.get("trace")]
    better = {n: b for n, _, b in metrics.END_TO_END}
    bound = bounds()
    claimed = [tuple(c.split("@", 1)) for c in claims]
    for w in sorted({r["workload"] for r in rows}):
        mine = [r for r in rows if r["workload"] == w]
        by = {(r["side"], r["seed"]): r for r in mine}
        seeds = sorted({s for (_, s) in by if ("base", s) in by and ("change", s) in by})
        failed = {side: [by[(side, s)]["failed"] for s in seeds] for side in SIDES}
        steal = [by[(side, s)]["steal"] for side in SIDES for s in seeds
                 if by[(side, s)]["steal"] is not None]
        print(f"== {w}: {len(seeds)} pairs (seeds {','.join(map(str, seeds))}); "
              f"failed-op ratio base {failed['base']} change {failed['change']}; "
              f"cpu steal max {max(steal, default=0):.1%}")
        verdicts, judged = [], []
        for group in ("end_to_end", "named"):
            names = [n for n, _, _ in metrics.END_TO_END] if group == "end_to_end" \
                else sorted({k for r in mine for k in r["entry"].get("named", {})})
            for name in names:
                pairs = [(by[("base", s)]["entry"][group].get(name),
                          by[("change", s)]["entry"][group].get(name)) for s in seeds]
                pairs = [(b, c) for b, c in pairs if b is not None and c is not None]
                if not pairs:
                    continue
                b = quartiles([p[0] for p in pairs])
                c = quartiles([p[1] for p in pairs])
                gap = (c[1] - b[1]) / b[1] if b[1] else 0.0
                line = (f"  {name:<22} base {b[1]:10.4g} [{b[0]:.4g}-{b[2]:.4g}]  "
                        f"change {c[1]:10.4g} [{c[0]:.4g}-{c[2]:.4g}]  {gap:+7.1%}")
                if name in better:
                    sign = -1 if better[name] == "lower" else 1
                    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
                    shown = abs(c[1] - b[1]) > b[2] - b[0]
                    line += (f"  change better {wins}/{len(pairs)}; gap "
                             f"{'exceeds' if shown else 'within'} base IQR")
                    worse = regressed(better[name], bound[name], b[1], c[1])
                    verdicts.append(f"  verdict {name:<14} "
                                    f"{'regressed' if worse else 'ok'} ({gap:+.1%}, "
                                    f"bound {bound[name]:.0%})")
                    if (name, w) in claimed:
                        judged.append(claim_line(f"{name}@{w}", b, c, wins,
                                                 len(pairs), better[name]))
                print(line)
        per_seed = [f"{s}: " + " ".join(
            f"{by[(side, s)]['entry']['end_to_end']['p50_ms']:.4g}" for side in SIDES)
            for s in seeds]
        print("  p50_ms per seed (base change): " + "; ".join(per_seed))
        for v in verdicts + judged:
            print(v)
    seen = {r["workload"] for r in rows}
    for metric, workload in claimed:
        if workload not in seen:
            print(f"== {workload}: no pairs")
            print(claim_line(f"{metric}@{workload}", None, None, 0, 0, better[metric]))
    for w in sorted({r["workload"] for r in traced}):
        print(f"== {w}: traced runs, per-layer medians")
        for name in LAYERS:
            got = {side: [r["entry"]["per_layer"][name] for r in traced
                          if r["workload"] == w and r["side"] == side
                          and name in r["entry"].get("per_layer", {})]
                   for side in SIDES}
            print(f"  {name:<28} " + "  ".join(
                f"{side} {statistics.median(v):10.4g} ({len(v)} runs)"
                if v else f"{side} {'-':>10} (0 runs)" for side, v in got.items()))


def rows_of(record, side, seed):
    steal = record.get("host", {}).get("cpu_steal_share")
    return [{"side": side, "seed": seed, "workload": w, "steal": steal,
             "trace": record.get("trace", 0),
             "entry": {k: e.get(k, {}) for k in
                       ("end_to_end", "named", "failures", "per_layer")},
             "failed": e.get("named", {}).get("failed_ops_ratio")}
            for w, e in record.get("workloads", {}).items()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--log", default="pairs.jsonl")
    ap.add_argument("--report", help="summarize a log instead of running")
    ap.add_argument("--trace", action="store_true",
                    help="after the pairs, one traced run per side; report "
                         "its per-layer medians")
    ap.add_argument("--claim", action="append", default=[], metavar="METRIC@WORKLOAD",
                    help="judge a claimed gain: met when the change won at "
                         "least 9/10 pairs and the median gap exceeds the "
                         "base IQR")
    a = ap.parse_args()
    names = {n for n, _, _ in metrics.END_TO_END}
    for c in a.claim:
        metric, at, workload = c.partition("@")
        if metric not in names or not at or not workload:
            ap.error(f"--claim {c}: give METRIC@WORKLOAD with METRIC one of "
                     f"{', '.join(sorted(names))}")
    if a.report:
        with open(a.report) as f:
            report([json.loads(line) for line in f if line.strip()], a.claim)
        return 0
    if not (a.base and a.change):
        ap.error("give BASE and CHANGE checkouts, or --report LOG")
    dirs = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    rows = []
    seeds = seeds_of(a.seeds)
    runs = [(seed, side, 0) for seed in seeds
            for side in (SIDES if seed % 2 else SIDES[::-1])]
    if a.trace:
        runs += [(seeds[0], side, 1) for side in SIDES]
    for seed, side, trace in runs:
        record = run(dirs[side], a.workload, seed, a.seconds, trace)
        got = rows_of(record, side, seed)
        if record["returncode"] != 0 or not got:
            print(f"seed {seed} {side}: exit {record.get('exit')} "
                  f"(return code {record['returncode']})", file=sys.stderr)
        with open(a.log, "a") as f:
            for r in got:
                f.write(json.dumps(r) + "\n")
        rows += got
        print(f"seed {seed} {side}{' traced' if trace else ''}: " + ", ".join(
            f"{r['workload']} p50_ms {r['entry']['end_to_end']['p50_ms']:.4g}"
            for r in got), flush=True)
    report(rows, a.claim)
    return 0


if __name__ == "__main__":
    sys.exit(main())
