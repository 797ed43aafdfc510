#!/usr/bin/env python3
"""Steadiness, comparison and trace reports over benchmark runs.

    # run a workload N times (seeds S..S+N-1), keep every result, print
    # each end-to-end metric's median, quartiles and spread
    python3 perfbench/report.py steady --workload W --runs 10 [--seed 1] --out runs.jsonl

    # print the same table for stored results
    python3 perfbench/report.py summary runs.jsonl

    # compare two result sets by the pairs rule (parent first, then change)
    python3 perfbench/report.py compare parent.jsonl change.jsonl

    # alternate runs of two checkouts, parent and change, then compare
    python3 perfbench/report.py pairs --parent DIR --change DIR --workload W --runs 10

    # traced report: per-layer self time, uncovered share of wall time and
    # tracing overhead (traced minus untraced end-to-end medians)
    python3 perfbench/report.py trace --workload W --runs 3 [--seed 1]

Every file holds one JSON object per line: the full result of one run
(every metric the program measured) plus "workload", "seed" and "trace".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root, workload, seed, seconds, trace):
    """One run.py invocation in checkout `root`; returns the full result."""
    scratch = os.path.join(root, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.NamedTemporaryFile(suffix=".json", dir=scratch, delete=False) as f:
        full = f.name
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--full-result", full]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    try:
        with open(full) as f:
            res = json.load(f)
    except (OSError, ValueError):
        sys.exit(f"run failed: {' '.join(cmd)} (rc={p.returncode})")
    finally:
        os.unlink(full)
    res.update(workload=workload, seed=seed, trace=trace, rc=p.returncode)
    return res


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def table(runs, metrics):
    """Prints median/quartiles/spread per metric; returns {name: (q1, med, q3)}."""
    out = {}
    print(f"{'metric':28} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  "
          "within bound / a third of it")
    for m in metrics:
        vals = [r["metrics"][m["name"]] for r in runs if r["metrics"].get(m["name"]) is not None]
        if not vals:
            continue
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("inf")
        bound = m.get("bound")
        ok = "" if bound is None else \
            f"{'yes' if spread <= bound else 'NO'} / {'yes' if spread <= bound / 3 else 'no'}"
        print(f"{m['name']:28} {len(vals):>3} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>8.3f} "
              f"{'' if bound is None else bound:>6}  {ok}")
        out[m["name"]] = (q1, med, q3)
    failed = sum(1 for r in runs if not r["correct"])
    print(f"runs: {len(runs)}, with a failed check: {failed}")
    return out


def compare(base, new, metrics):
    """The pairs rule: a gain needs the change to win at least nine tenths of
    the pairs and the medians to differ by more than the parent's quartile
    spread; a regression is a median worse by more than the bound."""
    print(f"{'metric':28} {'parent':>12} {'change':>12} {'delta':>8} {'wins':>7}  verdict")
    for m in metrics:
        n = m["name"]
        a = [r["metrics"][n] for r in base if r["metrics"].get(n) is not None]
        b = [r["metrics"][n] for r in new if r["metrics"].get(n) is not None]
        if not a or not b:
            continue
        higher = m.get("better", "lower") == "higher"
        better = (lambda x, y: x > y) if higher else (lambda x, y: x < y)
        pairs = list(zip(a, b))
        wins = sum(1 for x, y in pairs if better(y, x))
        q1, ma, q3 = quartiles(a)
        mb = statistics.median(b)
        delta = (mb - ma) / ma if ma else float("inf")
        worse = -delta if higher else delta
        bound = m.get("bound")
        if wins >= 0.9 * len(pairs) and abs(mb - ma) > (q3 - q1):
            verdict = "gain"
        elif bound is not None and (q3 - q1) / ma > bound and not all(better(y, x) for x in a for y in b):
            verdict = "unresolved (parent spread wider than bound)"
        elif bound is not None and worse > bound:
            verdict = "REGRESSION"
        else:
            verdict = "no change"
        print(f"{n:28} {ma:>12.4f} {mb:>12.4f} {delta:>+8.3f} {wins:>3}/{len(pairs):<3}  {verdict}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("steady")
    s.add_argument("--workload", required=True)
    s.add_argument("--runs", type=int, default=10)
    s.add_argument("--seed", type=int, default=1)
    s.add_argument("--trace", type=int, default=0)
    s.add_argument("--out", required=True)
    sub.add_parser("summary").add_argument("files", nargs="+")
    c = sub.add_parser("compare")
    c.add_argument("parent")
    c.add_argument("change")
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--out-prefix", default="pairs")
    t = sub.add_parser("trace")
    t.add_argument("--workload", required=True)
    t.add_argument("--runs", type=int, default=1)
    t.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    sp = spec(root)
    secs = sp["run_seconds"]
    if a.cmd == "steady":
        runs = []
        with open(a.out, "a") as f:
            for i in range(a.runs):
                r = run_once(root, a.workload, a.seed + i, secs, a.trace)
                runs.append(r)
                f.write(json.dumps(r) + "\n")
                f.flush()
                print(f"run {i + 1}/{a.runs} seed={a.seed + i} correct={r['correct']}", file=sys.stderr)
        table(runs, sp["end_to_end"] if a.trace == 0 else sp["per_layer"])
    elif a.cmd == "summary":
        runs = [r for f in a.files for r in load(f)]
        for w in sorted({r["workload"] for r in runs}):
            print(f"== {w}")
            table([r for r in runs if r["workload"] == w], sp["end_to_end"])
    elif a.cmd == "compare":
        base, new = load(a.parent), load(a.change)
        for w in sorted({r["workload"] for r in base}):
            print(f"== {w}")
            compare([r for r in base if r["workload"] == w], [r for r in new if r["workload"] == w],
                    sp["end_to_end"])
    elif a.cmd == "pairs":
        base, new = [], []
        for i in range(a.runs):
            order = [(a.parent, base), (a.change, new)]
            for d, acc in (order if i % 2 == 0 else order[::-1]):
                acc.append(run_once(os.path.abspath(d), a.workload, a.seed + i, secs, 0))
        for name, rs in (("parent", base), ("change", new)):
            with open(f"{a.out_prefix}-{name}.jsonl", "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rs)
        compare(base, new, sp["end_to_end"])
    elif a.cmd == "trace":
        plain = [run_once(root, a.workload, a.seed + i, secs, 0) for i in range(a.runs)]
        traced = [run_once(root, a.workload, a.seed + i, secs, 1) for i in range(a.runs)]
        med = lambda rs, n: statistics.median(r["metrics"][n] for r in rs)
        print(f"== {a.workload}: per-layer self time over the timed phase (median of {a.runs} traced runs)")
        for n in sorted(k for k in traced[0]["metrics"] if k.startswith("trace.") and k.endswith(".self_s")):
            print(f"  {n[len('trace.'):-len('.self_s')]:24} {med(traced, n):10.3f} s")
        print(f"  uncovered share of wall time {med(traced, 'trace.uncovered_ratio'):10.3f}")
        print("== tracing overhead: traced minus untraced end-to-end medians")
        for m in sp["end_to_end"]:
            x, y = med(plain, m["name"]), med(traced, m["name"])
            print(f"  {m['name']:24} untraced {x:12.4f}  traced {y:12.4f}  "
                  f"overhead {y - x:+12.4f} {m['unit']} ({(y - x) / x if x else 0:+.1%})")


if __name__ == "__main__":
    main()
