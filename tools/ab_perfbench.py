#!/usr/bin/env python3
"""Paired A/B runs of the repo benchmark: a parent revision against the
working tree.

    python3 tools/ab_perfbench.py <parent-rev> <workload> <pairs> [--seed N] [--trace] [--jfr]

Run from the root of a checkout. Both sides run from `git archive`
exports, each in a fresh temporary directory with no build caches,
traces or stray files of earlier work: the parent revision, and the
working tree as `git stash create` records it (HEAD when the tree is
clean). That records tracked files only, so a new file must be
`git add`ed to be part of the change side. Each pair
then runs `perfbench/run.py` once in each export, with the same seed
(seed, seed+1, ... per pair), the run length
BENCHMARK.json sets, and alternating which side goes first. Each side's
benchmark build is cached by its own source stamp, so only the first
run of a side compiles.

Prints every run, then per end-to-end metric each side's median and
quartiles, the change's win count (ties count for neither side), and
whether a gain could be claimed on it: the change wins at least 9/10 of
the pairs and the medians differ by more than the parent's
interquartile distance. Below 10 pairs no gain verdict is given: the
line says there are too few pairs for a claim. Every run must report
`correct`; a pair with a run that does not is listed and counts as a
loss, and that run's line shows its notes' `dup_recall`,
`unique_kept_frac` and `failed_frac`.

With --trace, one traced run per side follows the pairs (the first
pair's seed), and its per-layer metrics print side by side, with the
notes' quality figures and each plain cycle's job count from the span
file, so a claim shows which layer moved. Metrics both sides report
as 0 (layers the workload does not run) are left out.

With --jfr, one profiled run per side follows (the first pair's seed):
the JVM records with Flight Recorder through JAVA_TOOL_OPTIONS (deep
stacks, so Catalyst frames are not cut off), and the driver thread's
samples print side by side, split by query phase: analysis, optimizer,
planning, AQE, other. They are its execution samples and its native
method samples: an execution sample never catches a thread blocked in
native code, such as a file open or delete. A sample whose innermost
frame is a filesystem call (`open0`, `delete0`, `unlink0`, `rename0`)
counts on a "filesystem" line of its own; any other sample's phase is
the first phase marker met walking its stack from the innermost frame
(so the optimizer and planner runs that AQE starts count as optimizer
and planning). The count of processes the JVM forked prints too.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def export(root, rev, prefix):
    """A fresh temporary directory holding `git archive <rev>`."""
    out = tempfile.mkdtemp(prefix=prefix)
    archive = subprocess.run(["git", "archive", rev], cwd=root,
                             capture_output=True, check=True).stdout
    subprocess.run(["tar", "-x", "-C", out], input=archive, check=True)
    return out


def run_once(checkout, workload, seed, seconds, trace=False, env=None):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, env=env)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(r.stderr[-2000:])
        return {"correct": False, "metrics": {}, "notes": {}}
    notes = [ln[len("notes "):] for ln in lines if ln.startswith("notes ")]
    out["notes"] = json.loads(notes[-1]) if notes else {}
    return out


def why_not_correct(out):
    """The notes' quality figures of a run that is not `correct`, so a
    miss (a dropped dup, a lost unique, a failed cycle) shows which."""
    if out.get("correct"):
        return ""
    notes = out["notes"]
    figures = {k: notes[k] for k in ("dup_recall", "unique_kept_frac", "failed_frac")
               if k in notes}
    return f" notes={json.dumps(figures)}"


def plain_cycle_jobs(checkout, workload, seed):
    """Jobs of each plain traced cycle: a `cycle` span with no child
    spans (a pinned cycle opens one span per layer under it)."""
    path = os.path.join(checkout, "perfbench", "traces", f"{workload}-seed{seed}.jsonl")
    try:
        with open(path) as fh:
            spans = [json.loads(ln) for ln in fh if ln.strip()]
    except OSError:
        return []
    parents = {s["parent"] for s in spans}
    return [s["jobs"] for s in spans if s["name"] == "cycle" and s["id"] not in parents]


def traced_comparison(sides, workload, seed, seconds, layer_names):
    outs = {side: run_once(sides[side], workload, seed, seconds, trace=True)
            for side in ("parent", "change")}
    print(f"\ntraced run, seed {seed}: correct parent={outs['parent'].get('correct')} "
          f"change={outs['change'].get('correct')}")
    print(f"  {'metric':28s} {'parent':>12s} {'change':>12s}")
    for name in layer_names:
        vals = [outs[s]["metrics"].get(name, {}).get("value") for s in ("parent", "change")]
        if any(v for v in vals):
            print(f"  {name:28s} " + " ".join(
                f"{v:12.4g}" if v is not None else f"{'-':>12s}" for v in vals))
    for name in ("dup_recall", "unique_kept_frac"):
        vals = [outs[s]["notes"].get(name) for s in ("parent", "change")]
        if any(v is not None for v in vals):
            print(f"  {name:28s} " + " ".join(
                f"{v:12.4g}" if v is not None else f"{'-':>12s}" for v in vals))
    for side in ("parent", "change"):
        print(f"  plain-cycle jobs, {side}: {plain_cycle_jobs(sides[side], workload, seed)}")


# (phase, frame markers); the first marker met from the innermost frame
# names a sample's phase
PHASES = [
    ("analysis", ("QueryExecution.$anonfun$lazyAnalyzed", "QueryExecution.assertAnalyzed",
                  "org.apache.spark.sql.catalyst.analysis.")),
    ("optimizer", ("QueryExecution.$anonfun$lazyOptimizedPlan",
                   "org.apache.spark.sql.catalyst.optimizer.")),
    ("planning", ("QueryExecution.$anonfun$lazySparkPlan",
                  "QueryExecution.$anonfun$lazyExecutedPlan",
                  "org.apache.spark.sql.catalyst.planning.QueryPlanner")),
    ("AQE", ("org.apache.spark.sql.execution.adaptive.",)),
]
DRIVER_THREAD = "main"
# native methods that block the calling thread in the filesystem
FS_CALLS = ("open0", "delete0", "unlink0", "rename0")
SAMPLE_LINES = [p for p, _ in PHASES] + ["other", "filesystem"]
MIN_CLAIM_PAIRS = 10


def method_name(frame):
    """`open0` of a frame printed as `java.io.FileOutputStream.open0(String, boolean)`."""
    return frame.split("(", 1)[0].rsplit(".", 1)[-1]


def phase_of(frames):
    if frames and method_name(frames[0]) in FS_CALLS:
        return "filesystem"
    for frame in frames:
        for phase, markers in PHASES:
            if any(m in frame for m in markers):
                return phase
    return "other"


def jfr_profile(recording):
    """(driver samples per phase, forked processes) of a recording."""
    counts = {phase: 0 for phase in SAMPLE_LINES}
    p = subprocess.Popen(["jfr", "print", "--events",
                          "jdk.ExecutionSample,jdk.NativeMethodSample",
                          "--stack-depth", "1024", recording],
                         stdout=subprocess.PIPE, text=True)
    thread, frames, in_stack = None, [], False
    for line in p.stdout:
        t = line.strip()
        if t.startswith("sampledThread = "):
            thread = t.split('"')[1]
        elif t == "stackTrace = [":
            in_stack, frames = True, []
        elif in_stack and t == "]":
            in_stack = False
            if thread == DRIVER_THREAD:
                counts[phase_of(frames)] += 1
        elif in_stack:
            frames.append(t)
    p.wait()
    forks = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", recording],
                           capture_output=True, text=True).stdout.count("jdk.ProcessStart {")
    return counts, forks


def profiled_comparison(sides, workload, seed, seconds):
    tmp = tempfile.mkdtemp(prefix="ab-jfr-")
    try:
        out = {}
        for side in ("parent", "change"):
            rec = os.path.join(tmp, f"{side}.jfr")
            env = dict(os.environ)
            env["JAVA_TOOL_OPTIONS"] = (
                f"-XX:StartFlightRecording=settings=profile,dumponexit=true,filename={rec} "
                f"-XX:FlightRecorderOptions=stackdepth=1024,repository={tmp}")
            r = run_once(sides[side], workload, seed, seconds, env=env)
            out[side] = (r.get("correct"),) + jfr_profile(rec)
        print(f"\nprofiled run, seed {seed}: correct parent={out['parent'][0]} "
              f"change={out['change'][0]}")
        print(f"  {'driver samples':28s} {'parent':>16s} {'change':>16s}")
        totals = {side: max(sum(out[side][1].values()), 1) for side in out}
        for phase in SAMPLE_LINES:
            print(f"  {phase:28s} " + " ".join(
                f"{out[s][1][phase]:7d} ({100 * out[s][1][phase] / totals[s]:4.1f}%)"
                for s in ("parent", "change")))
        print(f"  {'forked processes':28s} " + " ".join(
            f"{out[s][2]:16d}" for s in ("parent", "change")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    p = argparse.ArgumentParser()
    p.add_argument("parent_rev")
    p.add_argument("workload")
    p.add_argument("pairs", type=int)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--trace", action="store_true",
                   help="after the pairs, one traced run per side, per-layer metrics side by side")
    p.add_argument("--jfr", action="store_true",
                   help="after the pairs, one profiled run per side, driver samples "
                        "per query phase and in the filesystem")
    a = p.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    change_rev = subprocess.run(["git", "stash", "create"], cwd=root, capture_output=True,
                                text=True, check=True).stdout.strip() or "HEAD"
    sides = {}
    try:
        sides["parent"] = export(root, a.parent_rev, "ab-parent-")
        sides["change"] = export(root, change_rev, "ab-change-")
        print(f"parent {a.parent_rev} in {sides['parent']}; "
              f"change {change_rev} in {sides['change']}", flush=True)
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = a.seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                out = run_once(sides[side], a.workload, seed, seconds)
                runs[side].append(out)
                vals = {k: round(v["value"], 4) for k, v in out["metrics"].items()
                        if k in better}
                print(f"pair {i} seed {seed} {side:6s} correct={out.get('correct')} "
                      f"{json.dumps(vals)}{why_not_correct(out)}", flush=True)

        bad = [(s, i) for s in runs for i, o in enumerate(runs[s])
               if not o.get("correct")]
        print(f"\n{a.workload}: {a.pairs} pairs, seeds {a.seed}..{a.seed + a.pairs - 1}, "
              f"{seconds:g} s runs; runs not correct: {bad or 'none'}")
        for name, direction in better.items():
            pairs = [(po["metrics"][name]["value"], co["metrics"][name]["value"],
                      po.get("correct") and co.get("correct"))
                     for po, co in zip(runs["parent"], runs["change"])
                     if name in po["metrics"] and name in co["metrics"]]
            if not pairs:
                continue
            sign = 1 if direction == "lower" else -1
            wins = sum(1 for x, y, ok in pairs if ok and (x - y) * sign > 0)
            pq = quartiles([x for x, _, _ in pairs])
            cq = quartiles([y for _, y, _ in pairs])
            if a.pairs < MIN_CLAIM_PAIRS:
                verdict = f"too few pairs for a claim ({a.pairs} < {MIN_CLAIM_PAIRS})"
            elif wins >= 0.9 * a.pairs and (pq[1] - cq[1]) * sign > pq[2] - pq[0]:
                verdict = "gain holds"
            else:
                verdict = "gain not shown"
            print(f"  {name:13s} parent median {pq[1]:.4g} (q1 {pq[0]:.4g}, q3 {pq[2]:.4g})"
                  f" | change median {cq[1]:.4g} (q1 {cq[0]:.4g}, q3 {cq[2]:.4g})"
                  f" | change wins {wins}/{a.pairs}"
                  f" | median change {100 * (cq[1] - pq[1]) / pq[1] if pq[1] else 0:+.1f}%"
                  f" | {verdict}")
        if a.trace:
            traced_comparison(sides, a.workload, a.seed, seconds,
                              [m["name"] for m in bench["per_layer"]])
        if a.jfr:
            profiled_comparison(sides, a.workload, a.seed, seconds)
        return 0
    finally:
        for d in sides.values():
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
