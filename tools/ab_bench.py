#!/usr/bin/env python3
"""Controlled A/B bench between the current tree and a clean baseline ref.

This scripts the protocol that exonerated the r10 `h_th_grid` flag (see
DESIGN.md "Round-11 h_th_grid A/B"): ambient load on this host varies 2-4x
within a day, so comparing a bench artifact against last round's number
conflates code changes with storms. The only trustworthy comparison is two
trees measured INTERLEAVED in the same ambient window, each pass annotated
with the fixed-work calibration gauge.

Usage:
  python3 tools/ab_bench.py --baseline <git-ref> --queries q1,q2 \
      [--passes 5] [--sf /root/testdata/sf0.1] [--calib-gate 0.2] [--cpus 32]

Protocol:
  1. Extract a clean `git archive` of <git-ref> under $TMPDIR (default /tmp;
     reused if it already exists), `sbt compile` both trees up front.
  2. passes x (current, baseline) interleaved single-measured-pass Bench
     invocations (fresh JVM each, internal warmup pass kept, auto-extend
     disabled) restricted to the named queries.
  3. Report per-query medians AND minima per tree, the baseline/current
     ratios, each tree's summed per-query medians and minima, and each
     pass's calib reading; passes whose calib exceeds the gate are flagged
     as storm-contaminated (prefer the minima, as Bench itself documents).

A ratio within ~5-10% on minima under a quiet calib means "no regression";
a stable ratio >1.2x across quiet interleaved passes is a real one.

NOTE: the calibration gauge runs inside Bench's local[cpus] session, so its
absolute reading scales with --cpus; the default 0.2 s gate assumes the
driver's 32 cores (quiet ~0.13 s). At lower --cpus raise the gate
proportionally or read the flags as relative only.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd, cwd, env=None, capture=False):
    print(f"  $ {' '.join(cmd)}  (cwd={cwd})", flush=True)
    return subprocess.run(cmd, cwd=cwd, env=env, check=True,
                          capture_output=capture, text=True)


def bench_once(tree, queries, sf, cpus):
    env = dict(os.environ,
               SPARK_GRAFT_BENCH_ONLY=",".join(queries),
               SPARK_GRAFT_BENCH_PASSES="1",
               SPARK_GRAFT_BENCH_MAX_EXTRA="0",
               SPARK_GRAFT_SF_DIR=sf,
               SPARK_GRAFT_CPUS=str(cpus))
    # no check: a tree whose queries fail still prints its JSON line (the
    # failed queries are absent from its maps) before exiting non-zero
    print(f"  $ sbt -batch 'runMain graft.Bench'  (cwd={tree})", flush=True)
    out = subprocess.run(["sbt", "-batch", "runMain graft.Bench"], cwd=tree,
                         env=env, capture_output=True, text=True)
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith('{"queries"'):
            d = json.loads(line)
            calibs = d.get("calib_secs") or []
            if not calibs:
                # pre-r10 baselines predate the calibration gauge; keep the
                # pass usable rather than crash after both builds + a
                # measured pass (flagged as nan in the summary)
                print(f"  !! {tree}: bench JSON has no calib_secs "
                      f"(baseline older than r10?) — calib recorded as nan",
                      flush=True)
                return d["queries"], float("nan")
            if d.get("n_failed"):
                print(f"  !! {tree}: failed queries: {sorted(d['failed'])}",
                      flush=True)
            return d["queries"], calibs[0]
    sys.exit(f"no bench JSON line from {tree}:\n{out.stdout[-2000:]}")


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--baseline", required=True, help="git ref of the clean tree")
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--calib-gate", type=float, default=0.2)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()
    queries = [q.strip() for q in args.queries.split(",") if q.strip()]

    sha = run(["git", "rev-parse", "--short", args.baseline], REPO,
              capture=True).stdout.strip()
    wt = os.path.join(tempfile.gettempdir(), f"graft_ab_{sha}")
    if not os.path.isdir(wt):
        os.makedirs(wt)
        print(f"  $ git archive {sha} | tar -x -C {wt}", flush=True)
        archive = subprocess.run(["git", "archive", sha], cwd=REPO, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", wt], input=archive, check=True)
    print(f"== baseline {sha} at {wt}; building both trees", flush=True)
    for tree in (REPO, wt):
        run(["sbt", "-batch", "compile"], tree, capture=True)

    results = {"current": [], "baseline": []}   # list of (queries-map, calib)
    for p in range(1, args.passes + 1):
        for tag, tree in (("current", REPO), ("baseline", wt)):
            qmap, calib = bench_once(tree, queries, args.sf, args.cpus)
            results[tag].append((qmap, calib))
            storm = "  << STORM" if calib > args.calib_gate else ""
            tot = sum(qmap.values())
            print(f"pass {p} {tag:8s} calib {calib:5.2f}s total {tot:6.2f}s{storm}",
                  flush=True)

    print(f"\n== per-query summary over {args.passes} interleaved passes "
          f"(sf {args.sf}, calib gate {args.calib_gate}s)")
    print(f"{'query':32s} {'cur med':>8s} {'base med':>9s} {'med rat':>8s} "
          f"{'cur min':>8s} {'base min':>9s} {'min rat':>8s}")
    for q in queries:
        cm = [m[q] for m, _ in results["current"] if q in m]
        bm = [m[q] for m, _ in results["baseline"] if q in m]
        if not cm:
            print(f"{q:32s} {'absent in current tree':>26s}")
            continue
        if not bm:
            # a query added since the baseline ref: no ratio exists, but the
            # clean-window absolute cost is still the point of the run
            print(f"{q:32s} {median(cm):8.2f} {'n/a':>9s} {'n/a':>8s} "
                  f"{min(cm):8.2f} {'n/a':>9s} {'n/a':>8s}  (new since baseline)")
            continue
        mr = median(cm) / median(bm) if median(bm) else float("nan")
        nr = min(cm) / min(bm) if min(bm) else float("nan")
        print(f"{q:32s} {median(cm):8.2f} {median(bm):9.2f} {mr:8.2f} "
              f"{min(cm):8.2f} {min(bm):9.2f} {nr:8.2f}")
    for tag, res in results.items():
        common = [q for q in queries if all(q in m for m, _ in res)]
        print(f"{tag:8s} summed medians {sum(median([m[q] for m, _ in res]) for q in common):8.2f}s"
              f"  summed minima {sum(min(m[q] for m, _ in res) for q in common):8.2f}s"
              f"  ({len(common)} queries)")
    calibs = [c for t in results.values() for _, c in t]
    print(f"calib range {min(calibs):.2f}-{max(calibs):.2f}s "
          f"({sum(1 for c in calibs if c > args.calib_gate)}/{len(calibs)} stormy)")
    print(f"baseline tree kept at {wt} (remove: rm -r {wt})")


if __name__ == "__main__":
    main()
