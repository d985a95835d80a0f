#!/usr/bin/env python3
"""Bench-stability guard (driver-side tooling, stdlib only).

Round 3 shipped on two lucky bench runs while the same build swung 47x
under the driver's harness. This guard makes that impossible to miss:
it compares per-query timings across the most recent bench runs in
docs/bench_history.jsonl and FAILS (exit 1) if any query moved more
than --max-ratio between runs. Run it after `sbt "runMain graft.Bench"`
on unchanged code; a failure means a plan is load/cache-state-sensitive
and must be pinned structurally before the round ships.

It also adjudicates the DRIVER TOTAL against the history of the same
corpus and host shape (round-7 verdict #5): five same-build runs spanned
140-185 s in one evening from host-load bands alone, so a single driver
run is not a shippable figure. Only rows that record the corpus tag,
the session core count (`cpus`) and the JVM heap (`heap_bytes`) of the
latest such row are read. The guard prints the median of the last 3
full matching totals as the SHIPPED figure and fails when the latest
full run's total exceeds --total-ratio x that median — the signal to
re-run rather than ship a load-band outlier. Runs marked
"partial":true (Bench --only=...) never enter total medians.

Usage:
  python3 tools/bench_guard.py              # compare last 2 runs
  python3 tools/bench_guard.py --last 5     # pairwise across last 5
  python3 tools/bench_guard.py --max-ratio 2.5 --min-sec 1.0
"""
import argparse
import json
import statistics
import sys


HOST_KEY = ("corpus", "cpus", "heap_bytes")


def load_runs(path):
    """(at, bench) rows of the history measured on the same corpus tag,
    session core count and JVM heap as its latest row that records all
    three — the same keying as Bench's in-run reader. Rows lacking any
    of the three keys, and corrupt lines, are dropped."""
    runs = []
    try:
        with open(path) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                bench = rec.get("bench", rec) if isinstance(rec, dict) else {}
                if "queries" in bench and all(k in bench for k in HOST_KEY):
                    runs.append((rec.get("at", 0), bench))
    except FileNotFoundError:
        sys.exit(f"bench_guard: no history at {path}; run graft.Bench first")
    if not runs:
        return runs
    key = [runs[-1][1][k] for k in HOST_KEY]
    return [r for r in runs if [r[1][k] for k in HOST_KEY] == key]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--history", default="docs/bench_history.jsonl")
    p.add_argument("--last", type=int, default=2,
                   help="number of most-recent runs to compare")
    p.add_argument("--max-ratio", type=float, default=2.5,
                   help="fail if any query's max/min across runs exceeds this")
    p.add_argument("--expensive-ratio", type=float, default=1.75,
                   help="tighter ratio for queries whose MIN timing is >= "
                        "--expensive-sec (mirrors Bench's tiered in-run "
                        "tripwire: multi-second queries drift loudly)")
    p.add_argument("--expensive-sec", type=float, default=3.0,
                   help="min timing above which --expensive-ratio applies")
    p.add_argument("--min-sec", type=float, default=1.0,
                   help="ignore queries whose max timing is below this "
                        "(sub-second timings are scheduler noise)")
    p.add_argument("--total-ratio", type=float, default=1.25,
                   help="fail if the latest FULL run's total exceeds this "
                        "x the median of the last 3 full same-corpus "
                        "totals (ship the median, not the outlier)")
    p.add_argument("--step-window", type=int, default=5,
                   help="band-step detector window: median of the last N "
                        "full same-corpus runs vs the median of the N "
                        "before them")
    p.add_argument("--step-ratio", type=float, default=1.5,
                   help="flag a query whose window-median ratio exceeds "
                        "max(this, this x basket-median ratio) — the "
                        "basket normalization keeps a uniform host step "
                        "from flagging every query")
    p.add_argument("--step-persist", type=int, default=3,
                   help="a step must hold on each of the last N runs "
                        "(not a one-run spike) to flag")
    p.add_argument("--step-min-sec", type=float, default=0.5,
                   help="ignore queries whose prior-window median is "
                        "below this")
    p.add_argument("--fail-on-step", action="store_true",
                   help="exit 1 when the band-step detector flags a "
                        "query (default: informational)")
    args = p.parse_args()

    # Load the FULL history, THEN filter to the latest run's corpus and
    # host shape, THEN take the last N (ADVICE round 7: a lookback cap
    # applied before the filter silently dropped older matching runs
    # under interleaved corpora — the file is small JSONL, reading all
    # of it costs nothing). Cross-corpus ratios measure the data
    # change, and cross-host ratios the machine, not plan stability.
    same_host = load_runs(args.history)
    if not same_host:
        sys.exit("bench_guard: no history row records corpus, cpus and "
                 "heap_bytes; run graft.Bench first")
    runs = same_host[-args.last:]
    if len(runs) < 2:
        sys.exit("bench_guard: need at least 2 same-corpus, same-host "
                 "bench runs in history")

    names = set()
    for _, b in runs:
        names.update(b["queries"])
    bad = []
    for name in sorted(names):
        ts = [b["queries"][name] for _, b in runs
              if name in b["queries"] and b["queries"][name] > 0]
        if len(ts) < 2 or max(ts) < args.min_sec:
            continue
        ratio = max(ts) / max(min(ts), 1e-9)
        limit = (args.expensive_ratio if min(ts) >= args.expensive_sec
                 else args.max_ratio)
        if ratio > limit:
            bad.append((ratio, name, ts))

    totals = [b.get("value") for _, b in runs]
    print(f"bench_guard: {len(runs)} runs, totals = "
          + ", ".join(f"{t:.1f}s" for t in totals))

    # Driver-total adjudication over FULL runs only (a --only run's
    # total describes a subset). The shipped figure is the median of
    # the last 3 full same-corpus totals; a latest run far above that
    # median is a load-band outlier to re-run, not a figure to ship.
    full = [(at, b) for at, b in same_host if not b.get("partial")]
    total_fail = None
    if full:
        last3 = [b.get("value") for _, b in full[-3:]]
        med = statistics.median(last3)
        latest = full[-1][1].get("value")
        print(f"bench_guard: shipped figure = median of last "
              f"{len(last3)} full totals = {med:.1f}s "
              f"(latest {latest:.1f}s)")
        if len(last3) >= 2 and latest > args.total_ratio * med:
            total_fail = (latest, med)

    # Attribution verdict for the LATEST run (replayable twin of
    # Bench's in-run guard line — round-13 verdict #5): per-query
    # ratios vs the medians of the PRECEDING 7 same-corpus runs, a
    # band estimate, and a tiered outlier rule — sub-3 s-median
    # queries must clear max(2.2, 1.8x band) before they can name the
    # run drifted (the r13 driver artifact named four sub-2 s spikes
    # in a +27% band "query_drift"; at that size a 2x excursion under
    # load is scheduler/JIT noise, not a plan regression). Informational
    # only — never fails the guard.
    latest_b = same_host[-1][1]
    prior = [b for _, b in same_host[:-1]][-7:]
    med_q = {}
    for name in {n for b in prior for n in b.get("queries", {})}:
        ts = [b["queries"][name] for b in prior
              if b.get("queries", {}).get(name, -1) > 0]
        if ts:
            med_q[name] = statistics.median(ts)
    qr = [(n, v / med_q[n]) for n, v in latest_b.get("queries", {}).items()
          if v > 0 and med_q.get(n, 0) >= 1.0]
    band = statistics.median([r for _, r in qr]) if qr else -1.0
    outs = sorted(
        [(n, r) for n, r in qr
         if (r > max(2.2, 1.8 * max(band, 1.0)) if med_q[n] < 3.0
             else r > max(1.75, 1.4 * max(band, 1.0)))],
        key=lambda x: -x[1])[:5]
    prior_full = [b for _, b in same_host[:-1] if not b.get("partial")]
    hist3 = [b.get("value") for b in prior_full[-3:]]
    hmed = statistics.median(hist3) if hist3 else -1.0
    tratio = latest_b.get("value", -1.0) / hmed if hmed > 0 else -1.0
    if latest_b.get("partial"):
        v = "partial"
    elif hmed < 0:
        v = "no_history"
    elif tratio <= 1.08:
        v = "quiet"
    elif not outs:
        v = "uniform_load"
    elif band >= 1.15:
        v = "uniform_load_with_spikes"
    else:
        v = "query_drift"
    print(f"bench_guard: latest-run verdict = {v} "
          f"(ratio_to_hist {tratio:.3f}, band {band:.3f}"
          + (", outliers " + ", ".join(f"{n}:{r:.2f}" for n, r in outs)
             if outs else "") + ")")

    # BAND-STEP DETECTOR (round-16 verdict #4): the within-window tiered
    # rule above compares runs of ONE window against each other, so a
    # query that steps to a new band and STAYS there (the r15
    # multimodal_align_filter: 0.9-1.1 s for five runs, then 1.4-2.2 s
    # for five runs — ~1.8x, never >2.5x within either window) ships
    # silently. Compare each query's median over the last --step-window
    # full same-corpus runs against the median of the window BEFORE it,
    # normalized by the basket's own window ratio (a uniform host step
    # moves every query together and is the guard-verdict's job, not a
    # per-query step), and flag ratios past the bar that persist on each
    # of the last --step-persist runs. Replayed on history this flags
    # align_filter's r15 step (1.76x, basket 1.12) and the documented
    # round-12 CC re-pricings, and stays quiet on the r12-r14 quiet
    # stretch. Informational unless --fail-on-step.
    step_flags = []
    step_watch = []
    W = args.step_window
    if len(full) >= 2 * W:
        recent, prior_w = full[-W:], full[-2 * W:-W]

        def wmed(win, name):
            ts = [b["queries"][name] for _, b in win
                  if b.get("queries", {}).get(name, -1) > 0]
            return statistics.median(ts) if ts else None

        snames = set()
        for _, b in recent:
            snames.update(b["queries"])
        sratios = {}
        for name in sorted(snames):
            pm, rm = wmed(prior_w, name), wmed(recent, name)
            if pm and rm and pm >= args.step_min_sec:
                sratios[name] = (rm / pm, pm)
        basket = (statistics.median([r for r, _ in sratios.values()])
                  if sratios else 1.0)
        bar = max(args.step_ratio, args.step_ratio * basket)
        for name, (ratio, pm) in sorted(sratios.items()):
            last_n = [b["queries"][name] for _, b in full[-args.step_persist:]
                      if b.get("queries", {}).get(name, -1) > 0]
            persists = (len(last_n) == args.step_persist
                        and all(t > bar * pm for t in last_n))
            if ratio > bar and persists:
                step_flags.append((name, ratio, pm))
            elif ratio > 1.25:
                step_watch.append((name, ratio, pm))
        print(f"bench_guard: band-step [{W}v{W} windows, basket "
              f"{basket:.3f}, bar {bar:.2f}x] "
              + (("FLAGS: " + ", ".join(
                  f"{n}:{r:.2f}x (prior med {pm:.2f}s)"
                  for n, r, pm in step_flags)) if step_flags else "clean")
              + ((" | watch: " + ", ".join(
                  f"{n}:{r:.2f}x" for n, r, _ in step_watch[:8]))
                 if step_watch else ""))
    else:
        print(f"bench_guard: band-step needs {2 * W} full same-corpus "
              f"runs, have {len(full)} — skipped")

    if total_fail:
        latest, med = total_fail
        print(f"bench_guard: FAIL — latest full total {latest:.1f}s is "
              f"{latest / med:.2f}x the median-of-3 {med:.1f}s "
              f"(> --total-ratio {args.total_ratio}); re-run before "
              f"shipping — the median is the figure")
        sys.exit(1)
    if bad:
        print(f"bench_guard: FAIL — {len(bad)} quer"
              f"{'y' if len(bad) == 1 else 'ies'} moved past the tiered "
              f"limit ({args.expensive_ratio}x at >= {args.expensive_sec}s, "
              f"else {args.max_ratio}x) across runs of the same build:")
        for ratio, name, ts in sorted(bad, reverse=True):
            print(f"  {name}: {ratio:.1f}x  "
                  + " / ".join(f"{t:.1f}s" for t in ts))
        sys.exit(1)
    if step_flags and args.fail_on_step:
        print(f"bench_guard: FAIL — band-step detector flagged "
              + ", ".join(n for n, _, _ in step_flags)
              + " (--fail-on-step)")
        sys.exit(1)
    print(f"bench_guard: OK — no query moved past the tiered limit "
          f"({args.expensive_ratio}x at >= {args.expensive_sec}s, else "
          f"{args.max_ratio}x; min considered {args.min_sec}s)")


if __name__ == "__main__":
    main()
