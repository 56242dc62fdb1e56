#!/usr/bin/env python3
"""Cross-run bench classifier (VERDICT r11 Missing #3).

Compares a driver bench artifact (BENCH_r*.json — the harness wrapper
whose `tail` holds graft.Bench's stdout, including the per-query
"spread" map) against the builder's committed bench_sf0.1.json, and
labels every per-query delta in-band / out-of-band against the
committed [min, median, max] spread widened by the measured per-bucket
noise floor (BASELINE.md round-11 section). The q56-style analysis the
round-11 verdict did by hand — "driver says 3.9 s, the same-commit
committed artifact says 0.92 s, every sibling is flat, so it is
run-local weather, not a regression" — becomes one command:

    python3 tools/bench_diff.py BENCH_r11.json bench_sf0.1.json \
        -o BENCHDIFF_r11.md

Out-of-band queries are the ONLY ones worth a human look; for each the
report also shows the global-weather-normalized factor (driver runs
are whole-JVM faster/slower runs — a uniform shift is weather by
definition) so a query that is out-of-band purely because the whole
run was slow is labeled `weather?` rather than `regression?`.
"""
import argparse
import json
import re
import sys

# measured per-bucket within-run noise floor (max/min across repeats),
# BASELINE.md round-11 table, p90 column padded ~20% — a cross-RUN
# comparison stacks two runs' jitter, so the band is wider than the
# within-run one
def slack(median_sec: float) -> float:
    if median_sec >= 5.0:
        return 1.30
    if median_sec >= 1.0:
        return 1.75
    if median_sec >= 0.5:
        return 2.3
    return 2.6


def _triple(v):
    """Normalize a spread list to (min, med, max) — a budget-cut repeat
    loop can leave a single-element spread (seen: the driver's diverted
    r15 hot run, q207 at one 32 s repeat)."""
    v = list(v)
    return (v[0], v[len(v) // 2], v[-1])


SPREAD_RE = re.compile(r'"(q\d+[a-zA-Z0-9_]*)":\[([0-9.]+),([0-9.]+),([0-9.]+)\]')
TOTAL_RE = re.compile(r'\{"metric":"total","value":([0-9.]+)')
OOB_RE = re.compile(r'\{"metric":"oob_vs_committed".*?"rows":(\{[^}]*\})')


def load_driver(path: str):
    """Per-query [min, med, max] triples + total + streamed work map from
    a driver BENCH artifact (parsed from the stdout tail) or a plain
    graft.Bench bench_sf0.1.json (then nothing is truncated). Since
    round 14 the stdout tail carries only the compact total and the
    oob-vs-committed pre-screen (the full spread map front-truncated the
    2,000-char tail — only 47/221 spreads survived in round 13); the
    oob rows are returned separately and the full per-query comparison
    should diff two graft.Bench artifacts (the driver's run overwrites
    bench_sf0.1.json in place; git holds the committed one)."""
    with open(path) as f:
        data = json.load(f)
    if "spread" in data:  # a graft.Bench artifact directly
        return ({q: _triple(v) for q, v in data["spread"].items()},
                data["value"], False, None, data.get("stream") or {},
                data.get("caches") or {})
    tail = data.get("tail", "")
    spreads = {q: (float(a), float(b), float(c))
               for q, a, b, c in SPREAD_RE.findall(tail)}
    totals = TOTAL_RE.findall(tail)
    total = float(totals[-1]) if totals else (data.get("parsed") or {}).get("value")
    oob = None
    m = OOB_RE.search(tail)
    if m:
        oob = {q: (float(c), float(v)) for q, c, v in re.findall(
            r'"(q\d+[a-zA-Z0-9_]*)":\[([0-9.]+),([0-9.]+)\]', m.group(1))}
    return spreads, total, True, oob, {}, {}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("driver", help="driver BENCH_r*.json (or a bench_sf0.1.json)")
    ap.add_argument("committed", help="the builder's committed bench_sf0.1.json "
                    "(use `git show <commit>:bench_sf0.1.json > /tmp/b.json` for a past round)")
    ap.add_argument("-o", "--out", help="write the markdown report here (default stdout)")
    args = ap.parse_args()

    drv, drv_total, truncated, drv_oob, drv_stream, drv_cache = load_driver(args.driver)
    with open(args.committed) as f:
        com = json.load(f)
    com_spread = {q: _triple(v) for q, v in com["spread"].items()}
    com_total = com["value"]
    com_stream = com.get("stream") or {}
    com_cache = com.get("caches") or {}

    weather = drv_total / com_total if drv_total and com_total else 1.0
    lines = []
    lines.append(f"# bench_diff: {args.driver} vs {args.committed}")
    lines.append("")
    lines.append(f"- driver total: {drv_total:.1f} s over {len(drv)} parsed queries"
                 + (" (driver tail is front-truncated; absent queries listed below)"
                    if truncated else ""))
    lines.append(f"- committed total: {com_total:.1f} s over {len(com_spread)} queries")
    lines.append(f"- global weather factor (driver/committed): **{weather:.2f}×** — "
                 "a uniform shift of this size is run environment, not plans")
    lines.append("")
    if drv_oob is not None:
        # round-14 tail format: the bench run pre-screened itself against
        # the committed artifact it found on disk (median > 2x and
        # +0.75s) and printed only those rows — nothing is truncated
        lines.append(f"## Driver-side oob pre-screen ({len(drv_oob)} rows, "
                     "from the bench run's own compare against the on-disk artifact)")
        lines.append("")
        if drv_oob:
            lines.append("| query | committed med | driver med | factor |")
            lines.append("|---|---|---|---|")
            for q, (c, v) in sorted(drv_oob.items(), key=lambda kv: -(kv[1][1] - kv[1][0])):
                lines.append(f"| {q} | {c:.2f} | {v:.2f} | {v / c if c else float('inf'):.2f}× |")
        else:
            lines.append("No query exceeded 2× committed + 0.75 s in the driver's run.")
        lines.append("")

    rows = []
    n_in = 0
    for q in sorted(com_spread):
        if q not in drv:
            continue
        cmin, cmed, cmax = com_spread[q]
        dmin, dmed, dmax = drv[q]
        s = slack(cmed)
        lo, hi = cmin / s, cmax * s
        if lo <= dmed <= hi:
            n_in += 1
            continue
        factor = dmed / cmed if cmed else float("inf")
        norm = factor / weather
        # if the weather-normalized factor falls back inside the slack
        # band, the whole-run shift explains it
        verdict = "weather?" if (1 / s) <= norm <= s else "REGRESSION?" if factor > 1 else "improvement"
        # streamed work-vs-wait rule (round 14): when both artifacts
        # carry per-trigger foreachBatch work for q and the WORK moved
        # in-band while the wall blew out, the swing sits in trigger
        # wait (file discovery, stream bookkeeping, host scheduling) —
        # load sensitivity, not a plan change; no re-run needed
        if verdict == "REGRESSION?" and q in drv_stream and q in com_stream:
            wc, wd = com_stream[q].get("work"), drv_stream[q].get("work")
            if wc and wd and (1 / s) <= (wd / wc) <= s:
                verdict = "stream-wait?"
        # batch cold-fit rule (round 15): when both artifacts carry cache
        # attribution for q and the driver's summed fit wall exceeds the
        # committed one by at least half the median delta, the swing is a
        # cold model-fit / relation-materialization (fresh store, first
        # touch), not a plan change
        if verdict == "REGRESSION?" and q in drv_cache and q in com_cache:
            fc = com_cache[q].get("fit_sec", 0.0)
            fd = drv_cache[q].get("fit_sec", 0.0)
            if fd - fc >= 0.5 * (dmed - cmed) > 0:
                verdict = "cold-fit?"
        rows.append((q, cmed, (cmin, cmax), dmed, factor, norm, verdict))

    lines.append(f"## Out-of-band queries ({len(rows)} of {n_in + len(rows)} compared)")
    lines.append("")
    if rows:
        lines.append("| query | committed med [min,max] | driver med | factor | weather-normalized | label |")
        lines.append("|---|---|---|---|---|---|")
        for q, cmed, (cmin, cmax), dmed, f_, norm, verdict in sorted(
                rows, key=lambda r: -abs(r[4] if r[4] >= 1 else 1 / r[4])):
            lines.append(f"| {q} | {cmed:.2f} [{cmin:.2f},{cmax:.2f}] | {dmed:.2f} "
                         f"| {f_:.2f}× | {norm:.2f}× | {verdict} |")
        lines.append("")
        lines.append("`REGRESSION?` rows deserve the committed-artifact cross-check: "
                     "`git log --oneline -- <query's source>` and re-run the query "
                     "via `graft.tools.Probe` on the same data before believing it.")
    else:
        lines.append("All compared queries are inside the committed spread band "
                     "(widened by the measured per-bucket noise floor).")
    missing = sorted(set(com_spread) - set(drv))
    if missing:
        lines.append("")
        lines.append(f"## Not comparable: {len(missing)} queries absent from the "
                     "driver tail (front-truncated stdout)")
        lines.append("")
        shown = ", ".join(missing[:12])
        lines.append(shown + (f", … ({len(missing) - 12} more)" if len(missing) > 12 else ""))
        lines.append("")
        lines.append("For full coverage diff two graft.Bench artifacts directly: "
                     "the driver's run overwrites bench_sf0.1.json in place, so "
                     "`git show <prev>:bench_sf0.1.json > /tmp/prev.json && "
                     "python3 tools/bench_diff.py bench_sf0.1.json /tmp/prev.json`.")
    report = "\n".join(lines) + "\n"
    if args.out:
        with open(args.out, "w") as f:
            f.write(report)
        print(f"[bench_diff] wrote {args.out}: {len(rows)} out-of-band, {n_in} in-band"
              + (f", {len(missing)} not in tail" if missing else ""))
    else:
        print(report)


if __name__ == "__main__":
    main()
