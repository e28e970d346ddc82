#!/usr/bin/env python3
"""Round-over-round bench comparison.

Usage: python3 tools/bench_diff.py <old_bench.json> <new_bench.json> [threshold]

Both files are BENCH_DETAIL.json / BENCH_r{N}.json shaped (the full Bench
summary line: "queries" medians, "min" mins, "failed", "errors", and
"layers" records). Prints the common-subset totals, every query whose
median regressed by more than <threshold>x (default 1.5), and the biggest
improvements. When both files carry "layers", each query whose median
moved by more than 10% also gets a line naming the layer field with the
largest relative change (construct_s, exec_s, jobs, shuffle_* ...). A regression
whose MIN also regressed is flagged REAL (plan growth); a high median over
a stable min is bench noise (GC / suite contention) — the min rule from
the Bench scaladoc, applied mechanically.

Exit code 1 if either file has failed queries or any REAL regression
exceeds the threshold, so round-end hygiene can gate on it.
"""
import json
import re
import sys


def load(path):
    """Accepts (a) a full Bench JSON line / BENCH_DETAIL.json, (b) the
    driver's BENCH_r{N}.json wrapper {"rc", "tail": <truncated stdout>},
    (c) raw Bench stdout. For truncated tails, falls back to the LAST
    complete "queries":{...} object in the text (the compact summary's
    medians) — best-effort, flagged in the output."""
    with open(path) as f:
        txt = f.read().strip()
    try:
        d = json.loads(txt)
        if isinstance(d, dict) and "queries" in d:
            return d, ""
        if isinstance(d, dict) and "tail" in d:
            if d.get("rc", 0) != 0:
                raise SystemExit(f"{path}: bench rc={d['rc']} — no usable numbers")
            txt = d["tail"]
    except json.JSONDecodeError:
        pass
    for line in txt.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                d = json.loads(line)
                if "queries" in d:
                    return d, ""
            except json.JSONDecodeError:
                continue
    i = txt.rfind('"queries":{')
    if i >= 0:
        sub = txt[i + len('"queries":'):]
        depth = 0
        for j, c in enumerate(sub):
            depth += c == "{"
            depth -= c == "}"
            if depth == 0:
                break
        try:
            q = json.loads(sub[:j + 1])
            return {"queries": q}, (
                "TRUNCATED tail: last queries-object only — entries may be "
                "the partitioned section, not primary medians")
        except json.JSONDecodeError:
            pass
    # last resort for tails truncated mid-object: scrape name:number pairs,
    # last occurrence of each name wins (whichever section that was)
    pairs = dict(re.findall(r'"((?:q1?\d?\d?_|q_|wordcount)\w*)":(-?\d+(?:\.\d+)?)', txt))
    if pairs:
        return {"queries": {k: float(v) for k, v in pairs.items()}}, (
            "TRUNCATED mid-object: scraped name:number pairs — section "
            "unknown, treat ratios as indicative only")
    raise SystemExit(f"no parseable bench JSON with 'queries' in {path}")


def relative_change(old, new):
    if old:
        return abs(new - old) / abs(old)
    return float("inf") if new else 0.0


def main():
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    (old, owarn), (new, nwarn) = load(sys.argv[1]), load(sys.argv[2])
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5

    bad = False
    if owarn:
        print(f"[WARN] {sys.argv[1]}: {owarn}")
    if nwarn:
        print(f"[WARN] {sys.argv[2]}: {nwarn}")
    for name, d in (("old", old), ("new", new)):
        failed = d.get("failed", 0)
        if failed:
            print(f"[GATE] {name} file has failed={failed} "
                  f"(errors: {sorted(d.get('errors', {}))}) — totals are not comparable")
            bad = True
        stamp = d.get("load")
        if stamp:
            ratio = stamp.get("cpu_wall_ratio", -1)
            print(f"[load] {name}: loadavg {stamp.get('loadavg_start')} -> "
                  f"{stamp.get('loadavg_end')}, cpu/wall {ratio}")
            if isinstance(ratio, (int, float)) and 0 < ratio < 1.0:
                print(f"[GATE] {name} cpu/wall ratio {ratio} < 1 — the bench "
                      f"process did not own the machine; numbers are suspect")
                bad = True

    oq, nq = old["queries"], new["queries"]
    om, nm = old.get("min", {}), new.get("min", {})
    common = sorted(set(oq) & set(nq))
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    o_total = sum(oq[k] for k in common)
    n_total = sum(nq[k] for k in common)
    print(f"common subset: {len(common)} queries, "
          f"total {o_total:.2f}s -> {n_total:.2f}s "
          f"({n_total / o_total:.2f}x)" if o_total else "no common queries")
    if only_old:
        print(f"removed ({len(only_old)}): {', '.join(only_old)}")
    if only_new:
        print(f"added ({len(only_new)}): {', '.join(only_new)}")

    # a query that errored ONLY in the new file must not silently vanish
    # from the comparison — for inputs without a "failed" key (truncated
    # tails / scraped fallbacks) this is the only place it can surface
    flipped = sorted(k for k in common if oq[k] > 0 and nq[k] <= 0)
    if flipped:
        print(f"[GATE] newly-erroring queries (median flipped to -1): "
              f"{', '.join(flipped)}")
        bad = True
    recovered = sorted(k for k in common if oq[k] <= 0 and nq[k] > 0)
    if recovered:
        print(f"recovered (errored in old, ok in new): {', '.join(recovered)}")

    rows = []
    for k in common:
        if oq[k] <= 0 or nq[k] <= 0:   # -1 medians = errored query
            continue
        rows.append((nq[k] / oq[k], k))
    rows.sort(reverse=True)

    regressions = [(r, k) for r, k in rows if r > threshold]
    if regressions:
        print(f"\nregressions > {threshold}x (median):")
        print(f"{'query':28s} {'old':>7s} {'new':>7s} {'ratio':>6s} "
              f"{'old_min':>8s} {'new_min':>8s}  verdict")
        for r, k in regressions:
            omin, nmin = om.get(k, -1), nm.get(k, -1)
            # stable min + high median = noise; regressed min = real
            real = omin > 0 and nmin > omin * threshold
            verdict = ("REAL (min regressed too)" if real
                       else "noise? (min stable)" if omin > 0 and nmin > 0
                       else "unconfirmed (no min data)")
            if real:
                bad = True
            print(f"{k:28s} {oq[k]:7.2f} {nq[k]:7.2f} {r:5.2f}x "
                  f"{omin:8.2f} {nmin:8.2f}  {verdict}")
    else:
        print(f"\nno regressions > {threshold}x")

    improved = [(r, k) for r, k in reversed(rows) if r < 1 / threshold][:10]
    if improved:
        print("\nbiggest improvements:")
        for r, k in improved:
            print(f"{k:28s} {oq[k]:7.2f} -> {nq[k]:7.2f} ({r:.2f}x)")

    # which layer moved: for every median that moved by more than 10%,
    # the layer field with the largest relative change
    ol, nl = old.get("layers", {}), new.get("layers", {})
    movers = sorted(((max(r, 1 / r), r, k) for r, k in rows
                     if abs(r - 1) > 0.10 and k in ol and k in nl), reverse=True)
    if movers:
        print("\nlayer behind each median that moved > 10%:")
        for _, r, k in movers:
            field = max((f for f in ol[k] if f in nl[k]),
                        key=lambda f: relative_change(ol[k][f], nl[k][f]))
            print(f"{k:28s} {oq[k]:7.2f} -> {nq[k]:7.2f} ({r:.2f}x)  "
                  f"{field} {ol[k][field]:g} -> {nl[k][field]:g}")

    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
