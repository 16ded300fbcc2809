#!/usr/bin/env python3
"""Mechanical cross-capture regression read over two BENCH_PERF.jsonl
files (r12 verdict #4): every perf line since r12 carries a 12-hex
fingerprint of the post-AQE executed plan, so "did this query actually
change" is a field compare, not a plan-text read. This tool joins two
captures on query name and prints one row per query sorted by seconds
delta (worst first):

    name  sec_a  sec_b  ratio  plan   flag

`plan` compares the structural `plan2` fingerprint (canonical under
union sibling order — the q334 multistability fix): `same` /
`CHANGED` / `?` (plan2 missing on either side — a pre-r14 capture or a
failed query).

`flag` marks REGRESSED rows by the house convention (>1.5x with
>0.5 s excess, b vs a). Since r14 a regressed SAME-plan row is
auto-adjudicated `REGRESSED-ambient` when the b side was measurably
busier: its rep's load_avg stamp exceeds the a twin's by >2 (a
within-capture transient), OR the b capture's LAUNCH load (ctx line)
exceeds a's by >2 (a degraded capture — per-rep stamps mostly carry
the suite's own ~3-4 load on BOTH sides, so capture-level external
load shows in the launch stamp, not the rep delta). r13 verdict #7:
the "driver number up, plans same, box was busy" analysis, now one
output column instead of a manual per-rep read. A CHANGED-plan row
never gets the ambient label — a plan change is real at any load.

Bench writes ONE line per query (the median of three reps, with
sec_min/sec_max), so each name's line is read as is. Older captures
wrote a line per rep and per retry; for those the LAST line of a name
wins and the tool prints how many names repeated.

Totals: printed over the INTERSECTION of query names (comparable even
when the query sets differ — r13 ADVICE #2) alongside the full-file
totals, labeled.

Usage:
    python3 tools/plan_diff.py <a.jsonl> <b.jsonl> [--all]
    python3 tools/plan_diff.py --selftest

    git show HEAD~1:BENCH_PERF.jsonl > /tmp/prev.jsonl
    python3 tools/plan_diff.py /tmp/prev.jsonl BENCH_PERF.jsonl

By default prints rows with >=0.2 s absolute delta or a changed plan
(--all prints everything). Exit 0 always — this is a reading aid, not
a gate (except --selftest, which exits 1 on a broken invariant).
"""
import json
import sys

# Queries whose executed plan is KNOWN-MULTISTABLE across execution
# contexts for reasons the structural fingerprint cannot canonicalize,
# each with a graft.tools.QProfile reproduction on record. A CHANGED
# verdict for these prints `multi*` instead — the known benign flip —
# and regression flags treat them as same-plan. Entries require a
# reproduction, not a hunch:
#  - q69_sketch_stats: RewriteDistinctAggregates assigns gids to the
#    two exact countDistinct groups by expression-set iteration order,
#    which depends on how many expression ids earlier queries in the
#    JVM consumed — the two plans are the same tree with gid 1 and 2
#    (and the matching grouping-key order) swapped. Reproduce with
#    `runMain graft.tools.QProfile q69_sketch_stats <sf>` vs
#    `... q21_dedup_exact,q69_sketch_stats <sf>`: plan2 flips and the
#    printed normalized texts differ ONLY in the gid interlock.
KNOWN_MULTISTABLE = {"q69_sketch_stats"}


def load(path):
    """name -> (sec, plan2, load_avg), plus the file's sf_dir, its
    LAUNCH load (first ctx line) and the number of repeated names.

    sf-gated like Bench.parseTwins (r13 review): a BENCH_PERF file can
    contain appended dev runs at another scale factor whose ctx line
    switches sf_dir mid-file — folding those in would print 10x "same
    plan" deltas that are pure scale artifacts. Only lines captured
    under the file's FIRST ctx sf_dir count.
    """
    repeated = set()
    with open(path) as f:
        return (*load_lines(f, repeated), len(repeated))


def load_lines(lines, repeated=None):
    best = {}
    file_sf = None
    launch_load = None
    current_sf = None
    for raw in lines:
        try:
            d = json.loads(raw)
        except json.JSONDecodeError:
            continue
        if d.get("ctx") == "start":
            current_sf = d.get("sf_dir")
            if file_sf is None:
                file_sf = current_sf
                launch_load = d.get("load_avg")
            continue
        if "name" not in d or "sec" not in d:
            continue
        if current_sf != file_sf:
            continue
        if repeated is not None and d["name"] in best:
            repeated.add(d["name"])
        best[d["name"]] = (d["sec"], d.get("plan2", ""), d.get("load_avg"))
    return best, file_sf, launch_load


def plan_verdict(name, p2a, p2b):
    """Structural fingerprint compare; a CHANGED verdict on a pinned
    multistable query reads `multi*`."""
    if not p2a or not p2b:
        return "?"
    v = "same" if p2a == p2b else "CHANGED"
    if v == "CHANGED" and name in KNOWN_MULTISTABLE:
        return "multi*"
    return v


def flag_for(sa, sb, load_a, load_b, plan, ctx_delta):
    """House regression flag with the r14 ambient auto-adjudication
    (same-plan rows only — `multi*` counts as same; see the module doc
    for the two triggers)."""
    if not (sb > 1.5 * sa and sb - sa > 0.5):
        return ""
    rep_busier = (load_a is not None and load_b is not None
                  and load_b > load_a + 2)
    if plan in ("same", "multi*") and (rep_busier or ctx_delta > 2):
        return "REGRESSED-ambient"
    return "REGRESSED"


def diff_rows(a, b, ctx_delta=0.0):
    rows = []
    for name in sorted(set(a) | set(b)):
        sa, p2a, la = a.get(name, (None, "", None))
        sb, p2b, lb = b.get(name, (None, "", None))
        if sa is None or sb is None:
            rows.append((float("inf"), name, sa, sb, "only-one-side", ""))
            continue
        plan = plan_verdict(name, p2a, p2b)
        rows.append((abs(sb - sa), name, sa, sb, plan,
                     flag_for(sa, sb, la, lb, plan, ctx_delta)))
    rows.sort(key=lambda r: -r[0])
    return rows


def main(argv):
    if "--selftest" in argv:
        return selftest()
    show_all = "--all" in argv
    paths = [a for a in argv if not a.startswith("--")]
    if len(paths) != 2:
        print(__doc__)
        return 2
    (a, sf_a, la, ra), (b, sf_b, lb, rb) = load(paths[0]), load(paths[1])
    for path, r in ((paths[0], ra), (paths[1], rb)):
        if r:
            print(f"NOTE: {path} repeats {r} query names (a per-rep "
                  f"capture) — the last line of each is read.\n")
    if sf_a != sf_b:
        print(f"WARNING: captures are at different scale factors "
              f"({sf_a} vs {sf_b}) — seconds are not comparable.\n")
    ctx_delta = (lb - la) if (la is not None and lb is not None) else 0.0
    if ctx_delta > 2:
        print(f"NOTE: capture b launched at load {lb:.1f} vs a's "
              f"{la:.1f} — same-plan regressions auto-labeled ambient.\n")
    rows = diff_rows(a, b, ctx_delta)
    shown = 0
    print(f"{'query':42s} {'sec_a':>7s} {'sec_b':>7s} {'ratio':>6s} "
          f"{'plan':>8s} flag")
    for delta, name, sa, sb, plan, flag in rows:
        if not show_all and delta != float("inf") and delta < 0.2 \
                and plan != "CHANGED":
            continue
        if sa is None or sb is None:
            print(f"{name:42s} {'-' if sa is None else f'{sa:7.2f}':>7s} "
                  f"{'-' if sb is None else f'{sb:7.2f}':>7s} "
                  f"{'':>6s} {plan:>8s}")
        else:
            print(f"{name:42s} {sa:7.2f} {sb:7.2f} {sb / max(sa, 1e-9):6.2f} "
                  f"{plan:>8s} {flag}")
        shown += 1
    # intersection totals are the comparable number (r13 ADVICE #2:
    # full-file totals mix in queries present on only one side)
    shared = set(a) & set(b)
    ta = sum(a[n][0] for n in shared)
    tb = sum(b[n][0] for n in shared)
    print(f"\n{shown} rows shown ({len(rows)} joined); totals "
          f"over the {len(shared)} shared queries: a={ta:.1f}s "
          f"b={tb:.1f}s")
    if shared != set(a) or shared != set(b):
        fa = sum(s for s, *_ in a.values())
        fb = sum(s for s, *_ in b.values())
        print(f"full-file totals (NOT comparable — "
              f"{len(set(a) - shared)}/{len(set(b) - shared)} "
              f"one-sided queries): a={fa:.1f}s b={fb:.1f}s")
    return 0


def selftest():
    """Pins the r14 behaviors on synthetic captures."""
    ctx = '{"ctx":"start","load_avg":0.5,"sf_dir":"/sf"}'

    def line(name, sec, plan="", plan2="", load=None):
        d = {"name": name, "sec": sec}
        if plan:
            d["plan"] = plan
        if plan2:
            d["plan2"] = plan2
        if load is not None:
            d["load_avg"] = load
        return json.dumps(d)

    # plan2 alone decides; the text plan is ignored, and a side
    # without plan2 reads `?`
    a, _, _ = load_lines([ctx, line("q1", 1.0, "AAA", "S1", 0.5),
                          line("q2", 1.0, "BBB", "", 0.5)])
    b, _, _ = load_lines([ctx, line("q1", 1.0, "ZZZ", "S1", 0.5),
                          line("q2", 1.0, "BBB", "S9", 0.5)])
    rows = {r[1]: r for r in diff_rows(a, b)}
    assert rows["q1"][4] == "same", "plan2 agreement must win over plan text"
    assert rows["q2"][4] == "?", "missing plan2 on one side is unknown"

    # ambient auto-label trigger 1 (rep stamp): regressed + rep load
    # >2 above the twin's → REGRESSED-ambient; comparable load keeps
    # the plain flag; a CHANGED plan never auto-adjudicates
    a, _, _ = load_lines([ctx, line("q3", 1.0, "P", "S", 0.5),
                          line("q4", 1.0, "P", "S", 0.5),
                          line("q6", 1.0, "P", "S", 0.5)])
    b, _, _ = load_lines([ctx, line("q3", 3.0, "P", "S", 4.9),
                          line("q4", 3.0, "P", "S", 0.6),
                          line("q6", 3.0, "P", "S2", 4.9)])
    rows = {r[1]: r for r in diff_rows(a, b)}
    assert rows["q3"][5] == "REGRESSED-ambient", rows["q3"]
    assert rows["q4"][5] == "REGRESSED", rows["q4"]
    assert rows["q6"][5] == "REGRESSED" and rows["q6"][4] == "CHANGED"

    # ambient auto-label trigger 2 (launch load): a degraded capture —
    # ctx delta >2 — adjudicates same-plan regressions even when the
    # per-rep stamps are comparable (the suite's own load dominates
    # both sides' rep stamps; r13 driver capture)
    rows = {r[1]: r for r in diff_rows(a, b, ctx_delta=4.3)}
    assert rows["q4"][5] == "REGRESSED-ambient", rows["q4"]
    assert rows["q6"][5] == "REGRESSED", "CHANGED plan stays real"

    # pinned multistable: a CHANGED verdict reads multi* and counts as
    # same-plan for the ambient adjudication
    a, _, _ = load_lines([ctx, line("q69_sketch_stats", 1.0, "P", "S", 0.5)])
    b, _, _ = load_lines([ctx, line("q69_sketch_stats", 3.0, "Q", "T", 0.5)])
    rows = {r[1]: r for r in diff_rows(a, b, ctx_delta=4.0)}
    assert rows["q69_sketch_stats"][4] == "multi*"
    assert rows["q69_sketch_stats"][5] == "REGRESSED-ambient"

    # one line per query: a repeated name (a per-rep capture) keeps
    # its last line, stamp included, and is counted
    seen = set()
    a, _, _ = load_lines([ctx, line("q5", 1.0, "P", "S", 0.4),
                          line("q5", 5.0, "P", "S", 9.0)], seen)
    assert a["q5"] == (5.0, "S", 9.0), a["q5"]
    assert seen == {"q5"}

    # launch load comes off the FIRST ctx line only
    _, sf, ll = load_lines(
        ['{"ctx":"start","load_avg":4.9,"sf_dir":"/sf"}',
         '{"ctx":"start","load_avg":0.1,"sf_dir":"/sf2"}'])
    assert sf == "/sf" and ll == 4.9

    print("plan_diff selftest OK")
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BrokenPipeError:  # | head is a normal way to read this
        sys.exit(0)
