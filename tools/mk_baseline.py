#!/usr/bin/env python3
"""Regenerate the BenchGate baseline resource from QUIET bench captures.

Usage: tools/mk_baseline.py <dump1.json>:<calib1>[:<mt1>] [...]

Each <dump.json> comes from running graft.Bench with
SPARK_GRAFT_BENCH_DUMP=<path> on a quiet host (check each capture's
full_passes >= 2 and its spin probes against SURVEY §8 before blessing);
<calib> is the "calib_spark" field of that run's final JSON line, and the
optional <mt> is its "calib_mt_pre" (Mops/s) — when every capture provides
one, the resource also carries calib_mt_ref and the gate additionally
scales bounds by calib_mt_ref / calib_mt_run (hypervisor CPU steal hits
32-thread queries far harder than any single-thread probe shows; the gate
takes the WORST of the two ratios).

POLICY (mirrors BenchGate.combineCaptures, pinned in BenchGateSpec): the
baseline of each query is the UPPER MEDIAN of its minima across the
captures that measured it (sorted, element at index n//2 — with 2 captures
the slower one, with 3 the middle). One anomalously FAST capture therefore
never defines a floor-adjacent baseline that flags the next normal run —
the failure mode behind both live false-positive flags (q_percentiles r12
mid-round, q_asof_tolerance r12 driver capture). Prefer >= 2-3 captures;
a single capture degrades to itself (warn-worthy, not an error).
calib_spark_ref combines the same way; calib_mt_ref takes the LOWER median
(Mops/s — slower side), the conservative direction for false flags.
"""
import json, re, sys

pairs = []
for arg in sys.argv[1:]:
    parts = arg.split(":")
    if len(parts) == 3:
        path, calib, mt = parts
        pairs.append((json.load(open(path)), float(calib), float(mt)))
    else:
        path, calib = arg.rsplit(":", 1)
        pairs.append((json.load(open(path)), float(calib), None))
if not pairs:
    sys.exit(__doc__)
if len(pairs) < 2:
    print("WARNING: single capture - the median policy needs >=2 quiet "
          "captures to absorb fast windows", file=sys.stderr)

def upper_median(vs):
    vs = sorted(vs)
    return vs[len(vs) // 2]

def lower_median(vs):
    vs = sorted(vs)
    return vs[(len(vs) - 1) // 2]

# carry the quiet probe-timeline references forward: mcal_ref/io_ref are
# blessed separately (graft.Inspect calib captures, not bench dumps), so a
# per-query re-bless must preserve them rather than silently dropping the
# keys from the resource
prev_refs = {}
try:
    for line in open("src/main/resources/graft/bench-baseline.properties"):
        m = re.match(r"(mcal_ref|io_ref)=([0-9.]+)", line.strip())
        if m:
            prev_refs[m.group(1)] = m.group(2)
except FileNotFoundError:
    pass

queries = sorted({q for d, _, _ in pairs for q in d})
combined = {q: upper_median([d[q] for d, _, _ in pairs if q in d]) for q in queries}
calib = upper_median([c for _, c, _ in pairs])
mts = [m for _, _, m in pairs]
mt_ref = lower_median(mts) if all(m is not None for m in mts) else None

lines = [
    "# Per-query warm minima: UPPER MEDIAN across quiet multi-pass captures",
    f"# ({len(pairs)} capture(s)), plus the combined calib_spark",
    "# (and calib_mt, Mops/s) of those captures. Consumed by BenchGate: a",
    "# run flags q when min(q) > max(0.9, baseline * 1.5 * hostFactor),",
    "# hostFactor = max(1, calib_spark/calib_spark_ref, calib_mt_ref/calib_mt_run).",
    "# Refresh: run graft.Bench with SPARK_GRAFT_BENCH_DUMP 2-3x on a quiet",
    "# host, then tools/mk_baseline.py dump1.json:calib1:mt1 dump2.json:calib2:mt2 ...",
    f"calib_spark_ref={calib}",
]
if mt_ref is not None:
    lines.append(f"calib_mt_ref={mt_ref}")
for k in ("mcal_ref", "io_ref"):
    if k in prev_refs:
        lines.append(f"{k}={prev_refs[k]}")
lines += [f"{q}={combined[q]}" for q in queries]
out = "src/main/resources/graft/bench-baseline.properties"
open(out, "w").write("\n".join(lines) + "\n")
print(f"wrote {out}: {len(combined)} queries from {len(pairs)} capture(s), "
      f"calib_spark_ref={calib}, calib_mt_ref={mt_ref}")
