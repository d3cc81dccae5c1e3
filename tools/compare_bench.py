"""Cross-round per-query bench comparison (VERDICT_r7 item 2 closer).

Reads two bench records and prints, per query present in both, the
min-seconds of each side and the ratio new/old — regressions (>1.5x)
first, then improvements, then the unchanged middle summarized. Accepts:

  * BENCH_LOCAL_r{N}.json — the full record bench.py writes since r8
    (complete ``queries`` dict, the preferred input);
  * driver-archived BENCH_r{N}.json — best-effort: per-query numbers are
    recovered from the 2000-char ``tail`` string, so only the queries
    that survived truncation appear.

Usage:
    python tools/compare_bench.py OLD.json NEW.json
    python tools/compare_bench.py            # two newest BENCH_LOCAL_r*
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_queries(path: str) -> dict[str, float]:
    d = json.load(open(path))
    if isinstance(d.get("queries"), dict):
        return {k: float(v) for k, v in d["queries"].items()}
    if isinstance(d.get("parsed"), dict) and isinstance(
            d["parsed"].get("queries"), dict):
        return {k: float(v) for k, v in d["parsed"]["queries"].items()}
    # driver archive: scrape per-query seconds out of the tail text.
    # Anchor to the "slowest"/"queries" sub-dicts when either survived
    # truncation — the only places query names map to seconds — so
    # record-level keys (value, queries_median_total, ...) can never
    # surface as bogus query rows; fall back to the filtered flat scan
    # only when neither anchor is present.
    tail = d.get("tail", "")
    out: dict[str, float] = {}
    anchored = re.findall(
        r'"(?:slowest|queries)":\s*(\{[^{}]*\})', tail)
    blobs = anchored if anchored else [tail]
    _META = frozenset((
        "value", "sf", "load_at_start", "repeats", "spread_median",
        "spread_max", "n_queries", "n_noisy", "queries_median_total",
        "total", "contended",
    ))
    for blob in blobs:
        for m in re.finditer(r'"([a-z0-9_]+)":\s*([0-9.]+)', blob):
            k, v = m.group(1), float(m.group(2))
            if k in _META:
                continue
            out[k] = v
    return out


def timed_action(path: str) -> str:
    """The record's timed action; records written before bench.py carried
    the field timed ``.count()``."""
    d = json.load(open(path))
    rec = d.get("parsed") if isinstance(d.get("parsed"), dict) else d
    m = re.search(r'"timed_action":\s*"(\w+)"', d.get("tail", ""))
    return rec.get("timed_action") or (m.group(1) if m else "count")


def main() -> None:
    args = sys.argv[1:]
    if len(args) == 2:
        old_p, new_p = args
    elif not args:
        locs = sorted(
            glob.glob(os.path.join(_ROOT, "BENCH_LOCAL_r*.json")),
            key=lambda p: int(re.search(r"r(\d+)", p).group(1)),
        )
        if len(locs) < 2:
            sys.exit("need two BENCH_LOCAL_r*.json files (or pass paths)")
        old_p, new_p = locs[-2], locs[-1]
    else:
        sys.exit(__doc__)
    old, new = load_queries(old_p), load_queries(new_p)
    common = sorted(set(old) & set(new))
    if not common:
        sys.exit("no overlapping queries between the two records")
    rows = [(q, old[q], new[q],
             new[q] / old[q] if old[q] > 0 else float("inf"))
            for q in common]
    regress = sorted((r for r in rows if r[3] > 1.5), key=lambda r: -r[3])
    improve = sorted((r for r in rows if r[3] < 1 / 1.5), key=lambda r: r[3])
    print(f"# {os.path.basename(old_p)} -> {os.path.basename(new_p)}: "
          f"{len(common)} queries in both "
          f"({len(old)} old / {len(new)} new)")
    a_old, a_new = timed_action(old_p), timed_action(new_p)
    if a_old != a_new:
        print(f"# timed action differs: {a_old} -> {a_new}; "
              "per-query ratios compare different work")
    t_old = sum(old[q] for q in common)
    t_new = sum(new[q] for q in common)
    print(f"# overlap total {t_old:.1f}s -> {t_new:.1f}s "
          f"({t_new / t_old:.2f}x)")
    for label, group in (("REGRESSED >1.5x", regress),
                         ("IMPROVED >1.5x", improve)):
        print(f"{label}: {len(group)}")
        for q, a, b, r in group:
            print(f"  {q:32s} {a:7.3f}s -> {b:7.3f}s  {r:5.2f}x")
    mid = len(rows) - len(regress) - len(improve)
    print(f"within 1.5x either way: {mid}")


if __name__ == "__main__":
    main()
