#!/usr/bin/env python
"""Host-aware cross-round bench comparison (companion to the canary).

Two modes:

``python bench_compare.py BENCH_rA.json BENCH_rB.json [--flag 1.4]``
    Two-artifact compare. Prints shared-key totals and per-key ratios
    beyond ``--flag`` (default 1.4x, BASELINE.md's review threshold),
    worst-first, plus keys present on only one side.

    The canary host factor is applied under an explicit REGIME rule
    (the r10 calibration lesson, BASELINE.md "canary caveat", now
    executable): factor noise is ~±15% (medians-of-3 of ±25% reps), so
    blind adjustment can OVERCORRECT a same-day comparison into a
    phantom uniform drift. The factor is only trusted when both of:

    - the raw shared-key totals diverge >= 1.2x (there is a large shift
      to explain), and
    - the per-key raw ratios are UNIFORM (>= 70% of shared keys within
      1.25x of the median per-key ratio — the co-tenant signature: the
      whole run moves together; code changes move specific keys).

    Otherwise the comparison stays on RAW timings. The regime in use and
    why is printed with every run. Either way, flagged keys are a list to
    re-measure with interleaved warm medians, not verdicts.

``python bench_compare.py --bands [TARGET.json] [--flag 2.0] [--dir DIR]``
    Historical per-key band check — the ratchet detector the one-round-back
    protocol lacks (r10 lesson: five document-path keys drifted ~1.3-1.6x
    PER ROUND for two rounds; each step passed the 1.4x review threshold
    while compounding to 2-3.3x their r8 band). Loads every
    ``BENCH_r*.json`` in ``--dir`` (default: the target's directory),
    takes the newest as the target unless one is named, and flags every
    key whose raw timing exceeds ``--flag`` x (default 2.0) its MEDIAN
    across all other recorded rounds; the min and full history are printed
    for flagged keys. Raw values on purpose: bands span many sessions, so
    per-run canary factors would add +-15% noise per round to the band
    itself; a >=2x-over-median breach is outside host noise either way.

Exit status: 0 clean, 2 when --bands flags at least one breach (so a
closing-run script can gate on it).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import statistics
import sys


def load_bench(path: str) -> dict:
    """{"queries": {...}, "host_factor": float|None, "label": path}"""
    with open(path) as fh:
        raw = fh.read()
    doc = json.loads(raw)
    if "queries" not in doc and "tail" in doc:
        # driver wrapper: the bench line is truncated into a "tail" string.
        # All regexes must run on the DECODED tail — in the raw file the
        # tail's quotes are JSON-escaped (\"host_factor\") and never match.
        body = doc["tail"]
        m = re.search(r'"queries"\s*:\s*(\{.*?\})(?=,\s*"(?:sf|recall|canary)")',
                      body, re.S)
        queries = json.loads(m.group(1)) if m else {}
        if not queries:
            # tail may START mid-dict; reconstruct from key-value pairs
            queries = {
                k: float(v)
                for k, v in re.findall(r'"([a-z0-9_]+)"\s*:\s*([0-9.]+)', body)
                if k not in ("sf", "pre_sec", "post_sec", "ref_sec", "host_factor",
                             "value", "n", "rc", "cpus", "write_pre_sec",
                             "write_post_sec", "write_ref_sec", "write_factor",
                             "smallfiles_pre_sec", "smallfiles_post_sec",
                             "smallfiles_ref_sec", "smallfiles_factor",
                             "smallfiles_mid_sec", "stress_threshold")
            }
        hf = sf_f = stressed = None
        hm = re.search(r'"host_factor"\s*:\s*([0-9.]+)', body)
        if hm:
            hf = float(hm.group(1))
        sm = re.search(r'"smallfiles_factor"\s*:\s*([0-9.]+)', body)
        if sm:
            sf_f = float(sm.group(1))
        st = re.search(r'"storage_stressed"\s*:\s*(true|false)', body)
        if st:
            stressed = st.group(1) == "true"
        # the wrapper's "tail" string truncates the HEAD of the bench line,
        # so the first few registry keys may be unrecoverable — mark the
        # side truncated so the key-diff below doesn't misreport them as
        # added/removed between rounds
        return {
            "queries": queries,
            "host_factor": hf,
            "smallfiles_factor": sf_f,
            "storage_stressed": stressed,
            "reps": {},
            "label": path,
            "truncated": "queries" not in doc,
        }
    canary = doc.get("canary") or {}
    return {
        "queries": {k: float(v) for k, v in doc.get("queries", {}).items()},
        "host_factor": canary.get("host_factor"),
        "smallfiles_factor": canary.get("smallfiles_factor"),
        "storage_stressed": canary.get("storage_stressed"),
        "reps": doc.get("reps") or {},
        "label": path,
    }


def pick_regime(a: dict, b: dict, shared: list[str]) -> tuple[str, str]:
    """Decide RAW vs ADJUSTED per the module docstring. Returns
    (regime, reason). ADJUSTED requires canaries on BOTH sides, a >=1.2x
    raw-total divergence, and a uniform per-key shift."""
    if a["host_factor"] is None or b["host_factor"] is None:
        return "raw", "at least one side has no canary (pre-r10 artifact)"
    tot_a = sum(a["queries"][k] for k in shared)
    tot_b = sum(b["queries"][k] for k in shared)
    if tot_a <= 0 or tot_b <= 0:
        return "raw", "degenerate totals"
    total_ratio = tot_b / tot_a
    div = max(total_ratio, 1.0 / total_ratio)
    if div < 1.2:
        return "raw", (
            f"raw totals diverge only {div:.2f}x (< 1.2x) — factor noise "
            "(~±15%) would overcorrect; same-day comparisons stay raw"
        )
    ratios = [
        b["queries"][k] / a["queries"][k]
        for k in shared
        if a["queries"][k] > 0
    ]
    if len(ratios) < 5:
        return "raw", "too few shared keys to judge shift uniformity"
    med = statistics.median(ratios)
    frac = sum(1 for r in ratios if med / 1.25 <= r <= med * 1.25) / len(ratios)
    if frac >= 0.70:
        return "adjusted", (
            f"raw totals diverge {div:.2f}x (>= 1.2x) and the shift is "
            f"uniform ({frac:.0%} of keys within 1.25x of the {med:.2f}x "
            "median per-key ratio — the host-shift signature)"
        )
    return "raw", (
        f"raw totals diverge {div:.2f}x but the shift is NOT uniform "
        f"(only {frac:.0%} of keys within 1.25x of the median per-key "
        "ratio) — key-specific movement, adjust nothing; re-measure the "
        "flagged keys with interleaved warm medians"
    )


def compare_two(args) -> int:
    a, b = load_bench(args.old), load_bench(args.new)
    shared = sorted(set(a["queries"]) & set(b["queries"]))
    only_a = sorted(set(a["queries"]) - set(b["queries"]))
    only_b = sorted(set(b["queries"]) - set(a["queries"]))
    if not shared:
        print("no shared keys")
        return 0

    regime, reason = pick_regime(a, b, shared)
    for side in (a, b):
        side["adj"] = (side["host_factor"] or 1.0) if regime == "adjusted" else 1.0
    print(f"regime: {regime.upper()} — {reason}")

    tot_a = sum(a["queries"][k] for k in shared)
    tot_b = sum(b["queries"][k] for k in shared)
    print(f"shared keys: {len(shared)}")
    print(f"raw totals:  {tot_a:.1f} -> {tot_b:.1f}  (ratio {tot_b / tot_a:.3f})")
    if regime == "adjusted":
        adj_a, adj_b = tot_a / a["adj"], tot_b / b["adj"]
        print(
            f"adjusted:    {adj_a:.1f} -> {adj_b:.1f}  (ratio {adj_b / adj_a:.3f}; "
            f"factors {a['adj']:.3f} / {b['adj']:.3f})"
        )
    elif a["host_factor"] is not None and b["host_factor"] is not None:
        print(
            f"(canary factors recorded {a['host_factor']:.3f} / "
            f"{b['host_factor']:.3f} — not applied under this regime)"
        )

    flagged = []
    for k in shared:
        ra = a["queries"][k] / a["adj"]
        rb = b["queries"][k] / b["adj"]
        if ra > 0 and (rb / ra >= args.flag or ra / rb >= args.flag):
            flagged.append((rb / ra, k, ra, rb))
    if flagged:
        print(f"\nper-key {regime} ratios beyond {args.flag}x "
              "(re-measure with warm medians before concluding):")
        stall_a, stall_b = _storage_signature(a), _storage_signature(b)
        for ratio, k, ra, rb in sorted(flagged, key=lambda t: -t[0]):
            note = ""
            if k in FILE_COUNT_BOUND and (
                (ratio > 1 and stall_b) or (ratio < 1 and stall_a)
            ):
                side = stall_b if ratio > 1 else stall_a
                note = f"  [file-count-bound; slower side carries {side}]"
            print(f"  {ratio:5.2f}x  {k}: {ra:.2f} -> {rb:.2f}{note}")
    else:
        print(f"\nno per-key drift beyond {args.flag}x")
    trunc_note = (
        " (one side is a truncated driver wrapper — head keys may be "
        "missing there, not genuinely added/removed)"
        if a.get("truncated") or b.get("truncated")
        else ""
    )
    if only_a:
        print(f"\nremoved keys{trunc_note}: {', '.join(only_a)}")
    if only_b:
        print(f"added keys{trunc_note}: {', '.join(only_b)}")
    return 0


def _round_num(path: str) -> int:
    m = re.search(r"BENCH_r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else -1


# Keep in sync with bench.py FILE_COUNT_BOUND (not imported: bench.py's
# module import pulls the full entry registry + Spark session machinery).
# These keys' timings track the host's metadata-storage state — hundreds
# of small-file commits/opens per run — so a band breach here inside an
# artifact whose own smallfiles canary reads elevated (while the CPU
# canary is benign) is the receipted stall signature, not a code
# regression (r13: 5 such breaches on untouched code, canary 1.80).
FILE_COUNT_BOUND = frozenset({
    "bucket_write", "bucket_read_extent", "bucket_read_polygon",
    "bucket_merge", "bucket_stream_ingest",
    "minhash_index_build", "minhash_index_probe",
    "bloom_index_build", "bloom_index_probe",
    "semantic_index_probe", "ann_index_search",
    "bm25_index_topk", "dedup_against_bloom_index",
})


# Per-key band RE-PINS (BASELINE.md "Bench notes" carries the receipt for
# each entry): the all-rounds median still reflects a host era the key no
# longer runs in, so the band floor is overridden to the receipted level.
# mix_sources: r14 interleaved A/B (r8 checkout vs HEAD, 2x6 warm reps at
# sf0.1) read code-identical ~0.51 s warm on the current host; the 0.338
# historical median is the r3-r8 host era.
REPINNED_MEDIAN = {"mix_sources": 0.51}


def _storage_signature(target: dict) -> str | None:
    """Return a one-line stall-signature description when the target
    artifact's own canaries carry it (elevated smallfiles OR an in-run
    stress trip, with benign CPU), else None.

    `storage_stressed` matters independently of the pre/post-median
    factor: a stall arriving MID-run trips the one-shot re-check (and
    the rep machinery) while quiet pre/post medians keep the averaged
    factor under 1.4 — measured r14: factor 1.327 with a 2.3x mid-run
    spike and bucket reps spanning 13-35 s."""
    sf_f, hf = target.get("smallfiles_factor"), target.get("host_factor")
    stressed = target.get("storage_stressed")
    if hf is not None and hf > 1.2:
        return None  # CPU not benign: don't blame storage
    if sf_f is not None and sf_f >= 1.4:
        return (
            f"smallfiles_factor {sf_f:g} with "
            f"{'host_factor ' + format(hf, 'g') if hf is not None else 'no CPU reading'}"
        )
    if stressed:
        return (
            "in-run stress trip (storage_stressed=true"
            + (f", smallfiles_factor {sf_f:g}" if sf_f is not None else "")
            + (f", host_factor {hf:g}" if hf is not None else "")
            + ")"
        )
    return None


def compare_bands(args) -> int:
    target_path = args.old  # optional positional in --bands mode
    search_dir = args.dir or (
        os.path.dirname(os.path.abspath(target_path)) if target_path else "."
    )
    recorded = sorted(
        glob.glob(os.path.join(search_dir, "BENCH_r*.json")), key=_round_num
    )
    if target_path is None:
        if not recorded:
            print(f"no BENCH_r*.json under {search_dir}")
            return 1
        target_path = recorded[-1]
    history_paths = [
        p for p in recorded
        if os.path.abspath(p) != os.path.abspath(target_path)
    ]
    if len(history_paths) < 2:
        print("need >= 2 historical artifacts to form a band")
        return 1

    target = load_bench(target_path)
    history: dict[str, list[tuple[int, float]]] = {}
    for p in history_paths:
        rnd = _round_num(p)
        for k, v in load_bench(p)["queries"].items():
            history.setdefault(k, []).append((rnd, v))

    print(
        f"target: {os.path.basename(target_path)}  |  band from "
        f"{len(history_paths)} artifacts "
        f"(r{_round_num(history_paths[0])}-r{_round_num(history_paths[-1])})"
        f"  |  breach threshold {args.flag}x median"
    )
    breaches = []
    fresh = []
    for k, v in sorted(target["queries"].items()):
        hist = history.get(k)
        if not hist or len(hist) < 2:
            fresh.append(k)
            continue
        vals = [x for _, x in hist]
        med, mn = statistics.median(vals), min(vals)
        med = max(med, REPINNED_MEDIAN.get(k, 0.0))
        if med > 0 and v >= args.flag * med:
            breaches.append((v / med, k, v, med, mn, hist))
    stall = _storage_signature(target)
    if breaches:
        storage_attr, bare = [], []
        for entry in sorted(breaches, key=lambda t: -t[0]):
            (storage_attr if (stall and entry[1] in FILE_COUNT_BOUND) else bare).append(entry)

        def _line(ratio, k, v, med, mn, hist):
            series = " ".join(f"r{r}:{x:g}" for r, x in hist)
            reps = target.get("reps", {}).get(k)
            rep_note = (
                f"; in-run reps {', '.join(f'{x:g}' for x in reps)}" if reps else ""
            )
            pin_note = (
                " [re-pinned — receipt in BASELINE.md]"
                if k in REPINNED_MEDIAN and med == REPINNED_MEDIAN[k]
                else ""
            )
            print(f"  {ratio:5.2f}x med  {k}: {v:g}s  "
                  f"(median {med:g}{pin_note}, min {mn:g}; {series}{rep_note})")

        if bare:
            print(f"\nBAND BREACHES ({len(bare)}) — keys above "
                  f"{args.flag}x their all-rounds median:")
            for entry in bare:
                _line(*entry)
            print("\nbreached keys compound across rounds even when every "
                  "one-round-back check read 'in band' — attribute each with "
                  "an interleaved A/B before the closing run.")
        if storage_attr:
            print(f"\nSTORAGE-ATTRIBUTED breaches ({len(storage_attr)}) — "
                  "file-count-bound keys in an artifact carrying the "
                  f"metadata-stall signature ({stall}); these track host "
                  "storage state, not code (receipt: BASELINE.md r13):")
            for entry in storage_attr:
                _line(*entry)
    else:
        print("\nno band breaches: every key within "
              f"{args.flag}x of its all-rounds median")
    if fresh:
        print(f"\nkeys too new for a band (<2 recorded rounds): "
              f"{', '.join(fresh)}")
    # storage-attributed breaches don't gate: the artifact self-adjudicates
    return 2 if (breaches and any(
        not (stall and k in FILE_COUNT_BOUND) for _, k, *_ in breaches
    )) else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old", nargs="?", default=None)
    ap.add_argument("new", nargs="?", default=None)
    ap.add_argument("--flag", type=float, default=None)
    ap.add_argument("--bands", action="store_true",
                    help="historical per-key band check (see module doc)")
    ap.add_argument("--dir", default=None,
                    help="--bands: directory holding BENCH_r*.json "
                         "(default: target's directory)")
    args = ap.parse_args()

    if args.bands:
        if args.flag is None:
            args.flag = 2.0
        return compare_bands(args)
    if args.old is None or args.new is None:
        ap.error("two artifacts required (or use --bands)")
    if args.flag is None:
        args.flag = 1.4
    return compare_two(args)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BrokenPipeError:  # `| head` closed stdout — not an error
        sys.exit(0)
