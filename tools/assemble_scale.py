#!/usr/bin/env python3
"""Assemble BENCH_r<round>_scale.json from the per-point chain raws in
bench_points_r<round>/ (written by tools/scale_chain.sh <round>).

Usage: python3 tools/assemble_scale.py <round> [out_path]
  out_path defaults to BENCH_r<round>_scale.json at the repo root.

sf0.1, sf1 and sf10 are required; sf3 is optional (the chain runs it
last, so a cut there still leaves a full three-point curve). Every
point must report failed=0.
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# (block key, raw-file suffix, data multiple of sf0.1), in scale order
POINTS = [("sf0_1", "sf0.1", 1), ("sf1", "sf1", 10),
          ("sf3", "sf3", 30), ("sf10", "sf10", 100)]
REQUIRED = ("sf0_1", "sf1", "sf10")


def assemble(rnd):
    raws = os.path.join(ROOT, f"bench_points_r{rnd}")
    blocks, present = {}, []
    for key, suffix, mult in POINTS:
        path = os.path.join(raws, f"bench_r{rnd}_{suffix}.json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            blocks[key] = json.load(f)
        if blocks[key]["failed"] != 0:
            raise SystemExit(f"{path}: {blocks[key]['failed']} failed entries")
        present.append((key, suffix, mult))
    missing = [k for k in REQUIRED if k not in blocks]
    if missing:
        raise SystemExit(f"required bench points missing in {raws}: {missing}")

    curve, prev = [], None
    for key, _, mult in present:
        total = blocks[key]["value"]
        curve.append({
            "point": key, "data_multiple": mult,
            "suite_total_sec": round(total, 3),
            "step_ratio_vs_prev": None if prev is None else round(total / prev, 3),
            "failed": blocks[key]["failed"],
            "reps": blocks[key]["reps"],
        })
        prev = total

    q0, q10 = blocks["sf0_1"]["queries"], blocks["sf10"]["queries"]
    ratios = {k: round(q10[k] / q0[k], 2) for k in sorted(q0) if k in q10}
    entries = len(q0)
    single = "/".join(s for k, s, _ in present if blocks[k]["reps"] == 1)
    scaled = "/".join(f"{m}x" for _, _, m in present[1:])
    total100x = blocks["sf10"]["value"] / blocks["sf0_1"]["value"]
    out = {
        "metric": f"scale_curve_r{rnd}",
        "description": (
            f"Full {entries}-entry suite at sf0.1 and its {scaled} "
            "scaled copies (tools/gen_scaled_sf.py), one build's frozen "
            f"classes across all points (tools/scale_chain.sh {rnd}). "
            "sf0.1: interleaved median-of-"
            f"{blocks['sf0_1']['reps']} (also the tracked BENCH_local.json); "
            f"{single}: WARM reps=1 (one untimed cold pre-rep, then one "
            "timed rep per entry)."
        ),
        "generated_round": rnd,
        **{key: blocks[key] for key, _, _ in present},
        "scale_curve": curve,
        "per_entry_sf10_over_sf0_1_ratio": ratios,
    }
    out["summary"] = (
        f"{entries}-entry suite, 100x data in {round(total100x, 1)}x time "
        f"({round(blocks['sf0_1']['value'], 1)}s -> "
        f"{round(blocks['sf10']['value'], 1)}s), failed=0 at all "
        f"{len(present)} points ({single} at reps=1-warm)."
    )
    return out


def main(argv):
    if len(argv) not in (2, 3):
        raise SystemExit(__doc__)
    rnd = int(argv[1])
    path = argv[2] if len(argv) == 3 else os.path.join(ROOT, f"BENCH_r{rnd}_scale.json")
    out = assemble(rnd)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(out["summary"])


if __name__ == "__main__":
    main(sys.argv)
