#!/usr/bin/env python3
"""Render the README scaling-curve table from a curve artifact.

The artifact is one JSON line per replica count, written by graft.Repeat
with SPARK_GRAFT_REPEAT_CURVE: a repeat record per cell,
{"times":[...],"min":m,"med":d,"max":x,...}. Older committed points
(soak_scaling.json) carry one number per cell; both render. This script is the single
source of the README's markdown table, so the prose can never drift from
the measurement. Repeat cells render as "min (med)" — the min is the
least-contended observable the noise-envelope finding argues from, the
median shows the spread cheaply.

Usage: python3 tools/scaling_table.py [soak_scaling.json]
"""
import json
import sys


def cell_str(v) -> str:
    if isinstance(v, dict):
        mn, md = v.get("min", -1), v.get("med", -1)
        if mn is None or mn < 0:
            return "—"
        return f"{mn:.1f} ({md:.1f}) s"
    if isinstance(v, (int, float)) and v >= 0:
        return f"{v:.1f} s"
    return "—"


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else "soak_scaling.json"
    points = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                points.append(json.loads(line))
    points.sort(key=lambda p: p["replicas"])
    cols = [
        ("q87_curation_v2", "q87 exact capstone"),
        ("q164_curation_v2_lsh", "q164 LSH capstone"),
        ("q106_link_pagerank", "pagerank"),
        ("q128_hits", "HITS"),
        ("q129_triangles", "triangles"),
        ("q136_personalized_pagerank", "PPR"),
        ("q172_pca_gram", "PCA gram"),
        ("q173_pca_topk", "PCA top-k"),
        # q91 is the AUTO-banded path since the round-11 role swap; the
        # pinned-width diagnostic (q174_embed_dedup_pinned) is not soaked —
        # its 337.9 s 20x cliff is frozen in soak_pinned_cliff_r10.json
        ("q91_embed_dedup_rows", "q91 embed dedup (auto band)"),
        ("q174_embed_dedup_auto", "embed dedup auto (pre-r11 artifact)"),
        # round-12 span family: the replica construction is its adversary
        # (every replica shares every gram with its siblings)
        ("q180_duplicated_spans", "span miner"),
        ("q183_span_incremental", "span incr store"),
        ("q184_curation_v7", "q184 census gate"),
        # round-13: the split-hygiene exact-vs-sublinear pair (the q87/q164
        # story applied to leakFreeSplit) — q123's all-pairs clique term vs
        # q189's banded-LSH miner
        ("q123_leakfree_split", "q123 exact split"),
        ("q189_leakfree_split_lsh", "q189 LSH split"),
        # round-13: learned-tokenizer fertility — one corpus word-count
        # pass + vocab-sized merge loop, so the curve should stay flat
        ("q198_bpe_fertility", "q198 BPE fertility"),
        # round-15 repeats-curve members (the r14 tier + the heavy movers)
        ("q80_bm25", "q80 BM25"),
        ("q179_curation_v6", "q179 eval-gated mix"),
        ("q201_novelty_routed", "q201 novelty route"),
        ("q209_embed_contamination", "q209 embed decontam"),
        ("q213_bootstrap_ci", "q213 bootstrap CI"),
        ("q214_krippendorff", "q214 Krippendorff"),
        ("q210_zipf_slope", "q210 Zipf"),
    ]
    present = [(k, label) for k, label in cols if any(k in p["queries"] for p in points)]
    print("| replicas (docs) | " + " | ".join(label for _, label in present) + " |")
    print("|---|" + "|".join("---" for _ in present) + "|")
    for p in points:
        cells = [cell_str(p["queries"].get(k)) for k, _ in present]
        docs = p.get("docs")
        tag = f"{p['replicas']}x ({docs // 1000}k)" if docs else f"{p['replicas']}x"
        print(f"| {tag} | " + " | ".join(cells) + " |")
    if any("total_min" in p for p in points):
        print()
        print("| replicas | total_min | total_med | calib | waits |")
        print("|---|---|---|---|---|")
        for p in points:
            if "total_min" in p:
                print(f"| {p['replicas']}x | {p['total_min']:.1f} s | "
                      f"{p['total_med']:.1f} s | {p['calib']:.2f} s | {p['calib_waits']} |")


if __name__ == "__main__":
    main()
