#!/usr/bin/env python3
"""sf1 scaling leg (VERDICT r17 #1): derive the BENCH-ONLY sf1 fixture
(graft.MakeScale — 10× sf0.1, distribution-matched) and time the heavy
query tier on it, then write the `sf1` column into BENCH_SCALING.json
with per-query growth ratios vs the committed sf0.1 warm record.

The heavy tier is the ~15 most expensive queries of the committed
record plus every query the r17 verdict named — the set whose 100 TB
arguments were analytic until now.

Usage: python3 scripts/bench_sf1.py [--skip-gen]
Prerequisite: compiled classes (sbt compile).
"""
import json, os, subprocess, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))
from make_artifacts import OPENS, bench_queries

CP = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
SF1 = os.path.join(REPO, "data", "sf1")

# VERDICT r17 #1's named heavy tier + the r18 medium tier (the 31
# queries of the committed sf1 column) + the r19 span-evidence pair —
# the full set the scaling artifact versions.
HEAVY = [
    "q101_bpe_trained_tokens", "q102_bpe_trained_budget_select",
    "q103_bpe_trained_pack", "q106_semantic_dedup", "q127_filter_stack",
    "q129_corpus_assembly", "q131_editdist_neardups", "q133_containment_pairs",
    "q138_textrank_terms", "q140_pq_ann", "q143_assembly_funnel",
    "q144_ivfpq_serve", "q145_editdist_neardups_lsh", "q146_ivfpq_upsert_serve",
    "q147_ivfpq_tombstone_serve", "q148_ivfpq_compact_serve", "q150_bm25_topk",
    "q157_cluster_split", "q158_neardup_index_serve", "q173_canonical_keepers",
    "q184_skew_audit", "q191_retrieval_eval", "q196_span_evidence",
    "q197_span_offsets", "q47_nn_within_label", "q58_ivf_nn",
    "q66_dedup_clusters", "q74_ivf_topk", "q82_dedup_impact",
    "q91_pca_ann_pairs", "q92_ivf_stored_nn", "q93_pca_stored_projection",
]


def sh(cmd, env=None, check=True):
    res = subprocess.run(cmd, shell=True, env=env, text=True)
    if check and res.returncode != 0:
        raise SystemExit(f"command failed (rc={res.returncode}): {cmd}")


def main():
    if "--skip-gen" not in sys.argv:
        sh(f"java {OPENS} -Xmx24g -cp '{CP}' graft.MakeScale "
           f"/root/testdata/sf0.1 {SF1} 10")

    # guard against registry drift: every tier name must still exist
    full = json.load(open(os.path.join(REPO, "BENCH_FULL.json")))
    registered = set(full["queries"])
    missing = [q for q in HEAVY if q not in registered]
    if missing:
        raise SystemExit(f"heavy-tier names no longer registered: {missing}")
    names = sorted(HEAVY)
    print(f"[sf1] timing {len(names)} queries: {names}")

    sf1 = bench_queries(SF1, names, "/tmp/bench_sf1.json")

    scaling_path = os.path.join(REPO, "BENCH_SCALING.json")
    art = json.load(open(scaling_path))
    w01 = art["sf0.1"]["warm"]
    growth = {q: round(sf1[q]["warm"] / w01[q], 2)
              for q in sf1 if q in w01 and w01[q] > 0}
    # Phase split (VERDICT r19 #3): Bench stamps per-run build/
    # validate seconds for the artifact-lifecycle queries; serve-only
    # warm = warm - per-run eager phases, which is what the 100 TB
    # build-once/query-many design should be priced on. Growth of the
    # SERVE path vs the committed sf0.1 warm (which for these rows
    # historically conflated the phases) is reported alongside.
    serve_warm = {}
    for q, v in sf1.items():
        ph = v.get("phases_warm", {})
        if ph:
            serve_warm[q] = round(v["warm"] - sum(ph.values()), 3)
    serve_growth = {q: round(s / w01[q], 2)
                    for q, s in serve_warm.items() if q in w01 and w01[q] > 0}
    # carry the per-query attributions forward — they are builder-
    # written analysis, not measurements, and a re-run must not drop
    # them — but PRUNED to queries present in the new measurement
    # column (ADVICE r19: entries for queries dropped or renamed out
    # of HEAVY would otherwise persist forever, reading as current
    # analysis of a measurement that no longer exists). Queries whose
    # new growth exceeds 2x with no carried attribution are flagged
    # loudly so the builder updates the analysis against the new
    # numbers (visible in the diff either way).
    prior_attr = {q: a for q, a in
                  art.get("sf1", {}).get("attribution", {}).items()
                  if q in sf1}
    dropped = sorted(set(art.get("sf1", {}).get("attribution", {})) - set(sf1))
    if dropped:
        print(f"[sf1] pruned stale attributions (no longer measured): {dropped}")
    unattributed = sorted(q for q, g in growth.items()
                          if g > 2.0 and q not in prior_attr)
    if unattributed:
        print(f"[sf1] WARNING: >2x growth with NO attribution — analyze and "
              f"stamp these in the artifact: {unattributed}")
    art["sf1"] = {
        "_meta": "BENCH-ONLY derived fixture (graft.MakeScale: 10× sf0.1, "
                 "distribution-matched — see MakeScale.scala scaladoc); "
                 "heavy tier + medium tier, 1 cold + upper median of every "
                 "successful warm run (3, plus 3 per re-measure round) via "
                 "graft.Bench <names>; growth_vs_sf0.1 = warm(sf1)/warm(sf0.1 "
                 "committed record) for 10× data. Geometry: DEFAULT auto "
                 "confs (r19 — IVF k=⌈√n⌉ above 10k vectors, nprobe ⌈k/8⌉, "
                 "trainer auto-dispatch; the r18 column was taken under the "
                 "then-pinned k=16, so IVF-family growth is not comparable "
                 "across the two columns by design)",
        "cold": {q: v["cold"] for q, v in sorted(sf1.items())},
        "warm": {q: v["warm"] for q, v in sorted(sf1.items())},
        "growth_vs_sf0.1": dict(sorted(growth.items())),
        "phases_cold": {q: v["phases_cold"] for q, v in sorted(sf1.items())
                        if v.get("phases_cold")},
        "phases_warm": {q: v["phases_warm"] for q, v in sorted(sf1.items())
                        if v.get("phases_warm")},
        "serve_warm": dict(sorted(serve_warm.items())),
        "serve_growth_vs_sf0.1": dict(sorted(serve_growth.items())),
        "total_warm": round(sum(v["warm"] for v in sf1.values()), 2),
        "attribution": prior_attr,
    }
    json.dump(art, open(scaling_path, "w"), indent=1)
    print(f"[sf1] total warm {art['sf1']['total_warm']}s; growth ratios:")
    for q, g in sorted(growth.items(), key=lambda kv: -kv[1]):
        print(f"  {q}: {w01[q]:.2f}s → {sf1[q]['warm']:.2f}s = {g}× for 10× data")


if __name__ == "__main__":
    main()
