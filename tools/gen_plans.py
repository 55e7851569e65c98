#!/usr/bin/env python3
"""Regenerate PLANS.md from `graft.tools.Explain` output.

Usage: python3 tools/gen_plans.py
Runs Explain (sf0.001) for the headline queries, strips sbt log noise,
elides sections over 120 lines (the LSH/IVF plans spell out all the
permutation/plane literal arrays), and rewrites PLANS.md.
"""
import re
import subprocess
import sys

QUERIES = [
    "q_rel1_scan_filter", "q_rel4_join_broadcast", "q_adv1_shipping_priority",
    "q_adv2_local_supplier_volume",
    "q_dd5_minhash_lsh", "q_sim1_cosine_topk", "q_sim2_ann_lsh",
    "q_sim3_ivf", "q_sim5_ivf_int8", "q_sim5c_index_append",
    "q_sim7_pq_error", "q_txt12_bm25", "q_rel29_merge_upsert",
    "q_ml9_curation_funnel_v2", "q_rel14_topk",
    "q_adv7_pagerank", "q_sim10_ivfpq_serve",
    "q_dd13_prefix_jaccard", "q_ml19_length_buckets",
    "q_ml21_bloom_decontamination", "q_ml22_bottomk_sample",
    "q_txt20_cms_audit",
    "q_rel10h_kmv_set_algebra", "q_agg9_m4_downsample",
    "q_adv9_cohort_retention", "q_adv10_funnel",
]

HEADER = '''# PLANS — executed physical plans of headline queries

`graft.tools.Explain` output (sf0.001, the engine's own AQE-enabled
session) for twenty-six representative queries — the evidence behind SCALE.md's
shuffle-structure claims, regenerable any time with:

```bash
python3 tools/gen_plans.py
```

Sections over 120 lines are elided (the MinHash/LSH/IVF plans spell out
all 64 permutation and plane literals). What to look for:
`PushedFilters`/pruned `ReadSchema` on scans (REL-1),
`BroadcastHashJoin` on every dim join (REL-4, ADV-1) and the stated
semi-join reduction order — orders joins the broadcast ASIA-customer
set before lineitem (ADV-2),
`TakeOrderedAndProject` for top-k (REL-14), no Window and partial+final
`HashAggregate` pairs in the MinHash signature build (DD-5), the
id-pair-only candidate dedup followed by vector join-back in the LSH ANN
path (SIM-2), the trained centroids read from the artifact store
(`graft_artifacts` parquet; training runs on the driver, outside the
plan) plus the partial-before-exchange argmax aggregate (not a
corpus-wide window) for IVF cell assignment, each vector's norm
computed once in the scan-side projection (SIM-3), the same shapes over the native
quantize_int8/int8_recon byte codes plus the rerank-depth window and
candidate-only float join-back in the int8 index path (SIM-5), the
append path re-using the same encode/assign shapes over the new batch
only plus the two one-row drift aggregates (SIM-5c), the per-subspace
k-means whose every aggregate just carries `sub` in its grouping key and
the partial-before-exchange argmin encode (SIM-7), the query-term IN
filter sitting below the (doc, term) aggregate and the broadcast of the
|terms|-row df table in the BM25 plan (TXT-12), the anti/left/union MERGE
decomposition with every changeset arm a BroadcastHashJoin (REL-29), the
v2 funnel's once-broadcast benchmark grams feeding both the
decontamination join and the stage aggregates (ML-9), the pagerank
rounds reading `Scan ExistingRDD` checkpoint leaves — zero parquet
scans, the round-7 fix for AQE's non-reuse of repeated subtrees
(ADV-7), the composed IVF-PQ serve probing cells before any ADC
scoring with the LUT and probe tables broadcast (SIM-10), the
prefix-filter join's df-ordered rank feeding a HASH self-join with the
PPJoin positional condition — no cartesian anywhere (DD-13), the
length-bucket audit's single hash exchange whose partitioning satisfies
the window AND both aggregates (ML-19), the bloom probe's four
LeftSemi BroadcastHashJoins over ONE reused bit-table exchange with the
two KM hash draws computed in a single Project (4 md5 sites in the
whole plan — the null-filter re-derivation and generator inlining both
audited away) before the candidate dedup exchange (ML-21), the
bottom-k sample as TakeOrderedAndProject with the row-number window
above it numbering only the k survivors (ML-22), the Count-Min build's
partial+final aggregate over the exploded cell stream with the sketch
side broadcast into the estimate join and both top-25 consumers
reading one checkpoint (TXT-20), and wide `WholeStageCodegen` spans
throughout.

```

'''


def main():
    cmd = ["sbt", "-batch",
           "runMain graft.tools.Explain /root/testdata/sf0.001 " + " ".join(QUERIES)]
    raw = subprocess.run(cmd, capture_output=True, text=True, cwd=".").stdout
    raw = "\n".join(l.removeprefix("[info] ") for l in raw.splitlines()
                    if not l.startswith(("[error]", "[warn]", "[success]"))
                    and not l.startswith("[info] running")
                    and not l.startswith("[info] compiling")
                    and not re.match(r"\[info\] (set current|Executing|done)", l))
    parts = [p for p in re.split(r"\n(?=========== )", raw)
             if p.strip().startswith("==========")]
    if len(parts) != len(QUERIES):
        sys.exit(f"expected {len(QUERIES)} sections, got {len(parts)} — check the sbt run")
    out = []
    for p in parts:
        lines = p.rstrip().splitlines()
        if len(lines) > 120:
            n = len(lines) - 120
            lines = lines[:120] + [
                f"    ... ({n} lines elided: permutation/plane literal arrays)"]
        out.append("\n".join(lines))
    with open("PLANS.md", "w") as f:
        f.write(HEADER + "\n\n".join(out) + "\n```\n")
    print(f"PLANS.md rewritten: {len(parts)} sections")


if __name__ == "__main__":
    main()
