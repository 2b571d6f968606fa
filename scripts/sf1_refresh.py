#!/usr/bin/env python3
"""Assemble the r16 HEAD refresh of the 10x scale record (VERDICT r15
"next round" #5): BENCH_sf1.json was last measured at r11 code — it
predates the fuzzy extended-prefix ladder, conf hygiene, the TWS
streaming row and three rounds of operator changes, so its committed 10x
slopes describe code that no longer ships. This stitches four fresh legs
(per scale: one catalog-subset run + one attribution-workloads run, all
at local[4] like every committed scale record) into BENCH_sf1_r16.json
with per-query slopes.

Usage: sf1_refresh.py <sf01_cat.json> <sf01_wl.json> <sf1_cat.json> <sf1_wl.json> <out.json>
Dev tool only — not part of the shipped library.
"""
import json, sys

sf01c, sf01w, sf1c, sf1w, out = sys.argv[1:6]
a, aw = json.load(open(sf01c)), json.load(open(sf01w))
b, bw = json.load(open(sf1c)), json.load(open(sf1w))

HEAVY = ["q_fuzzy_join", "q_dedup_minhash", "q_dedup_ngram", "q_dedup_cluster",
         "q_dedup_paragraph", "q_dedup_minhash_streaming",
         "q_window_streaming_mk",
         "q_join_stream_stream", "q_sessionize_streaming", "q_ts_profile_sim",
         "q_ann_ivf", "q_ann_pq"]
TPCH = ["q_tpch_q2", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9", "q_tpch_q11",
        "q_tpch_q12", "q_tpch_q15", "q_tpch_q16", "q_tpch_q19", "q_tpch_q22"]

def leg(cat, wl, keys):
    return {
        "queries": {k: cat["queries"][k] for k in keys if k in cat.get("queries", {})},
        "counters": dict(wl.get("counters", {})),
        "calibration": cat.get("calibration"),
        "load": cat.get("load"),
        "contaminated": cat.get("contaminated") or wl.get("contaminated"),
    }

ref = leg(a, aw, HEAVY + TPCH)
ten = leg(b, bw, HEAVY + TPCH)

def slopes(keys):
    return {k: round(ten["queries"][k] / ref["queries"][k], 2)
            for k in keys
            if ref["queries"].get(k, 0) > 0 and k in ten["queries"]}

doc = {
    "note": ("r16 HEAD refresh of the 10x scale record: same ScaleUp "
             "permutation generator (factor 10 of /root/testdata/sf0.1, "
             "clone-free, FK-consistent fact-chain offsets), same "
             "local[4] series conditions, measured against the code that "
             "ships at r16 — the prior BENCH_sf1.json was r11-era. The "
             "driver regenerates testdata between rounds, so slopes are "
             "comparable round-over-round only in shape, not digit-for-"
             "digit."),
    "generator": "graft.tools.ScaleUp permutation, factor 10 of /root/testdata/sf0.1",
    "sf0.1": ref,
    "sf1": ten,
    "slope": slopes(HEAVY),
    "tpch_slope": slopes(TPCH),
    "prior_record": {"source": "BENCH_sf1.json (r11 code)",
                     "slope": json.load(open("/root/repo/BENCH_sf1.json")).get("slope"),
                     "tpch_slope": json.load(open("/root/repo/BENCH_sf1.json")).get("tpch_slope")},
}

json.dump(doc, open(out, "w"), indent=1)
print(json.dumps({"slope": doc["slope"], "tpch_slope": doc["tpch_slope"]}, indent=1))
print(f"-> {out}")
