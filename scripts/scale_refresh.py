#!/usr/bin/env python3
"""Assemble a HEAD refresh of the 100x scale record (VERDICT r14 "what's
missing" #4; provenance stamping added r19 per VERDICT r18 #5 — the r18
artifact shipped with the r15 note verbatim, misstating which HEAD it
measured). Stitches the three fresh legs (sf0.1 reference, sf10 batch
slopers, sf10 streaming engines — all at local[4] like every committed
scale record) into one artifact with per-query slopes, the attribution
counters, and a provenance block (round, git SHA, testdata/scale-corpus
mtimes, assembly time) stamped by THIS script so no hand-written prose
can go stale.

Usage: scale_refresh.py <sf01.json> <sf10_batch.json> <sf10_stream.json> \
           <out.json> [prior_record.json]
The optional prior record supplies `prior_record_slopes` for structural
comparison (slopes are not digit-comparable across rounds — the driver
regenerates testdata). Dev tool only — not part of the shipped library.
"""
import datetime
import json
import os
import subprocess
import sys

sf01, sf10b, sf10s, out = sys.argv[1:5]
prior_path = sys.argv[5] if len(sys.argv) > 5 else None
a = json.load(open(sf01))
b = json.load(open(sf10b))
s = json.load(open(sf10s))

BATCH = ["q_fuzzy_join", "q_dedup_minhash", "q_dedup_ngram", "q_dedup_cluster"]
STREAM = ["q_dedup_minhash_streaming", "q_window_streaming_mk",
          "q_join_stream_stream"]


def leg(d, keys):
    return {
        "queries": {k: d["queries"][k] for k in keys if k in d.get("queries", {})},
        "counters": {k: v for k, v in d.get("counters", {}).items()},
        "calibration": d.get("calibration"),
        "load": d.get("load"),
        "contaminated": d.get("contaminated"),
    }


def mtime(path):
    try:
        return datetime.datetime.fromtimestamp(
            os.stat(path).st_mtime, datetime.timezone.utc).isoformat()
    except OSError:
        return None


def git(*args):
    try:
        return subprocess.check_output(
            ["git", "-C", "/root/repo"] + list(args), text=True).strip()
    except Exception:
        return None


round_tag = os.environ.get("GRAFT_ROUND", "unknown")
provenance = {
    "round": round_tag,
    "git_sha": git("rev-parse", "HEAD"),
    "git_describe": git("log", "-1", "--format=%h %cI %s"),
    "assembled_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
    "testdata_sf01_mtime": mtime("/root/testdata/sf0.1/events.parquet"),
    "scale_sf10_mtime": mtime("/root/repo/scale/sf10/events.parquet"),
    "legs": {"sf0.1": sf01, "sf10_batch": sf10b, "sf10_stream": sf10s},
}

ref = leg(a, BATCH + STREAM)
doc = {
    "note": (f"round-{round_tag} HEAD refresh of the 100x scale record: "
             "ScaleUp permutation generator (factor 100 of "
             "/root/testdata/sf0.1, clone-free), local[4] series "
             "conditions, measured against the code at the git SHA in "
             "`provenance` (stamped by scripts/scale_refresh.py at "
             "assembly time — hand-written HEAD claims went stale in the "
             "r18 artifact, VERDICT r18 #5). Streaming legs run with "
             "SPARK_DRIVER_MEM=48g (one-trigger replay holds the whole "
             "100x corpus's state in a single JVM; on a cluster the "
             "executors partition it — the slope is the signal)."),
    "provenance": provenance,
    "generator": "graft.tools.ScaleUp permutation, factor 100 of /root/testdata/sf0.1",
    "sf0.1": ref,
    "sf10_batch": leg(b, BATCH),
    "sf10_streaming": leg(s, STREAM),
}

slopes = {}
for k in BATCH:
    if k in ref["queries"] and k in doc["sf10_batch"]["queries"]:
        slopes[k] = round(doc["sf10_batch"]["queries"][k] / ref["queries"][k], 1)
for k in STREAM:
    if k in ref["queries"] and k in doc["sf10_streaming"]["queries"]:
        slopes[k] = round(doc["sf10_streaming"]["queries"][k] / ref["queries"][k], 1)
doc["slope_100x"] = slopes
# prior slopes for STRUCTURAL comparison only: the driver regenerates
# testdata between rounds, so slope numbers are not digit-comparable
# across rounds — the check is "every slope sub-linear (< 100) and in the
# same decade as last time", not equality
if prior_path:
    prior = json.load(open(prior_path))
    doc["prior_record_slopes"] = dict(prior.get("slope_100x", {}))
    doc["prior_record_slopes"]["_source"] = os.path.basename(prior_path)

with open(out, "w") as f:
    json.dump(doc, f, indent=1)
print(json.dumps(slopes, indent=1))
print(f"-> {out}")
