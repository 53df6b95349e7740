#!/usr/bin/env python3
"""Assemble STREAMBENCH_r{N}.json from a recorded StreamBench JSON line.

Every numeric claim in the notes is COMPUTED from the result blocks
(this round's recording and the previous round's artifact), never
hand-typed. Round 12's `r11_continuity` note went stale exactly
because it was written by hand ("674 rows/s" while the result block
it annotated said 620 — the note predated a post-review re-record);
deriving the continuity line from the recorded JSON makes that
failure mode impossible by construction.

Usage:
  python3 tools/assemble_streambench.py <recorded.json> <prev_artifact.json|-> <round> [out]

<recorded.json>  the one-line JSON StreamBench prints
                 ({"stream_bench":{...},"scale":..,"docs":..})
<prev_artifact>  last round's STREAMBENCH_r{N-1}.json, or "-" for none
<round>          this round number (e.g. 13)

Driver-side tooling only — the Scala library never imports any of this.
"""
import json
import sys


def main():
    rec_path, prev_path, rnd = sys.argv[1], sys.argv[2], int(sys.argv[3])
    out = sys.argv[4] if len(sys.argv) > 4 else f"STREAMBENCH_r{rnd}.json"
    result = json.load(open(rec_path))
    cur = result["stream_bench"]

    continuity = {}
    if prev_path != "-":
        prev_doc = json.load(open(prev_path))
        prev = prev_doc.get("result", prev_doc).get("stream_bench", {})
        for name, blk in cur.items():
            if name in prev and "rows_per_sec" in prev[name]:
                continuity[name] = (
                    f"rows_per_sec {prev[name]['rows_per_sec']} -> "
                    f"{blk['rows_per_sec']}; state_rows_max "
                    f"{prev[name].get('state_rows_max', '?')} -> "
                    f"{blk.get('state_rows_max', '?')}")
        continuity["_source"] = (
            f"computed from {prev_path} and {rec_path} result blocks by "
            "tools/assemble_streambench.py - not hand-written")

    evict = {}
    if "minhash_near_dup" in cur and "minhash_near_dup_evict_tws" in cur:
        base, ev = cur["minhash_near_dup"], cur["minhash_near_dup_evict_tws"]
        ratio = base["rows_per_sec"] / max(1, ev["rows_per_sec"])
        evict = {
            "capped_rows_per_sec": base["rows_per_sec"],
            "evicting_rows_per_sec": ev["rows_per_sec"],
            "overhead_x": round(ratio, 2),
            # counts only — equal flag COUNTS, not verified-identical
            # flag sets (the bench does not retain per-flag output)
            "flag_count_equal": base["rows_out"] == ev["rows_out"],
            "state_rows_max": f"{base['state_rows_max']} -> {ev['state_rows_max']}",
            "state_mb_max": f"{base['state_mb_max']} -> {ev['state_mb_max']}",
        }

    doc = {
        "what": (f"r{rnd} streaming throughput/state report: stateful "
                 "streaming surfaces on a MemoryStream fed the ScaleUp "
                 "document corpus. All numeric notes below are derived "
                 "from the result blocks by tools/assemble_streambench.py."),
        "command": "sbt \"runMain graft.StreamBench /root/testdata/sf0.1 10 25\"",
        "result": result,
        "continuity_vs_prev_round": continuity,
        "evicting_vs_capped": evict,
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(f"wrote {out}")
    if evict:
        print(f"evicting overhead: {evict['overhead_x']}x "
              f"(flag_count_equal={evict['flag_count_equal']})")


if __name__ == "__main__":
    main()
