#!/usr/bin/env python3
"""Writes perfbench/workloads.json from query probes (perfbench.Record
output), one probe per shuffle-partition count:

    python3 perfbench/pick_queries.py probe4.json probe3.json

A registered query is eligible when, in every probe, it ran without error,
its cold and warm results had the same digest, the digest was the same at
every partition count, and it wrote nothing outside the checkout. The
`board` workload takes every k-th eligible batch query in name order,
starting from the (k/2+1)-th, with the smallest k whose summed warm time
(fastest probe) fits BATCH_PASS_S, plus the eligible streaming-harness
query with the lowest warm time. The budget keeps a run, three cold
set-up passes included, short enough.
"""
import json
import os
import sys

BATCH_PASS_S = 1.4
RAG = {"documents": 300, "questions": 32}


def main(paths):
    probes = [json.load(open(p)) for p in paths]
    names = sorted(probes[0])
    eligible, excluded = {}, {}
    for n in names:
        # a later probe may cover only the queries the first one found eligible
        runs = [p[n] for p in probes if n in p]
        if any("error" in r for r in runs):
            excluded[n] = "throws: " + next(r["error"] for r in runs if "error" in r)[:160]
        elif any(r["outside_writes"] for r in runs):
            first = next(r["outside_writes"][0] for r in runs if r["outside_writes"])
            excluded[n] = "writes outside the checkout, e.g. " + os.path.basename(first)
        elif any(r["digest"] != r["cold_digest"] for r in runs):
            excluded[n] = "cold and warm results differ"
        elif len({r["digest"] for r in runs}) > 1:
            excluded[n] = "result depends on the shuffle partition count"
        else:
            eligible[n] = runs[0]
    warm = {n: min(p[n]["warm_s"] for p in probes if n in p) for n in eligible}
    batch = [n for n in eligible if not eligible[n]["streaming"]]
    k = 1
    while sum(warm[n] for n in batch[k // 2::k]) > BATCH_PASS_S:
        k += 1
    streaming = min((n for n in eligible if eligible[n]["streaming"]), key=warm.get)
    board = {n: eligible[n]["digest"] for n in batch[k // 2::k] + [streaming]}
    rules = [f"batch: name-order positions {k // 2 + 1} + i*{k} of {len(batch)} eligible "
             f"(summed probe warm time <= {BATCH_PASS_S} s)",
             "streaming: the eligible streaming-harness query with the lowest warm time"]
    out = {"board": {"rule": "; ".join(rules), "queries": board},
           "rag_ingest": RAG, "excluded": excluded}
    with open("perfbench/workloads.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"board: {out['board']['rule']}: {sorted(board)}", file=sys.stderr)
    print(f"excluded {len(excluded)}", file=sys.stderr)


if __name__ == "__main__":
    main(sys.argv[1:])
