#!/usr/bin/env python3
"""Regenerates perfbench/workloads.json, the rule-based query samples.

Usage: python3 perfbench/sample.py LIST_FILE LLM_TRACE

LIST_FILE holds one `name module` line per query, as written by
`perfbench.Harness --list`. LLM_TRACE holds the harness records of one traced
pass over the whole llm_index family. From it the shared indexes are read: a
shared index is a persisted RDD that is still held after the query that built
it released its own frames, and its consumers are the queries whose Spark jobs
read it.

The rule, per workload: sort the family's query names, take every STRIDE-th
name starting with the first. For llm_index, then add, for every shared index
that a taken query consumes, its other consumers in name order until two of
them are in the sample, so the first-consumer build and a later reuse both
run in every pass.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

FAMILIES = {
    "ts_etl": lambda name, module: module in {
        "Aggregations", "TimeSeries", "Windows", "Joins", "SqlText", "TpchSuite",
        "FilterProject", "SetOps", "Scans"} and not name.startswith("sink_"),
    "llm_index": lambda name, module: module in {"Similarity", "Dedup", "Graphs"} or (
        module == "Pipeline" and name.startswith(("emb_", "pipeline_"))),
    "stream_write": lambda name, module: module == "StreamingQueries" or (
        module == "Scans" and name.startswith("sink_")),
}
# Sized so that set-up, a first pass, a warm-up pass and three timed passes
# take about 60 s on 4 cores, a run's whole budget.
STRIDE = {"ts_etl": 90, "llm_index": 48, "stream_write": 21}
WHY = {
    "ts_etl": "read-only time-series and relational ETL that shares no state "
              "between queries: the build, plan and exec floors of short Spark jobs",
    "llm_index": "LLM-data and graph queries whose shared indexes are built by a "
                 "first consumer and reused by later ones: the cache layer",
    "stream_write": "streaming replays and batch sinks: checkpoint WAL, state-store "
                    "commits and reading back files just written",
}


def shared_indexes(records):
    """{rdd id: sorted consumer names} for every persisted RDD that outlived
    its builder's release and was read by at least two queries."""
    queries = sorted((r for r in records if r["k"] == "q"), key=lambda r: r["attempt"])
    names = {str(q["attempt"]): q["name"] for q in queries}
    held, builder = set(), {}
    for q in queries:
        for rdd in set(q["rdd_ids"]) - held:
            builder[rdd] = q["name"]
        held = set(q["rdd_ids"])
    consumers = {rdd: {b} for rdd, b in builder.items()}
    for j in (r for r in records if r["k"] == "job" and r["attempt"] in names):
        for rdd in j["cached_rdds"]:
            if rdd in consumers:
                consumers[rdd].add(names[j["attempt"]])
    return {rdd: sorted(c) for rdd, c in consumers.items() if len(c) >= 2}


def sample(family, stride, indexes):
    picked = set(family[::stride])
    for consumers in indexes.values():
        if picked & set(consumers):
            for name in consumers:
                if len(picked & set(consumers)) >= 2:
                    break
                picked.add(name)
    return sorted(picked)


def main(argv):
    if len(argv) != 2:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        modules = dict(line.split() for line in f if line.strip())
    with open(argv[1]) as f:
        indexes = shared_indexes([json.loads(l) for l in f if l.strip()])
    out = {}
    for w, member in FAMILIES.items():
        family = sorted(n for n, m in modules.items() if member(n, m))
        idx = indexes if w == "llm_index" else {}
        queries = sample(family, STRIDE[w], idx)
        out[w] = {"why": WHY[w], "family_size": len(family), "stride": STRIDE[w],
                  "queries": queries,
                  "modules": sorted({modules[n] for n in queries})}
        if idx:
            out[w]["shared_indexes"] = sorted(
                c for c in idx.values() if set(c) & set(queries))
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    for w, v in out.items():
        print(f"{w}: {len(v['queries'])} of {v['family_size']}: {' '.join(v['queries'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
