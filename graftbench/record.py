#!/usr/bin/env python3
"""Record golden.json: every gate's row count and output digest.

    python3 graftbench/record.py [CORRECTNESS_SF01.json]

Runs every gate of `SparkEntry.queries` twice in separate JVMs (serial in
name order, then on four clients in reverse order), each JVM doing a cold
and a warm pass, so each gate is digested four times. A gate whose digests
disagree is marked `"deterministic": false`: the benchmark still runs it
and checks its row count, and reports it by name instead of failing it.
Row counts must equal `spark_rows` of the oracle-verified correctness file
when one is given. Run it only on a commit whose oracle check is green; the
benchmark treats its output as ground truth.
"""
import json
import os
import shutil
import sys
import time

import run

# every memo accessor, so that no gate builds a memo inside the gate phase
ALL_MEMOS = ["tours", "triplegsOverlap", "staypointsWithLocation", "minhashPairs", "scoredDocs",
             "classifierWeights4", "bpeTokenCounts", "dsirWeights", "imagePhash", "pqModel",
             "kmeansModel", "annBruteTop5", "annIvfTop5", "colocationMeetings", "colocationPairs",
             "contactGraph", "louvainLabels"]


def main():
    root = os.getcwd()
    oracle = json.load(open(sys.argv[1])) if len(sys.argv) > 1 else {}
    classes = run.build(root)
    runner = run.Runner(root, classes, "record-list", time.time() + 600)
    _, listed = runner.jvm({"mode": "list", "trace": 0})
    shutil.rmtree(runner.dir, ignore_errors=True)
    names = sorted(listed["gates"])
    results = []
    for i, (clients, order) in enumerate(((1, names), (4, names[::-1]))):
        runner = run.Runner(root, classes, f"record-{i}", time.time() + 3600)
        _, r = runner.jvm({"mode": "run", "trace": 0, "clients": clients,
                           "memos": ",".join(ALL_MEMOS), "gates": ",".join(order)})
        results.append(r)
        shutil.rmtree(runner.dir, ignore_errors=True)
    gates = {}
    for r in results:
        for p in r["passes"]:
            for g in p["gates"]:
                if g["error"]:
                    sys.exit(f"{g['name']} failed: {g['error']}")
                e = gates.setdefault(g["name"], {"rows": g["rows"], "hashes": set()})
                if e["rows"] != g["rows"]:
                    sys.exit(f"{g['name']}: row count differs between runs")
                e["hashes"].add(g["hash"])
    for name, e in gates.items():
        want = oracle.get(name, {}).get("spark_rows")
        if want is not None and want != e["rows"]:
            sys.exit(f"{name}: {e['rows']} rows, oracle-verified {want}")
        hashes = sorted(e.pop("hashes"))
        e.update(hash=hashes[0], deterministic=len(hashes) == 1)
    out = {"sf": "sf0.1", "gates": dict(sorted(gates.items()))}
    with open(os.path.join(run.BENCH, "golden.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    nondet = [n for n, g in gates.items() if not g["deterministic"]]
    print(f"recorded {len(gates)} gates; nondeterministic: {nondet}")


if __name__ == "__main__":
    main()
