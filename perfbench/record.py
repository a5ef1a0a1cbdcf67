"""Record HEAD's inputs and output totals for the benchmark's workloads.

    python3 perfbench/record.py

For every workload in BENCHMARK.json and every seed in SEEDS, generates the
workload's inputs, computes the in-process reference (`oracle.py`) and
writes the input digest and the output totals (rows, error rows, the
order-independent output digest and, for dedup_graph, the LSH pair count)
to perfbench/record.json.  A timed or traced run on a recorded seed checks
every action against these totals, so a change to the program that alters
its output fails the check even though the in-process reference, computed
by the changed program, would agree with it.

Re-record only in a change that means to alter the output (or the corpus
builders), and say so in that change.
"""

from __future__ import annotations

import json
import os
import sys

import run

SEEDS = range(0, 64)


def main() -> int:
    run.prepare_environment()
    import workloads

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    record = {"seeds": [SEEDS.start, SEEDS.stop - 1], "workloads": {}}
    spark = None
    try:
        spark = run.start_session()
        for name in names:
            wl = workloads.WORKLOADS[name]
            record["workloads"][name] = {}
            for seed in SEEDS:
                cache, inputs = run.load_inputs(spark, name, seed)
                ref = wl.reference(spark, inputs, run.cores())
                totals = {k: ref[k] for k in ("rows", "errors", "digest", "pairs") if k in ref}
                record["workloads"][name][str(seed)] = {"input": cache.input_digest, **totals}
                run.log(f"{name} seed {seed}: {totals['rows']} rows, {totals['errors']} errors")
    finally:
        run.shutdown(spark)
    with open(run.RECORD, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
