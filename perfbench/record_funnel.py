#!/usr/bin/env python3
"""Record the curation funnel's expected ``stage_counts``.

    python3 perfbench/record_funnel.py

Runs ``CurationPipeline`` once for every seed-derived input choice
(media residue class x eval-slice residue) on the fixture tables of the
measured and the tiny scale, and writes the survivor counts to
``funnel_expected.json``. The ``curation_queries`` workload's output
check compares each iteration's ``stage_counts`` with the entry for its
seed, so re-record only on purpose: when the fixtures or the funnel's
semantics change.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys

import run


def main() -> int:
    sys.path.insert(0, run.ROOT)
    os.environ["PYTHONPATH"] = run.ROOT
    from tracing import Tracer
    from workloads import FUNNEL_EXPECTED, WORKLOADS, fixture_dir

    funnel = WORKLOADS["curation_queries"].parts["curation_funnel"]
    work = os.path.join(run.ROOT, ".perfbench_work", "record_funnel")
    shutil.rmtree(work, ignore_errors=True)
    run.keep_scratch_inside(work)
    spark = run.start_session(None)
    pid = run.jvm_pid(spark)
    recorded = {}
    try:
        for sf in (funnel.tiny_sf, funnel.sf):
            # seeds 0..9 cover every (media, eval) residue pair once
            for seed in range(10):
                media_r, eval_r = funnel.residues(seed)
                inputs = funnel.prepare(spark, fixture_dir(sf), sf, seed)
                result = funnel.run(spark, inputs, work, Tracer(spark=spark))
                counts = dict(result["stage_counts"])
                errs = funnel.check(spark, {"stage_counts": counts}, result, work)
                if errs:
                    print(f"sf{sf} seed {seed}: {errs}", file=sys.stderr)
                    return 1
                recorded[f"{sf}:{media_r}:{eval_r}"] = counts
                print(f"sf{sf} media {media_r} eval {eval_r}: {counts}", flush=True)
    finally:
        run.shutdown_jvm(pid)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    with open(FUNNEL_EXPECTED, "w") as fh:
        json.dump(recorded, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
