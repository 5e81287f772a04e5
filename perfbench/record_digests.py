"""Record the ``landing_deep`` report digest of every measured corpus.

    python3 perfbench/record_digests.py

Runs one untraced pass per corpus (seeds 0 to ``landing.CORPORA`` - 1) in a
single session and stores the digests in ``perfbench/digests.json``, which
``run.py`` compares every pass against. Re-record only after an intended
change to the report's content, and review the change like any other golden.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402


def main() -> int:
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    run._environment(work)

    from presto_workload_analyzer_spark.session import get_spark

    from landing import CORPORA, DIGESTS, LandingWorkload
    from spans import Tracer

    digests = {}
    spark = get_spark(app_name="perfbench-record", extra_conf={"spark.ui.showConsoleProgress": "false"})
    tracer = Tracer(spark, enabled=False)
    try:
        for seed in range(CORPORA):
            wl = LandingWorkload(seed, os.path.join(work, str(seed)))
            wl.expected_digest = None
            p = wl.run_pass(spark, tracer, traced=False)
            # every other check still applies; the digest is what is being recorded
            problems = [x for x in p.problems if "no report digest recorded" not in x]
            if problems:
                print(f"corpus {seed}: not recorded, checks failed: {problems}", file=sys.stderr)
                return 1
            (digests[str(seed)],) = wl.seen_digests
            print(f"corpus {seed}: {digests[str(seed)]}", flush=True)
            shutil.rmtree(wl.work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(DIGESTS, "w") as f:
        json.dump(digests, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
