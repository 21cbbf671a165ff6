"""Isolated per-query timing: best-of-N wall time, the best run's
construction time (the ``fn(spark, sf)`` call, before the noop write),
plus its job / stage / task counts (they attribute the FIXED latencies — job
launches, stage round-trips, broadcast builds — that dominate most
queries at sf0.1) for the named queries, or every one with ``--all``.
Reads $SPARK_GRAFT_SF_DIR (default sf0.1) and $SPARK_GRAFT_BENCH_RUNS
(default 3); bench.py's reclaim + warm-up protocol.

Usage: python tools/time_queries.py [--json] [--all] q1 q2 ...

``--json`` prints ONE JSON line: the targets PLUS the harness's
contention controls timed in the same session and their ratio against
this core count's floors, so a bar claim ("query X meets <=Ns") is
adjudicable from this one artifact (r7 verdict item #4).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    as_json = "--json" in args
    names = [a for a in args if a not in ("--json", "--all")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    import __spark_entry__ as entry_mod
    from lightcurvesclassifier_spark import harness

    qs = entry_mod.queries()
    if "--all" in args:
        names = list(qs)
    harness.check_names(names)
    spark = harness.open_session("lcc-spark-time", sf_dir)

    targets = {}
    for n in names:
        targets[n] = r = harness.best_of(spark, qs[n], sf_dir, runs)
        if not as_json:
            shape = f"jobs={r['jobs']} stages={r['stages']} tasks={r['tasks']}"
            print(
                f"{n}: best={r['best']:.3f} construct={r['construct']:.3f} "
                f"all={r['all']} {shape}",
                flush=True,
            )
    if as_json:
        controls = {
            n: {**harness.best_of(spark, qs[n], sf_dir, runs), "quiet_floor": fl}
            for n, fl in harness.control_floors().items()
            if n not in targets
        }
        ratio = harness.contention_ratio({n: c["best"] for n, c in controls.items()})
        print(json.dumps({"sf_dir": sf_dir, "runs": runs, "targets": targets,
                          "controls": controls, "contention_ratio": ratio}))
    spark.stop()


if __name__ == "__main__":
    main()
