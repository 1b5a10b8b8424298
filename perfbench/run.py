"""Benchmark of the identity-resolution engine on one host.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root; the engine package is imported from there.
Workloads (see ``workloads.py``):

- ``full_rebuild``: FULL runs into an empty warehouse over a transcripts
  corpus. A run takes ~90 s on 4 cores, so BENCHMARK.json leaves it out.
- ``incr_microbatch``: a base FULL in set-up, then INCR micro-batches that
  alternate new-entity and chained deltas.
- ``declared_queries``: the declared testdata queries plus one distributed
  star connected-components call.

Each run is one process and a closed loop with one client on
``local[<cpus>]``. It generates its inputs from ``--seed``, sets up, warms
up, measures for ``--seconds``, checks the outputs, and prints two JSON
lines: a detail record (host facts, the workload's named metrics with their
units, checks) and, last, the result::

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``op_p50_s``); with ``--trace 1`` the per-layer ones,
collected by wrapping layer entry points and reading Spark's status store.
Tracing overhead is the traced run's ``trace.op_p50_s`` less the untraced
run's ``op_p50_s``. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["full_rebuild", "incr_microbatch", "declared_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _metric(value, unit):
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "sql_identity_resolution_spark")):
        print("perfbench: run from the repository root (no sql_identity_resolution_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every scratch file of this process, Spark and its workers in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    # a local master talks only to itself: bind to loopback, so a host name
    # missing from /etc/hosts cannot stop the JVM from starting, and run the
    # Python workers on this interpreter
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    import harness
    import workloads

    # the generators take seeds in [0, 2**32) (numpy RandomState) and
    # derive per-batch seeds as seed * 1000 + i, so fold any --seed, negative
    # or 64-bit, into [0, 2**31); small seeds are kept as given
    ctx = workloads.Ctx(spark=None, seed=args.seed % 2**31, seconds=args.seconds,
                        trace=bool(args.trace), work=work)
    out = workloads.Outcome()
    facts = {}
    crashed = None
    t_start = time.perf_counter()
    try:
        with harness.RssSampler() as rss:
            workloads.WORKLOADS[args.workload](ctx, out)
        facts = harness.host_facts(ctx.spark, args.seed)
    except Exception as exc:  # report and fail the run; teardown still happens
        import traceback

        traceback.print_exc()
        crashed = repr(exc)
    finally:
        harness.shutdown(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if crashed is not None:
        print(f"perfbench: {args.workload} failed: {crashed}", file=sys.stderr)
        return 1

    out.detail["peak_rss_mb"] = (rss.peak_mb, "MB")
    n_checks = len(out.checks)
    failed_checks = sum(1 for _, ok, _ in out.checks if not ok)
    attempted = out.ops_attempted + n_checks
    failed = out.ops_failed + failed_checks
    out.detail["error_rate"] = (failed / attempted if attempted else 1.0, "ratio")
    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "wall_s": round(time.perf_counter() - t_start, 3),
        "host": facts,
        "sizes": workloads.SIZES,
        "ops": {"attempted": out.ops_attempted, "failed": out.ops_failed},
        "checks": {"attempted": n_checks, "failed": failed_checks,
                   "failures": [(n, d) for n, ok, d in out.checks if not ok]},
        "errors": out.errors,
        "end_to_end": {k: _metric(v, u) for k, (v, u) in out.e2e.items()},
        "metrics": {k: _metric(v, u) for k, (v, u) in out.detail.items()},
    }
    if args.trace:
        detail["per_layer"] = {k: _metric(v, u) for k, (v, u) in sorted(out.layers.items())}
    print(json.dumps({"perfbench_detail": detail}, default=str))
    metrics = out.layers if args.trace else out.e2e
    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: _metric(v, u) for k, (v, u) in sorted(metrics.items())},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
