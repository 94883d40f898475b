"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_index --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Prints human-readable lines, then as the
last stdout line one JSON object {correct, attempted, failed, metrics}:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits non-zero without a result line if the engine is not importable.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

SETUP_ROUNDS = 3
DRIVER_MEM = "1g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["bulk_index", "micro_ingest"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "engine", "__init__.py")):
        print("perfbench: no engine package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, "perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # tempfile users in the driver, the JVM launcher and the Python workers
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # engine.session.get_spark's heap knob: a fixed, small driver heap
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str) -> int:
    from perfbench.harness import Calls, Ops, RssSampler, Tracer, speed_probe
    from perfbench.report import end_to_end, per_layer, print_details, print_result
    from perfbench.bulk_index import BulkIndex
    from perfbench.micro_ingest import MicroIngest
    from perfbench.session import set_up

    trace = bool(args.trace)
    wl = {"bulk_index": BulkIndex, "micro_ingest": MicroIngest}[args.workload](work, args.seed)
    rss = RssSampler().start()
    spark, setup_times = set_up(work, trace, wl.prepare, SETUP_ROUNDS)
    tracer = Tracer(trace)
    calls = Calls(spark, tracer, account=trace)
    ops = Ops(calls)
    probe = [speed_probe()]
    t0 = time.time()
    with tracer.span("timed_loop", "client"):
        out = wl.run(spark, calls, args.seconds, ops)
    t1 = time.time()
    probe.append(speed_probe())
    peak_mb = rss.stop()
    n_run = len(calls.records)
    extra: dict = {}
    suite = None
    if trace:
        from perfbench.driver_suite import DriverSuite
        from perfbench.layers import replay_build, replay_queries

        with tracer.span("replay", "client"):
            extra.update(replay_queries(wl, ops))
            wl.replay_updates(spark, ops)
            extra.update(replay_build(wl, spark, ops, wl.replay_docs))
        suite = DriverSuite(root, wl.driver_entries)
        with tracer.span("driver_entries", "client"):
            extra.update(suite.run(spark, ops))
    t2 = time.time()
    errors: list[str] = []
    wl.check(spark, errors)
    if suite is not None:
        suite.check(errors)
    ops.wrong(len(errors))
    for e in errors:
        print(f"# WRONG {e}")
    print_details(wl, out, setup_times, ops, calls)
    print(f"# phases s: set-up {sum(setup_times):.1f}, timed loop {t1 - t0:.1f}, "
          f"traced extras {t2 - t1:.1f}, checks {time.time() - t2:.1f}")
    print(f"# speed probe before/after the timed loop: "
          f"{probe[0]:.1f} / {probe[1]:.1f} M loop steps/s")
    if trace:
        from perfbench.layers import eventlog_split, print_top_stages

        extra.update(eventlog_split(work, (t0, t1), tracer.spans))
        print_top_stages(work)
        metrics = per_layer(wl, calls, ops, n_run, out, extra)
        keep = os.path.join(root, "perfbench", "work", f"spans-{args.workload}.json")
        tracer.write(keep)
        print(f"# spans written to {os.path.relpath(keep, root)}")
    else:
        metrics = end_to_end(wl, out, setup_times, peak_mb)
    _stop_spark(spark)
    print_result(not errors and ops.failed == 0, ops, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
