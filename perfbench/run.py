"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload against the engine in this checkout, prints a
human-readable report (one ``perfbench:`` line per metric, with its
unit) and, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

BENCHMARK_JSON = os.path.join(harness.ROOT, "BENCHMARK.json")
DEADLINE_S = 170  # a run must end within 180 s; give up, clean up and fail before


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def declared_metrics() -> tuple[list[dict], list[dict]]:
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"perfbench: engine package {harness.PACKAGE} not found", file=sys.stderr)
        return 2
    end_to_end, per_layer = declared_metrics()

    sys.path.insert(0, harness.ROOT)
    import workloads  # imports pyspark and the engine

    fn = workloads.WORKLOADS.get(args.workload)
    if fn is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import datagen

    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    work = harness.Workdir(args.workload, args.seed)
    try:
        harness.configure_environment(work)
        data_dir = work.sub("data")
        datagen.write_tables(data_dir, args.seed)
        harness.log("inputs written")
        ctx = workloads.Context(
            work=work,
            data_dir=data_dir,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            tracer=workloads.Tracer(bool(args.trace)),
        )
        res = fn(ctx)
        harness.log("workload done")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        harness.stop_jvm()
        work.close()
        harness.log("work dir removed")

    if not res.valid:
        print(f"perfbench: invalid run, not reported: {res.notes.get('invalid')}", file=sys.stderr)
        return 3
    failed_ratio = res.failed / res.attempted if res.attempted else 1.0
    res.layer("failed_ratio", failed_ratio, "ratio")
    wanted = per_layer if args.trace else end_to_end
    source = res.layers if args.trace else res.metrics
    metrics = {}
    for m in wanted:
        value, _ = source.get(m["name"], (0.0, m["unit"]))
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    undeclared = sorted(set(source) - {m["name"] for m in wanted})
    if undeclared:
        print(f"perfbench: measured but not declared in BENCHMARK.json: {undeclared}", file=sys.stderr)
    stem = os.path.join(
        work.results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    record = {
        "provenance": ctx.provenance,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**res.metrics, **res.layers}.items()},
        **res.notes,
    }
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        ctx.tracer.dump(stem + ".trace.json", {"provenance": ctx.provenance})
    for name, (value, unit) in sorted({**res.metrics, **res.layers}.items()):
        if name != "failed_ratio":
            print(f"perfbench: {args.workload} {name} = {value:.6g} {unit}")
    print(f"perfbench: {args.workload} failed_ratio = {failed_ratio:.6g} ({res.failed}/{res.attempted})")
    print(f"perfbench: record {os.path.relpath(stem, harness.ROOT)}.json")
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
