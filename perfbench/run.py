"""Benchmark runner.

    python3 perfbench/run.py --workload flight_replay --seed 1 --seconds 20 --trace 0

Runs one workload against the engine in this checkout and prints, as the
last line of stdout, one JSON object: `correct`, `attempted`, `failed` and
`metrics` (every end-to-end metric with --trace 0, every per-layer metric
with --trace 1). Lines before it are a human-readable report. Exits 1 on
a wrong result, 2 when the engine is not importable.

    python3 perfbench/run.py --calibrate-live

steps the live feed's camera count instead (see live_feed.calibrate).
"""

from __future__ import annotations

import argparse
import signal
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

WORKLOADS = ("flight_replay", "live_feed", "analyst_mix")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--calibrate-live", action="store_true",
                   help="find the live feed's highest sustainable camera count")
    args = p.parse_args(argv)
    if not args.calibrate_live and args.workload is None:
        p.error("--workload is required")
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path(__file__).resolve().parent.parent
    try:
        import uav_streamprocessor_spark
    except ImportError as exc:
        print(f"engine not importable from this checkout: {exc}", file=sys.stderr)
        return 2
    if Path(uav_streamprocessor_spark.__file__).resolve().parent.parent != root:
        print("engine imported from outside this checkout", file=sys.stderr)
        return 2

    import importlib
    import json
    import uuid

    from perfbench import common

    if args.calibrate_live:
        from perfbench import live_feed

        print(json.dumps(live_feed.calibrate(args.seed)))
        return 0

    # a terminated run still stops Spark, the generator and its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = uuid.uuid4().hex[:12]
    tracer = common.Tracer(run_id, enabled=bool(args.trace))
    module = importlib.import_module(f"perfbench.{args.workload}")
    with common.RunDir(args.workload) as run_dir:
        common.prepare_env(run_dir)
        correct, attempted, failed, metrics, notes = module.run(args, tracer, run_dir)
    metrics = common.complete_metrics(metrics, bool(args.trace))
    for line in notes:
        print(line)
    if args.trace:
        spans = common.OUT_DIR / f"spans-{args.workload}-seed{args.seed}-{run_id}.jsonl"
        tracer.write(spans)
        print(f"spans: {spans.relative_to(common.ROOT)} ({len(tracer.spans)} spans)")
    print(common.result_line(correct, attempted, failed, metrics), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
