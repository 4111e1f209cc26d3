"""Shared pieces of the benchmark: metric maths, spans, the HTTP collector,
the Spark session the workloads share, and the result line.

Everything here runs in the benchmark's own processes; the engine is only
ever reached through its public functions.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = ROOT / "perfbench"
CACHE_DIR = BENCH_DIR / ".cache"
WORK_DIR = BENCH_DIR / ".work"
OUT_DIR = BENCH_DIR / ".out"

# samples a tail percentile must leave beyond it
TAIL_BEYOND = 10
# one run's measuring window in BENCHMARK.json ("run_seconds"); workloads
# whose sample count grows with the window size their tail percentile by it
RUN_SECONDS = 10

# end-to-end metrics every workload reports with --trace 0
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_s": ("s", "lower"),
    "latency_tail_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
}

# per-layer metrics every workload reports with --trace 1; a layer that does
# no work on a workload reports 0 there (NOTES.md has the layer map)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "fixtures.register_s": ("s", "lower"),
    "sources.archive_build_s": ("s", "lower"),
    "sources.scan_decode_s": ("s", "lower"),
    "sources.frames_decoded": ("count", "lower"),
    "sources.partitions": ("count", "lower"),
    "pixel.keyframes": ("count", "higher"),
    "pixel.detections": ("count", "higher"),
    "pixel.letterbox_detect_s": ("s", "lower"),
    "plans.record_s": ("s", "lower"),
    "plans.detect_s": ("s", "lower"),
    "plans.send_s": ("s", "lower"),
    "plans.spark_jobs": ("count", "lower"),
    "plans.spark_tasks": ("count", "lower"),
    "stream.batches": ("count", "higher"),
    "stream.rows_per_batch": ("count", "lower"),
    "stream.trigger_s": ("s", "lower"),
    "stream.add_batch_s": ("s", "lower"),
    "stream.planning_s": ("s", "lower"),
    "stream.offsets_s": ("s", "lower"),
    "stream.commit_s": ("s", "lower"),
    "stream.backlog_frames_max": ("count", "lower"),
    "stream.jobs_per_batch": ("count", "lower"),
    "stream.tasks_per_batch": ("count", "lower"),
    "generator.lag_max_s": ("s", "lower"),
    "sinks.record_call_s": ("s", "lower"),
    "sinks.send_call_s": ("s", "lower"),
    "sinks.posts": ("count", "higher"),
    "sinks.post_errors": ("count", "lower"),
    "sinks.posts_per_connection": ("ratio", "higher"),
    "sinks.useful_post_ratio": ("ratio", "higher"),
    "registry.build_s": ("s", "lower"),
    "registry.action_s": ("s", "lower"),
    "operators.uav_core_s": ("s", "lower"),
    "operators.relational_s": ("s", "lower"),
    "operators.events_ops_s": ("s", "lower"),
    "operators.dedup_s": ("s", "lower"),
    "operators.text_s": ("s", "lower"),
    "operators.similarity_s": ("s", "lower"),
    "spark.jobs_per_query": ("count", "lower"),
    "spark.tasks_per_query": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "replay.failed_ratio": ("ratio", "lower"),
    "live.on_time_ratio": ("ratio", "higher"),
    "live.failed_ratio": ("ratio", "lower"),
    "analyst.failed_ratio": ("ratio", "lower"),
    "tracing.overhead.latency_p50_s": ("s", "lower"),
    "tracing.overhead.latency_tail_s": ("s", "lower"),
    "tracing.overhead.throughput_per_s": ("1/s", "higher"),
}


# ---------------------------------------------------------------------------
# metric maths
# ---------------------------------------------------------------------------


def nearest_rank(values, pct: float) -> float:
    """The `pct`-th percentile by nearest rank: the smallest sample with at
    least pct% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Highest whole percentile whose nearest-rank sample leaves at least
    `beyond` samples above it; None when n is too small for any."""
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    while p > 0 and n - math.ceil(p * n / 100) < beyond:
        p -= 1
    return p or None


def tail_latency(values, pct: int) -> tuple[float, bool]:
    """(`pct`-th percentile, whether the sample count supports it under
    the ten-beyond rule)."""
    supported = (tail_percentile(len(values)) or 0) >= pct
    return nearest_rank(values, pct), supported


def capture_latencies(capture: dict, receipts: dict) -> dict:
    """Latency per delivered item: first receipt minus capture stamp.
    `capture` maps item → capture time, `receipts` maps item → list of
    receipt times (at-least-once delivery may repeat an item)."""
    return {
        k: min(receipts[k]) - t for k, t in capture.items() if receipts.get(k)
    }


def on_time_ratio(latencies: dict, generated: int, limit_s: float) -> float:
    """Items delivered within `limit_s` over items generated; an item never
    delivered counts as late."""
    if generated <= 0:
        raise ValueError("on-time ratio needs generated > 0")
    return sum(1 for v in latencies.values() if v <= limit_s) / generated


def failed_ratio(missing: int, errors: int, wrong: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("failed ratio needs attempted > 0")
    return (missing + errors + wrong) / attempted


def useful_post_ratio(distinct_items: int, posts: int) -> float:
    """Distinct items delivered per POST received (1.0 without resends)."""
    return distinct_items / posts if posts else 0.0


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end. Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "run_id": self.run_id, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            self.spans.append(rec)
            self._stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            with self._lock:
                self._stack.remove(rec["id"])

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span timed elsewhere (e.g. inside a foreachBatch call
        on the stream's thread), parented to no span."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append({
                "name": name, "run_id": self.run_id, "id": len(self.spans),
                "parent": None, "start": start, "end": end, **attrs,
            })

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# HTTP collector (the command centre the sender sink POSTs to)
# ---------------------------------------------------------------------------


class Collector:
    """Local HTTP endpoint recording every POST with its receipt time.
    Counts accepted connections and requests, so posts per connection is
    measured where the work happens."""

    def __init__(self):
        self.posts: list[tuple[float, dict]] = []
        self.connections = 0
        self._lock = threading.Lock()
        collector = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (http.server naming)
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                t = time.time()
                try:
                    doc = json.loads(body)
                except ValueError:
                    doc = {"unparsable": True}
                with collector._lock:
                    collector.posts.append((t, doc))
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):
                pass

        class Server(ThreadingHTTPServer):
            daemon_threads = True

            def process_request(self, request, client_address):
                with collector._lock:
                    collector.connections += 1
                super().process_request(request, client_address)

        self._server = Server(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}/"

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def snapshot(self) -> tuple[list, int]:
        with self._lock:
            return list(self.posts), self.connections


def parse_post(doc: dict) -> tuple[int, list] | None:
    """(frame_number, detections) from a sender-sink POST body."""
    try:
        meta = json.loads(doc["metadata"])
        return int(meta["frame_number"]), meta["detections"]
    except (KeyError, TypeError, ValueError):
        return None


def detections_key(dets) -> str:
    """Canonical form of a POSTed detection list, for multiset matching."""
    return json.dumps(
        [[d["class_name"], int(d["class_id"]), round(float(d["confidence"]), 4),
          [int(v) for v in d["box"]]] for d in dets]
    )


def expected_detections_key(boxes: list[dict]) -> str:
    """`detections_key` of StubDetector output as the sender sink formats it
    (confidence rounded to 4 places, box as [x_min, y_min, x_max, y_max])."""
    return detections_key([
        {"class_name": b["class_name"], "class_id": b["class_id"],
         "confidence": b["confidence"],
         "box": [b["x_min"], b["y_min"], b["x_max"], b["y_max"]]}
        for b in boxes
    ])


# ---------------------------------------------------------------------------
# environment and session
# ---------------------------------------------------------------------------


def cpu_count() -> int:
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return max(1, os.cpu_count() or 1)


class RunDir:
    """Per-run scratch directory inside the checkout, removed afterwards."""

    def __init__(self, tag: str):
        self.path = WORK_DIR / f"{tag}-{os.getpid()}-{uuid.uuid4().hex[:8]}"

    def __enter__(self) -> Path:
        self.path.mkdir(parents=True)
        return self.path

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)
        with contextlib.suppress(OSError):
            WORK_DIR.rmdir()  # only when no other run is using it


def prepare_env(run_dir: Path) -> None:
    """Environment the JVM and the Python workers inherit: the checkout on
    PYTHONPATH (workers import the engine and the benchmark's source
    wrapper), `local[nproc]`, and every temp/local dir inside the run."""
    tmp = run_dir / "tmp"
    tmp.mkdir()
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)


def start_session(run_dir: Path):
    """The engine's own session builder on local[nproc], shuffle partitions
    = nproc; only console/temp-dir settings are added."""
    from uav_streamprocessor_spark.session import get_spark

    n = cpu_count()
    tmp = run_dir / "tmp"
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # hsperfdata would land in /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError, ValueError):
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class JobCounter:
    """Spark job/stage/task counts for actions run under one job group,
    read from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._seq = 0

    def new_group(self, label: str) -> str:
        """A job-group name no earlier call returned."""
        self._seq += 1
        return f"{self._seq}.{label}"

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setJobGroup(None, None)  # type: ignore[arg-type]

    def counts(self, name: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(name)
        stages = tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


def complete_metrics(metrics: dict, trace: bool) -> dict:
    """The declared metric set for this mode: per-layer metrics a workload
    did not produce are 0 (its layer did no work); an undeclared name or a
    wrong unit is a bug in the benchmark."""
    declared = PER_LAYER if trace else END_TO_END
    for name, (_, unit) in metrics.items():
        if name not in declared or declared[name][0] != unit:
            raise ValueError(f"undeclared metric {name!r} [{unit}]")
    if not trace and set(metrics) != set(declared):
        raise ValueError(f"missing end-to-end metrics {set(declared) - set(metrics)}")
    return {name: metrics.get(name, (0.0, unit)) for name, (unit, _) in declared.items()}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
