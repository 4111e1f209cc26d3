"""live_feed: open-loop camera feed through the streaming UAV pipeline.

A generator process (live_generator) writes one raw-tensor frames parquet
file per tick into a watched directory and runs the collector. The engine
runs the streaming pipeline from public pieces: `readStream.parquet`, then
`recorder_rows_stream` → `OrderedRecorderSink` and `sender_payloads` →
`HttpSenderSink`, with keyframe interval 5 so keyframes are dense.
"""

from __future__ import annotations

import collections
import json
import queue
import subprocess
import sys
import threading
import time
from pathlib import Path

from perfbench import common

CAMERAS = 4
FPS = 10.0
WIDTH, HEIGHT = 320, 180
KEYFRAME_INTERVAL = 5
WARM_FRAMES = KEYFRAME_INTERVAL  # one keyframe per camera in the warm batch
WARMUP_S = 8.0  # scheduled frames before this are not sampled
LATENCY_LIMIT_S = 5.0  # on-time limit for a keyframe's POST
# keyframes captured in a standard window; the tail percentile is the
# highest one that leaves ten of them beyond it (shorter windows say so)
WINDOW_KEYFRAMES = int(CAMERAS * FPS * common.RUN_SECONDS) // KEYFRAME_INTERVAL
TAIL_PCT = common.tail_percentile(WINDOW_KEYFRAMES)
GENERATOR_LAG_LIMIT_S = 0.5  # a run whose generator ran later is invalid
DRAIN_S = 60.0
# both queries fire on one fixed clock, as a deployment runs them; against
# back-to-back batches it narrowed the spread of p50 over runs (NOTES.md)
TRIGGER_S = 2.0
TRIGGER = f"{TRIGGER_S:g} seconds"
FRAME_DDL = ("camera_id string, frame_number bigint, width int, height int, "
             "fps double, image binary")


class Generator:
    """The generator subprocess and its line protocol."""

    def __init__(self, run_dir: Path, seed: int, cameras: int, frames: int):
        self.watch = run_dir / "feed"
        self.results = run_dir / "generator.json"
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.live_generator",
             "--watch", str(self.watch), "--results", str(self.results),
             "--cameras", str(cameras), "--fps", str(FPS),
             "--width", str(WIDTH), "--height", str(HEIGHT),
             "--seed", str(seed), "--warm-frames", str(WARM_FRAMES),
             "--frames", str(frames)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=str(common.ROOT),
        )
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self):
        for line in self.proc.stdout:
            self._lines.put(line.strip())
        self._lines.put(None)

    def expect(self, word: str, timeout: float) -> str:
        try:
            line = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"generator sent no {word!r} in {timeout} s") from None
        if line is None or not line.startswith(word):
            raise RuntimeError(f"generator: expected {word!r}, got {line!r}")
        return line

    def send(self, word: str) -> None:
        self.proc.stdin.write(word + "\n")
        self.proc.stdin.flush()

    def finish(self) -> dict:
        self.send("STOP")
        self.proc.wait(timeout=60)
        self._reader.join(timeout=10)
        if self.proc.returncode != 0:
            raise RuntimeError(f"generator exited {self.proc.returncode}")
        return json.loads(self.results.read_text())

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait(timeout=30)


def expected_keys(seed: int, cameras: int, frame_numbers, cfg) -> dict:
    """(camera, frame) → detections key the sender must POST, from the
    detector run directly on the generator's pixels."""
    from perfbench.live_generator import render_frame
    from uav_streamprocessor_spark.operators.pixel import StubDetector, letterbox_array

    det = StubDetector(cfg.confidence, cfg.classes)
    return {
        (c, i): common.expected_detections_key(det.detect(letterbox_array(
            render_frame(seed, c, i, WIDTH, HEIGHT), cfg.target_resolution)))
        for i in frame_numbers if i % cfg.keyframe_interval == 0
        for c in range(cameras)
    }


def match_posts(posts: list, expected: dict) -> tuple[dict, int]:
    """Assign POSTs to (camera, frame) keyframes. POSTs carry frame_number
    and detections but no camera: cameras whose keyframe has the same
    detections are interchangeable, so receipts of one (frame, detections)
    pair go to those cameras in receipt order. Returns ({keyframe: [receipt
    times]}, POSTs matching no expected keyframe)."""
    slots = collections.defaultdict(list)
    for (c, i), key in sorted(expected.items()):
        slots[(i, key)].append((c, i))
    receipts = collections.defaultdict(list)
    seen = collections.Counter()
    unexpected = 0
    for t, doc in sorted(posts, key=lambda p: p[0]):
        parsed = common.parse_post(doc)
        k = parsed and (parsed[0], common.detections_key(parsed[1]))
        if not k or k not in slots:
            unexpected += 1
            continue
        owners = slots[k]
        receipts[owners[seen[k] % len(owners)]].append(t)
        seen[k] += 1
    return receipts, unexpected


def recorded_frames(rec_dir: Path) -> dict:
    frames = collections.defaultdict(set)
    for p in rec_dir.glob("*.b*.jsonl"):
        cam = p.name.split(".b")[0]
        for line in p.read_text().splitlines():
            frames[cam].add(json.loads(line)["frame_number"])
    return frames


def progress_rows(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _drain(queries, timeout: float) -> bool:
    done = []

    def work():
        for q in queries:
            q.processAllAvailable()
        done.append(True)

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(timeout)
    return bool(done)


def run_feed(spark, run_dir: Path, seed: int, cameras: int, windows: list[float],
             tracer, wrap: bool) -> dict:
    """Start the generator and both queries, run the warm batch, then the
    schedule: WARMUP_S unsampled, then each window in turn. Returns raw
    timings for the caller to turn into metrics."""
    from uav_streamprocessor_spark.config import PipelineConfig
    from uav_streamprocessor_spark.plans.pipeline import sender_payloads
    from uav_streamprocessor_spark.streaming.sinks import (
        HttpSenderSink,
        OrderedRecorderSink,
    )
    from uav_streamprocessor_spark.streaming.uav_pipeline import recorder_rows_stream

    from perfbench import tracing

    cfg = PipelineConfig(keyframe_interval=KEYFRAME_INTERVAL)
    n_sched = int(round(FPS * (WARMUP_S + sum(windows))))
    t_setup = time.perf_counter()
    gen = Generator(run_dir, seed, cameras, n_sched)
    queries = []
    try:
        port = int(gen.expect("PORT", 60).split()[1])
        gen.expect("WARM", 60)
        recorder = OrderedRecorderSink(str(run_dir / "recorded"), cfg)
        sender = HttpSenderSink(f"http://127.0.0.1:{port}/", cfg)
        rec_fn, send_fn = recorder, sender
        if wrap:
            rec_fn = tracing.wrap_batch_callable(recorder, tracer, "sinks.record_call")
            send_fn = tracing.wrap_batch_callable(sender, tracer, "sinks.send_call")
        frames = spark.readStream.schema(FRAME_DDL).parquet(str(gen.watch))
        with tracer.span("stream.start"):
            queries.append(
                recorder_rows_stream(frames, cfg).writeStream.foreachBatch(rec_fn)
                .trigger(processingTime=TRIGGER)
                .option("checkpointLocation", str(run_dir / "ckpt-record")).start())
            queries.append(
                sender_payloads(frames, cfg).writeStream.foreachBatch(send_fn)
                .trigger(processingTime=TRIGGER)
                .option("checkpointLocation", str(run_dir / "ckpt-send")).start())
        with tracer.span("stream.warm"):
            if not _drain(queries, DRAIN_S * 3):
                raise RuntimeError("warm batch did not finish")
        setup_s = time.perf_counter() - t_setup
        tracer_was = tracer.enabled
        tracer.enabled = False  # the first window is untraced
        gen.send("GO")
        schedule_s = n_sched / FPS
        # flip tracing on at the start of the last window when there are two
        if len(windows) > 1:
            time.sleep(WARMUP_S + windows[0] + 0.2)
            tracer.enabled = tracer_was
        gen.expect("SCHEDULED", schedule_s + 60)
        drained = _drain(queries, DRAIN_S)
        progress = {"record": progress_rows(queries[0]), "send": progress_rows(queries[1])}
        run_ids = [str(q.runId) for q in queries]
        for q in queries:
            q.stop()
        queries = []
        result = gen.finish()
    finally:
        for q in queries:
            q.stop()
        gen.kill()
    result.update(
        setup_s=setup_s, drained=drained, progress=progress, run_ids=run_ids,
        cfg=cfg, cameras=cameras, n_sched=n_sched, sent=sender.sent,
        errors=sender.errors, recorded=recorded_frames(run_dir / "recorded"),
    )
    return result


def window_metrics(res: dict, expected: dict, receipts: dict, start: float,
                   seconds: float) -> dict:
    """End-to-end metrics over keyframes captured in [start, start+seconds)
    after t0."""
    t0 = res["t0"]
    capture = {(c, int(i)): t for i, t in res["capture"].items()
               for c in range(res["cameras"]) if (c, int(i)) in expected
               and start <= t - t0 < start + seconds}
    lat = common.capture_latencies(capture, receipts)
    # nothing delivered (an incorrect run): censor at the longest wait
    values = list(lat.values()) or [DRAIN_S]
    tail, ok = common.tail_latency(values, TAIL_PCT)
    # delivery rate from the window's first capture to its last delivery:
    # equals the offered rate only while no backlog is left at the end
    last = max((min(receipts[k]) for k in lat), default=t0 + start + seconds)
    return {
        "latency_p50_s": common.median(values),
        "latency_tail_s": tail,
        "throughput_per_s": len(lat) / (last - (t0 + start)),
        "_generated": len(capture),
        "_delivered": len(lat),
        "_on_time": common.on_time_ratio(lat, max(len(capture), 1), LATENCY_LIMIT_S),
        "_tail_ok": ok,
    }


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def send_batches(res: dict, start: float, end: float) -> list[dict]:
    """Send-query progress of batches with input that started within
    [start, end) after t0."""
    t0 = res["t0"]
    return [p for p in res["progress"]["send"]
            if p.get("numInputRows", 0) > 0 and start <= _epoch(p["timestamp"]) - t0 < end]


def _backlog_max(res: dict, start: float, end: float) -> float:
    """Frames generated but not yet in a completed send batch, sampled at
    each send batch's end within [start, end) after t0."""
    t0 = res["t0"]
    due = sorted(float(t) for t in res["capture"].values())
    cams = res["cameras"]
    processed = 0
    worst = 0
    for p in res["progress"]["send"]:
        processed += p.get("numInputRows", 0)
        end_t = _epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0
        if not start <= end_t - t0 < end:
            continue
        generated = WARM_FRAMES * cams + cams * sum(1 for d in due if d <= end_t)
        worst = max(worst, generated - processed)
    return float(worst)


def _stream_layers(res: dict, start: float, end: float) -> dict:
    rows = send_batches(res, start, end)

    def med(*keys):
        return common.median([sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0
                              for p in rows])

    return {
        "stream.batches": (len(rows), "count"),
        "stream.rows_per_batch": (common.median([p["numInputRows"] for p in rows]), "count"),
        "stream.trigger_s": (med("triggerExecution"), "s"),
        "stream.add_batch_s": (med("addBatch"), "s"),
        "stream.planning_s": (med("queryPlanning"), "s"),
        "stream.offsets_s": (med("latestOffset", "getBatch"), "s"),
        "stream.commit_s": (med("walCommit", "commitOffsets"), "s"),
        "stream.backlog_frames_max": (_backlog_max(res, start, end), "count"),
    }


def run(args, tracer, run_dir: Path):
    notes = []
    with tracer.span("session.start"):
        t = time.perf_counter()
        spark = common.start_session(run_dir)
        session_s = time.perf_counter() - t
    windows = [float(args.seconds)] * (2 if args.trace else 1)
    try:
        res = run_feed(spark, run_dir, args.seed, CAMERAS, windows, tracer,
                       wrap=bool(args.trace))
        jobs = common.JobCounter(spark)
        job_counts = [jobs.counts(r) for r in res["run_ids"]]
        if args.trace:
            from perfbench import analyst_mix, tracing
            from perfbench.live_generator import render_frame
            from uav_streamprocessor_spark.operators.pixel import encode_image

            kf_images = [encode_image(render_frame(args.seed, c, i, WIDTH, HEIGHT))
                         for i in range(0, 4 * KEYFRAME_INTERVAL, KEYFRAME_INTERVAL)
                         for c in range(CAMERAS)]
            lb_s = tracing.letterbox_detect_probe(spark, res["cfg"], kf_images, tracer)
            # the analyst mix's layers (fixtures, registry, operators.*) are
            # measured here, on the feed's session after the stream stopped
            probe, queries, probe_notes = analyst_mix.probe(spark, tracer, args.seed)
    finally:
        common.stop_session(spark)
    setup_s = session_s + res["setup_s"]

    cfg = res["cfg"]
    all_frames = range(WARM_FRAMES + res["n_sched"])
    expected = expected_keys(args.seed, CAMERAS, all_frames, cfg)
    receipts, unexpected = match_posts(res["posts"], expected)
    missing = sum(1 for k in expected if not receipts.get(k))
    errors = []
    if not res["drained"]:
        errors.append(f"stream did not drain within {DRAIN_S} s")
    for c in range(CAMERAS):
        got = res["recorded"].get(f"cam{c}", set())
        if got != set(all_frames):
            errors.append(f"recorder segments of cam{c} miss "
                          f"{len(set(all_frames) - got)} frames")
    lag_max = max(res["lag"]) if res["lag"] else 0.0
    if lag_max > GENERATOR_LAG_LIMIT_S:
        errors.append(f"generator ran {lag_max:.3f} s late (limit "
                      f"{GENERATOR_LAG_LIMIT_S} s): run invalid")

    base = window_metrics(res, expected, receipts, WARMUP_S, windows[0])
    attempted = base["_generated"]
    failed = missing + unexpected + res["errors"] + len(errors)
    correct = failed == 0
    notes.extend(errors)
    notes.append(
        f"cameras={CAMERAS} fps={FPS:g} {WIDTH}x{HEIGHT} keyframe interval "
        f"{KEYFRAME_INTERVAL}: keyframes sampled={attempted} delivered="
        f"{base['_delivered']} on_time(<= {LATENCY_LIMIT_S:g} s)="
        f"{base['_on_time']:.3f} tail=p{TAIL_PCT}"
        f"{'' if base['_tail_ok'] else ' (fewer than ten samples beyond)'} "
        f"generator lag max={lag_max:.3f} s missing={missing} "
        f"unexpected={unexpected} post_errors={res['errors']}")
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (base["latency_p50_s"], "s"),
        "latency_tail_s": (base["latency_tail_s"], "s"),
        "throughput_per_s": (base["throughput_per_s"], "1/s"),
    }
    if not args.trace:
        return correct, attempted, failed, metrics, notes

    start2 = WARMUP_S + windows[0]
    traced = window_metrics(res, expected, receipts, start2, windows[1])
    posts = len(res["posts"])
    distinct = sum(1 for k in expected if receipts.get(k))
    batches = [p for p in res["progress"]["send"] if p.get("numInputRows", 0) > 0]
    layer = tracing.overhead(base, traced)

    def in_window(name):
        lo = res["t0"] + start2
        return [s["end"] - s["start"] for s in tracer.spans
                if s["name"] == name and s["start"] >= lo]

    layer.update(_stream_layers(res, start2, start2 + windows[1]))
    layer.update({
        "session.start_s": (session_s, "s"),
        "pixel.keyframes": (len(expected), "count"),
        "pixel.detections": (sum(len(json.loads(v)) for v in expected.values()), "count"),
        "pixel.letterbox_detect_s": (lb_s, "s"),
        "generator.lag_max_s": (lag_max, "s"),
        "sinks.record_call_s": (common.median(in_window("sinks.record_call")), "s"),
        "sinks.send_call_s": (common.median(in_window("sinks.send_call")), "s"),
        "sinks.posts": (res["sent"], "count"),
        "sinks.post_errors": (res["errors"], "count"),
        "sinks.posts_per_connection": (posts / max(res["connections"], 1), "ratio"),
        "sinks.useful_post_ratio": (common.useful_post_ratio(distinct, posts), "ratio"),
        "stream.jobs_per_batch": (
            sum(c["jobs"] for c in job_counts) / max(len(batches), 1), "count"),
        "stream.tasks_per_batch": (
            sum(c["tasks"] for c in job_counts) / max(len(batches), 1), "count"),
        "live.on_time_ratio": (base["_on_time"], "ratio"),
        "live.failed_ratio": (common.failed_ratio(missing, res["errors"], unexpected,
                                                  len(expected)), "ratio"),
    })
    probe["spark.failed_tasks"] = (
        probe["spark.failed_tasks"][0] + sum(c["failed_tasks"] for c in job_counts), "count")
    layer.update(probe)
    probe_failed = sum(1 for q in queries if not q["ok"])
    notes.extend(probe_notes)
    notes.append(f"analyst probe: {len(queries)} queries after one warm pass")
    return (correct and not probe_failed, attempted + len(queries),
            failed + probe_failed, layer, notes)


def calibrate(seed: int) -> dict:
    """Step the camera count at the fixed fps and frame size; the highest
    count with a flat backlog and the tail under LATENCY_LIMIT_S is the
    sustainable load."""
    results = []
    with common.RunDir("calibrate") as run_dir:
        common.prepare_env(run_dir)
        spark = common.start_session(run_dir)
        tracer = common.Tracer("calibrate", enabled=False)
        try:
            for cams in (1, 2, 4, 8, 12, 16, 24):
                step_dir = run_dir / f"c{cams}"
                step_dir.mkdir()
                res = run_feed(spark, step_dir, seed, cams, [20.0], tracer, wrap=False)
                cfg = res["cfg"]
                expected = expected_keys(seed, cams, range(WARM_FRAMES + res["n_sched"]), cfg)
                receipts, _ = match_posts(res["posts"], expected)
                m = window_metrics(res, expected, receipts, WARMUP_S, 20.0)
                first = _backlog_max(res, WARMUP_S, WARMUP_S + 10.0)
                second = _backlog_max(res, WARMUP_S + 10.0, WARMUP_S + 20.0)
                # the backlog at a batch's end jitters with the batch's
                # duration; growth beyond one trigger's frames is a trend
                ok = (m["latency_tail_s"] <= LATENCY_LIMIT_S
                      and second <= first + cams * FPS * TRIGGER_S
                      and m["_delivered"] == m["_generated"])
                results.append({"cameras": cams, "p50_s": m["latency_p50_s"],
                                "tail_s": m["latency_tail_s"], "backlog_first": first,
                                "backlog_second": second, "sustainable": ok})
                print(json.dumps(results[-1]), flush=True)
                if not ok:
                    break
        finally:
            common.stop_session(spark)
    best = max((r["cameras"] for r in results if r["sustainable"]), default=0)
    return {"fps": FPS, "width": WIDTH, "height": HEIGHT,
            "latency_limit_s": LATENCY_LIMIT_S, "tail_pct": TAIL_PCT,
            "max_sustainable_cameras": best, "steps": results}
