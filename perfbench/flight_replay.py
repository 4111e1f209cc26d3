"""flight_replay: batch backfill of an archived multi-camera flight.

The archive is a set of MJPG AVI files, one per camera, built from seeded
scenes with the engine's own JPEG encoder and AVI muxer. Each replay runs
the CLI's three branches as `main.main` wires them: recorder rows and flat
keyframe detections to parquet, and sender payloads POSTed through
`HttpSenderSink` to a local collector, with the default keyframe
interval (30).
"""

from __future__ import annotations

import collections
import hashlib
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

from perfbench import common

CAMERAS = 4
FRAMES = 121  # keyframes 0, 30, 60, 90 and 120 of each camera at the default interval
WIDTH, HEIGHT = 160, 96
FPS = 30.0
JPEG_QUALITY = 90
KEYFRAME_INTERVAL = 30  # PipelineConfig's default, asserted in run()
MIN_REPLAYS = 2
# keyframe deliveries in the smallest window; the tail percentile is the
# highest one that still leaves ten of them beyond it
MIN_SAMPLES = MIN_REPLAYS * CAMERAS * len(range(0, FRAMES, KEYFRAME_INTERVAL))
TAIL_PCT = common.tail_percentile(MIN_SAMPLES)


def render_frame(seed: int, cam: int, i: int) -> np.ndarray:
    """Seeded scene: a per-camera gradient with a few moving boxes and
    sensor noise. Same (seed, cam, i) → same pixels."""
    rng = np.random.default_rng([seed, cam])
    base = rng.integers(0, 256, size=3)
    yy, xx = np.mgrid[0:HEIGHT, 0:WIDTH]
    img = np.empty((HEIGHT, WIDTH, 3), dtype=np.int32)
    img[..., 0] = base[0] + xx * 96 // WIDTH
    img[..., 1] = base[1] + yy * 96 // HEIGHT
    img[..., 2] = base[2] + (xx + yy) // 4
    boxes = rng.integers(0, [WIDTH - 24, HEIGHT - 16, 256], size=(3, 3))
    for bx, by, colour in boxes:
        x = int(bx + 2 * i) % (WIDTH - 24)
        img[by:by + 16, x:x + 24] = colour
    noise = np.random.default_rng([seed, cam, i]).integers(-6, 7, size=img.shape)
    return np.clip(img + noise, 0, 255).astype(np.uint8)


def build_archive(seed: int, dest: Path) -> list[str]:
    from uav_streamprocessor_spark.operators.jpeg import encode_jpeg
    from uav_streamprocessor_spark.sources.avi import FOURCC_MJPG, write_avi

    paths = []
    for cam in range(CAMERAS):
        payloads = [encode_jpeg(render_frame(seed, cam, i), JPEG_QUALITY)
                    for i in range(FRAMES)]
        p = dest / f"cam{cam}.avi"
        write_avi(str(p), payloads, fps=FPS, fourcc=FOURCC_MJPG,
                  width=WIDTH, height=HEIGHT)
        paths.append(str(p))
    return paths


def archive_code_hash() -> str:
    """Hash of the code that builds the archive: the engine's JPEG encoder
    and AVI muxer, and this module's scenes. A checkout whose encoder
    differs builds (and times) its own archive."""
    from uav_streamprocessor_spark.operators import jpeg
    from uav_streamprocessor_spark.sources import avi

    h = hashlib.sha256()
    for mod_file in (jpeg.__file__, avi.__file__, __file__):
        h.update(Path(mod_file).read_bytes())
    return h.hexdigest()[:16]


def cached_archive(seed: int) -> tuple[list[str], bool]:
    """The archive for this geometry, seed and encoder code, built once per
    checkout. Returns (paths, cache hit)."""
    key = (f"flight-{WIDTH}x{HEIGHT}-c{CAMERAS}-n{FRAMES}-q{JPEG_QUALITY}"
           f"-s{seed}-{archive_code_hash()}")
    d = common.CACHE_DIR / key
    done = d / "COMPLETE"
    paths = [str(d / f"cam{c}.avi") for c in range(CAMERAS)]
    if done.exists():
        return paths, True
    tmp = common.CACHE_DIR / f"{key}.tmp{time.time_ns()}"
    tmp.mkdir(parents=True)
    build_archive(seed, tmp)
    (tmp / "COMPLETE").touch()
    try:
        tmp.rename(d)
    except OSError:  # another run finished the same archive first
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return paths, False


def expected_outputs(paths: list[str], cfg) -> dict:
    """What a correct replay produces, computed directly from the archive:
    decode_jpeg → letterbox_array → StubDetector on every keyframe."""
    from uav_streamprocessor_spark.operators.jpeg import decode_jpeg
    from uav_streamprocessor_spark.operators.pixel import (
        StubDetector,
        encode_image,
        letterbox_array,
    )
    from uav_streamprocessor_spark.sources.avi import AviFile

    det = StubDetector(cfg.confidence, cfg.classes)
    out = {"frames": {}, "keyframes": {}, "dets": {}, "images": {}}
    for p in paths:
        cam = Path(p).stem
        avi = AviFile(p)
        out["frames"][cam] = avi.n_frames
        kfs = list(range(0, avi.n_frames, cfg.keyframe_interval))
        out["keyframes"][cam] = kfs
        for f in kfs:
            img = decode_jpeg(avi.frame_bytes(f))
            out["images"][(cam, f)] = encode_image(img)
            out["dets"][(cam, f)] = det.detect(
                letterbox_array(img, cfg.target_resolution))
    return out


def check_posts(posts: list, expected: dict) -> tuple[int, int, int]:
    """(missing, wrong, keyframes attempted) for one replay's POSTs. POSTs
    carry frame_number and detections but no camera, so each camera's
    expected keyframe must match a distinct POST of the same frame."""
    want = collections.Counter()
    for (cam, f), boxes in expected["dets"].items():
        want[(f, common.expected_detections_key(boxes))] += 1
    got = collections.Counter()
    wrong = 0
    for _, doc in posts:
        parsed = common.parse_post(doc)
        if parsed is None:
            wrong += 1
            continue
        got[(parsed[0], common.detections_key(parsed[1]))] += 1
    missing = sum((want - got).values())
    wrong += sum((got - want).values())
    return missing, wrong, sum(want.values())


def check_files(out_dir: Path, expected: dict, cfg) -> list[str]:
    """Recorded frames per camera and flat detections against the archive."""
    import pyarrow.dataset as ds

    errors = []
    rec = ds.dataset(out_dir / "recorded", format="parquet",
                     partitioning="hive").to_table().to_pylist()
    by_cam = collections.defaultdict(list)
    for r in rec:
        by_cam[str(r["camera_id"])].append(r)
    for cam, n in expected["frames"].items():
        rows = sorted(by_cam.get(cam, []), key=lambda r: r["frame_number"])
        if [r["frame_number"] for r in rows] != list(range(n)):
            errors.append(f"recorded frames of {cam} are not 0..{n - 1}")
            continue
        if any(r["record_fps"] != FPS for r in rows):
            errors.append(f"recorded fps of {cam} differs from the archive")
        for f in expected["keyframes"][cam]:
            if bytes(rows[f]["image"]) != expected["images"][(cam, f)]:
                errors.append(f"recorded pixels of {cam} frame {f} differ")
    if set(by_cam) != set(expected["frames"]):
        errors.append(f"recorded cameras {sorted(by_cam)} != archive")

    det = ds.dataset(out_dir / "detections", format="parquet",
                     partitioning="hive").to_table().to_pylist()
    got = collections.Counter()
    for r in det:
        if r["class_name"] is None:
            got[(str(r["camera_id"]), r["frame_number"], None)] += 1
        else:
            got[(str(r["camera_id"]), r["frame_number"],
                 (r["x_min"], r["y_min"], r["x_max"], r["y_max"],
                  round(r["confidence"], 9), r["class_id"], r["class_name"]))] += 1
    want = collections.Counter()
    for (cam, f), boxes in expected["dets"].items():
        if not boxes:
            want[(cam, f, None)] += 1
        for b in boxes:
            want[(cam, f, (b["x_min"], b["y_min"], b["x_max"], b["y_max"],
                           round(b["confidence"], 9), b["class_id"],
                           b["class_name"]))] += 1
    if got != want:
        errors.append(
            f"detections differ: {sum((want - got).values())} missing, "
            f"{sum((got - want).values())} unexpected")
    return errors


class Replay:
    """One archive replay: the CLI's three branches, in its order."""

    def __init__(self, spark, paths, cfg, collector, out_dir, tracer, jobs,
                 source_format="uav_video", source_options=None):
        self.spark, self.paths, self.cfg = spark, paths, cfg
        self.collector, self.out_dir = collector, out_dir
        self.tracer, self.jobs = tracer, jobs
        self.source_format = source_format
        self.source_options = source_options or {}
        self.n = 0

    def _frames(self):
        return (self.spark.read.format(self.source_format)
                .options(**self.source_options)
                .option("path", ",".join(self.paths)).load())

    def _branches(self, frames, sink) -> dict:
        """The CLI's branches in its order, each a callable running the
        branch's action."""
        from uav_streamprocessor_spark.plans.pipeline import (
            keyframe_detections_flat,
            recorder_rows,
            sender_payloads,
        )

        out, cfg = self.out_dir, self.cfg
        return {
            "record": lambda: recorder_rows(frames, cfg).write.mode(
                "overwrite").partitionBy("camera_id").parquet(str(out / "recorded")),
            "detect": lambda: keyframe_detections_flat(frames, cfg).write.mode(
                "overwrite").partitionBy("camera_id").parquet(str(out / "detections")),
            "send": lambda: sink(sender_payloads(frames, cfg), 0),
        }

    def warm(self) -> None:
        """Untimed first replay. It only pays one-time costs (Python
        workers, codegen, writers), so its branches run concurrently."""
        from uav_streamprocessor_spark.streaming.sinks import HttpSenderSink

        sink = HttpSenderSink(self.collector.url, self.cfg)
        branches = self._branches(self._frames(), sink).values()
        with ThreadPoolExecutor(len(branches)) as pool:
            for f in [pool.submit(b) for b in branches]:
                f.result()

    def __call__(self) -> dict:
        from uav_streamprocessor_spark.streaming.sinks import HttpSenderSink

        self.n += 1
        tag = self.jobs.new_group(f"replay{self.n}")
        took = {}
        sink = HttpSenderSink(self.collector.url, self.cfg)
        n_posts_before = len(self.collector.snapshot()[0])
        t0 = time.time()
        with self.tracer.span("flight.replay", replay=self.n):
            for name, action in self._branches(self._frames(), sink).items():
                with self.tracer.span(f"plans.{name}"), self.jobs.group(f"{tag}.{name}"):
                    t = time.perf_counter()
                    action()
                    took[name] = time.perf_counter() - t
        t1 = time.time()
        posts = self.collector.snapshot()[0][n_posts_before:]
        counts = [self.jobs.counts(f"{tag}.{b}") for b in took]
        return {"t0": t0, "t1": t1, "posts": posts, "sent": sink.sent,
                "errors": sink.errors, "counts": counts, "took": took}


def _window(replay, seconds: float) -> tuple[list[dict], float]:
    """Replays back to back until `seconds` have passed and at least
    MIN_REPLAYS have run."""
    results, start = [], time.perf_counter()
    while len(results) < MIN_REPLAYS or time.perf_counter() - start < seconds:
        results.append(replay())
    return results, time.perf_counter() - start


def _e2e(results: list[dict], wall_s: float) -> dict:
    lat = [t - r["t0"] for r in results for t, _ in r["posts"]] or [wall_s]
    tail, ok = common.tail_latency(lat, TAIL_PCT)
    return {"latency_p50_s": common.median(lat), "latency_tail_s": tail,
            "throughput_per_s": CAMERAS * FRAMES * len(results) / wall_s,
            "_n": len(lat), "_ok": ok}


def _layers(spark, tracer, run_dir, paths, cfg, expected, traced, collector) -> dict:
    """Per-layer metrics of the traced window, plus two isolated probes."""
    from perfbench import tracing

    decoded, partitions = tracing.read_source_counts(run_dir)
    with tracer.span("sources.scan_decode"):
        t = time.perf_counter()
        (spark.read.format("uav_video").option("path", ",".join(paths)).load()
         .write.format("noop").mode("overwrite").save())
        scan_s = time.perf_counter() - t
    images = [expected["images"][k] for k in sorted(expected["images"])]
    lb_s = tracing.letterbox_detect_probe(spark, cfg, images, tracer)
    posts = sum(len(r["posts"]) for r in traced)
    delivered = 0  # distinct keyframes that reached the collector
    for r in traced:
        missing, _, n_kf = check_posts(r["posts"], expected)
        delivered += n_kf - missing
    all_posts, connections = collector.snapshot()
    n = len(traced)

    def per_replay(key):
        return common.median([sum(c[key] for c in r["counts"]) for r in traced])

    return {
        "sources.scan_decode_s": (scan_s, "s"),
        "sources.frames_decoded": (decoded / n, "count"),
        "sources.partitions": (partitions / n, "count"),
        "pixel.keyframes": (len(expected["dets"]), "count"),
        "pixel.detections": (sum(len(v) for v in expected["dets"].values()), "count"),
        "pixel.letterbox_detect_s": (lb_s, "s"),
        **{f"plans.{b}_s": (common.median([r["took"][b] for r in traced]), "s")
           for b in ("record", "detect", "send")},
        "plans.spark_jobs": (per_replay("jobs"), "count"),
        "plans.spark_tasks": (per_replay("tasks"), "count"),
        "sinks.posts": (sum(r["sent"] for r in traced) / n, "count"),
        "sinks.post_errors": (sum(r["errors"] for r in traced), "count"),
        "sinks.posts_per_connection": (len(all_posts) / max(connections, 1), "ratio"),
        "sinks.useful_post_ratio": (common.useful_post_ratio(delivered, posts), "ratio"),
        "spark.failed_tasks": (
            sum(c["failed_tasks"] for r in traced for c in r["counts"]), "count"),
    }


def run(args, tracer, run_dir: Path):
    from uav_streamprocessor_spark.config import PipelineConfig
    from uav_streamprocessor_spark.sources import video_source

    from perfbench import tracing

    notes = []
    cfg = PipelineConfig()
    assert cfg.keyframe_interval == KEYFRAME_INTERVAL, cfg.keyframe_interval
    t_setup = time.perf_counter()
    with tracer.span("sources.archive_build"):
        t = time.perf_counter()
        paths, hit = cached_archive(args.seed)
        archive_s = time.perf_counter() - t
    notes.append(f"archive cache: {'hit' if hit else 'miss'} ({archive_s:.2f} s)")
    with tracer.span("session.start"):
        t = time.perf_counter()
        spark = common.start_session(run_dir)
        session_s = time.perf_counter() - t
    try:
        with tracer.span("sources.register"):
            video_source.register(spark)
            if args.trace:
                tracing.register_counted_source(spark)
        jobs = common.JobCounter(spark)
        out = run_dir / "flight_out"
        with common.Collector() as collector:
            replay = Replay(spark, paths, cfg, collector, out, tracer, jobs)
            with tracer.span("flight.warm"):
                replay.warm()
            setup_s = time.perf_counter() - t_setup

            t = time.perf_counter()
            expected = expected_outputs(paths, cfg)
            notes.append(f"expected outputs computed in {time.perf_counter() - t:.2f} s "
                         "(untimed)")

            tracer.enabled = False
            untraced, wall = _window(replay, args.seconds)
            traced, traced_wall = [], 0.0
            if args.trace:
                counted = Replay(spark, paths, cfg, collector, out, tracer, jobs,
                                 source_format="uav_video_counted",
                                 source_options=tracing.counted_options(run_dir))
                tracer.enabled = True
                traced, traced_wall = _window(counted, args.seconds)

            attempted = failed = 0
            for r in untraced + traced:
                missing, wrong, n_kf = check_posts(r["posts"], expected)
                attempted += n_kf
                failed += missing + wrong + r["errors"]
            errors = check_files(out, expected, cfg)
            failed += len(errors)
            notes.extend(errors)

            base = _e2e(untraced, wall)
            notes.append(
                f"replays={len(untraced)} frames/replay={CAMERAS * FRAMES} "
                f"keyframe deliveries={base['_n']} tail=p{TAIL_PCT}"
                f"{'' if base['_ok'] else ' (fewer than ten samples beyond)'} "
                f"replay_s={[round(r['t1'] - r['t0'], 3) for r in untraced]}")
            if not args.trace:
                return failed == 0, attempted, failed, {
                    "setup_s": (setup_s, "s"),
                    "latency_p50_s": (base["latency_p50_s"], "s"),
                    "latency_tail_s": (base["latency_tail_s"], "s"),
                    "throughput_per_s": (base["throughput_per_s"], "1/s"),
                }, notes

            layer = tracing.overhead(base, _e2e(traced, traced_wall))
            layer.update(_layers(spark, tracer, run_dir, paths, cfg, expected, traced,
                                 collector))
            layer.update({
                "session.start_s": (session_s, "s"),
                "sources.archive_build_s": (archive_s, "s"),
                "replay.failed_ratio": (common.failed_ratio(0, 0, failed, attempted), "ratio"),
            })
            return failed == 0, attempted, failed, layer, notes
    finally:
        common.stop_session(spark)
