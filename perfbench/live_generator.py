"""Open-loop camera feed and command-centre collector for live_feed.

    python3 -m perfbench.live_generator --watch DIR --results FILE \
        --cameras 4 --fps 10 --width 320 --height 180 --seed 1 \
        --warm-frames 5 --frames 200

Runs as its own process so its schedule does not slow when the engine
does. Protocol on stdin/stdout, one line each:

  -> "PORT <n>"   collector listening on 127.0.0.1:<n>
  -> "WARM"       warm frames 0..warm-1 are in the watched directory
  <- "GO"         start the schedule: frame warm+i of every camera is due
                  at t0 + i/fps, written as one parquet file (FRAME_DDL
                  columns, raw-tensor images) renamed into the directory
  -> "SCHEDULED"  every scheduled frame is written
  <- "STOP"       write the results JSON and exit

Capture stamps (due times) and POST receipt times share this process's
clock.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time
from pathlib import Path

import numpy as np


@functools.lru_cache(maxsize=64)
def _noise_field(seed: int, cam: int, width: int, height: int) -> np.ndarray:
    """Per-camera base image; callers must not write to it."""
    return np.random.default_rng([seed, cam]).integers(
        0, 256, size=(height, width, 3), dtype=np.uint8)


def render_frame(seed: int, cam: int, i: int, width: int, height: int) -> np.ndarray:
    """Seeded camera image for frame i: a per-camera noise field shifted
    by i pixels with the frame's row stripe, so every frame differs."""
    img = np.roll(_noise_field(seed, cam, width, height), shift=i, axis=1)
    img[(7 * i) % height] = (31 * i + cam) % 256
    return img


def frame_table(seed, cams, i, width, height, fps):
    import pyarrow as pa

    from uav_streamprocessor_spark.operators.pixel import encode_image

    return pa.table({
        "camera_id": pa.array([f"cam{c}" for c in range(cams)], pa.string()),
        "frame_number": pa.array([i] * cams, pa.int64()),
        "width": pa.array([width] * cams, pa.int32()),
        "height": pa.array([height] * cams, pa.int32()),
        "fps": pa.array([float(fps)] * cams, pa.float64()),
        "image": pa.array(
            [encode_image(render_frame(seed, c, i, width, height)) for c in range(cams)],
            pa.binary()),
    })


def write_frame(watch: Path, table, i: int) -> None:
    import pyarrow.parquet as pq

    tmp = watch.parent / f".{watch.name}-f{i:07d}.parquet.tmp"
    pq.write_table(table, tmp, compression="none")
    os.replace(tmp, watch / f"f{i:07d}.parquet")


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--watch", required=True)
    p.add_argument("--results", required=True)
    p.add_argument("--cameras", type=int, required=True)
    p.add_argument("--fps", type=float, required=True)
    p.add_argument("--width", type=int, required=True)
    p.add_argument("--height", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--warm-frames", type=int, required=True)
    p.add_argument("--frames", type=int, required=True)
    a = p.parse_args(argv)

    from perfbench.common import Collector

    watch = Path(a.watch)
    watch.mkdir(parents=True, exist_ok=True)

    def say(line: str) -> None:
        sys.stdout.write(line + "\n")
        sys.stdout.flush()

    def expect(word: str) -> None:
        line = sys.stdin.readline().strip()
        if line != word:
            raise SystemExit(f"live_generator: expected {word!r}, got {line!r}")

    with Collector() as collector:
        say(f"PORT {collector.url.rsplit(':', 1)[1].strip('/')}")
        for i in range(a.warm_frames):
            write_frame(watch, frame_table(a.seed, a.cameras, i, a.width, a.height, a.fps), i)
        say("WARM")
        expect("GO")
        # the first frame is due shortly after GO, leaving time to render it
        t0 = time.time() + 0.2
        capture, lag = {}, []
        for k in range(a.frames):
            i = a.warm_frames + k
            due = t0 + k / a.fps
            table = frame_table(a.seed, a.cameras, i, a.width, a.height, a.fps)
            now = time.time()
            if now < due:
                time.sleep(due - now)
            lag.append(max(0.0, time.time() - due))
            write_frame(watch, table, i)
            capture[i] = due
        say("SCHEDULED")
        expect("STOP")
        posts, connections = collector.snapshot()
    Path(a.results).write_text(json.dumps({
        "t0": t0,
        "capture": capture,
        "lag": lag,
        "posts": posts,
        "connections": connections,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
