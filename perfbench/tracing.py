"""Traced-run helpers: counters and probes taken from outside the engine.

`CountedVideoSource` is the engine's `uav_video` source with its readers
wrapped so every planned partition and every emitted (decoded) frame is
counted. Counts cross from Spark's Python workers to the benchmark as one
small file per call under the run directory, because the Python data
source API has no accumulator hook. Only the traced window uses it.
"""

from __future__ import annotations

import os
import time
import uuid
from pathlib import Path

from pyspark.sql.datasource import DataSourceReader

from uav_streamprocessor_spark.sources.video_source import VideoDataSource

_COUNT_DIR_OPTION = "perfbenchCountDir"


def _record(count_dir: str, kind: str, n: int) -> None:
    Path(count_dir).mkdir(parents=True, exist_ok=True)
    name = f"{kind}-{os.getpid()}-{uuid.uuid4().hex}"
    Path(count_dir, name).write_text(str(n))


class _CountedReader(DataSourceReader):
    """Wraps the engine's batch reader (the non-pushdown one, which is what
    the replay uses) and counts what it plans and emits."""

    def __init__(self, inner, count_dir: str):
        self._inner, self._dir = inner, count_dir

    def partitions(self):
        parts = self._inner.partitions()
        _record(self._dir, "partitions", len(parts))
        return parts

    def read(self, partition):
        n = 0
        for row in self._inner.read(partition):
            n += 1
            yield row
        _record(self._dir, "frames", n)


class CountedVideoSource(VideoDataSource):
    """`uav_video` with partition and decoded-frame counts."""

    @classmethod
    def name(cls) -> str:
        return "uav_video_counted"

    def reader(self, schema):
        return _CountedReader(super().reader(schema), self.options[_COUNT_DIR_OPTION])


def register_counted_source(spark) -> None:
    spark.dataSource.register(CountedVideoSource)


def counted_options(run_dir: Path) -> dict:
    return {_COUNT_DIR_OPTION: str(run_dir / "source-counts")}


def read_source_counts(run_dir: Path) -> tuple[int, int]:
    """(frames emitted, partitions planned) recorded since the last call."""
    d = run_dir / "source-counts"
    frames = parts = 0
    if d.exists():
        for f in d.iterdir():
            n = int(f.read_text())
            if f.name.startswith("frames-"):
                frames += n
            elif f.name.startswith("partitions-"):
                parts += n
            f.unlink()
    return frames, parts


def overhead(untraced: dict, traced: dict) -> dict:
    """Tracing overhead per end-to-end metric: traced minus untraced."""
    return {
        f"tracing.overhead.{k}": (traced[k] - untraced[k], unit)
        for k, unit in (("latency_p50_s", "s"), ("latency_tail_s", "s"),
                        ("throughput_per_s", "1/s"))
    }


def letterbox_detect_probe(spark, cfg, images: list[bytes], tracer) -> float:
    """`letterbox_and_detect` over in-memory keyframes, seconds per
    keyframe (median of three passes after one warm pass)."""
    from uav_streamprocessor_spark.operators.pixel import letterbox_and_detect

    df = spark.createDataFrame(
        [(f"cam{i}", i, bytes(b)) for i, b in enumerate(images)],
        "camera_id string, frame_number bigint, image binary",
    ).cache()
    df.count()
    out = letterbox_and_detect(df, cfg)
    out.write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(3):
        with tracer.span("pixel.letterbox_detect"):
            t = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
    df.unpersist()
    return sorted(times)[1] / max(len(images), 1)


def wrap_batch_callable(fn, tracer, span_name: str):
    """A foreachBatch callable that records one span per batch."""

    def wrapped(batch, batch_id):
        t0 = time.time()
        try:
            return fn(batch, batch_id)
        finally:
            tracer.add(span_name, t0, time.time(), batch_id=batch_id)

    return wrapped
