"""Letterbox geometry as relational arithmetic (T1 shadow).

The reference letterbox (uav/frame_processing.py:15-57) computes:

    scale = min(target_w / w, target_h / h)        # :29
    new_w, new_h = int(w * scale), int(h * scale)  # :30-34 (int() truncates)
    pad_top    = (target_h - new_h) // 2           # :36
    pad_bottom = target_h - new_h - pad_top        # :37
    pad_left   = (target_w - new_w) // 2           # :38
    pad_right  = target_w - new_w - pad_left       # :39

Here the same math runs as Catalyst expressions (whole-stage codegen'd,
oracle-checkable); the pixel transform itself is
operators/pixel.letterbox_array, run inside the fused
letterbox_and_detect. `floor` replaces `int()` — identical for the
positive values involved, and it keeps Spark and DuckDB casts in
agreement (DuckDB CAST(double AS INT) rounds; Spark truncates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def letterbox_columns(
    width: Column, height: Column, target: int = 640
) -> dict[str, Column]:
    tw = F.lit(float(target))
    scale = F.least(tw / width, tw / height)
    new_w = F.floor(width * scale).cast("int")
    new_h = F.floor(height * scale).cast("int")
    pad_top = F.floor((F.lit(target) - new_h) / 2).cast("int")
    pad_left = F.floor((F.lit(target) - new_w) / 2).cast("int")
    return {
        "scale": scale,
        "new_w": new_w,
        "new_h": new_h,
        "pad_top": pad_top,
        "pad_bottom": (F.lit(target) - new_h - pad_top).cast("int"),
        "pad_left": pad_left,
        "pad_right": (F.lit(target) - new_w - pad_left).cast("int"),
    }


def with_letterbox_geometry(df: DataFrame, target: int = 640) -> DataFrame:
    """Attach letterbox geometry columns for the frame's width/height."""
    cols = letterbox_columns(F.col("width"), F.col("height"), target)
    for name, col in cols.items():
        df = df.withColumn(name, col)
    return df
