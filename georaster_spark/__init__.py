"""georaster_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch engine with the query semantics of pka/georaster
(raster grids, geotransforms, tiled pixel access, web-mercator tiles)
re-expressed over Spark DataFrames, plus the spatial-join / kNN /
dedup / similarity operators a web-scale (100 TB-class) training-data
pipeline needs.

Design rules (see SURVEY.md):
- DataFrame/SQL first; Catalyst does pushdown/pruning/broadcast.
- Custom kernels only as Arrow-vectorized pandas UDFs — never
  per-row Python.
- Partitioning, shuffle and skew handled explicitly (salting,
  broadcast cell-cover joins, AQE backstop).
"""

from __future__ import annotations

import importlib

__all__ = ["RasterGeometry", "get_spark"]

__version__ = "0.1.0"

# Exported lazily (PEP 562): ``python -m georaster_spark.worker_daemon``
# runs this file before it may import pyspark.
_LAZY = {"RasterGeometry": "georaster_spark.grid", "get_spark": "georaster_spark.session"}


def __getattr__(name: str):
    if name in _LAZY:
        return getattr(importlib.import_module(_LAZY[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
