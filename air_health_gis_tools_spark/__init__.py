"""air_health_gis_tools_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression (NOT a port) of the capabilities of
``cardat/air-health-gis-tools`` (reference at /root/reference, cited by
file:line in docstrings throughout): buffered raster zonal statistics,
point-in-polygon joins, nearest-neighbor lookup, cell tiling (hex H3-style +
S2 quad-style), raster<->vector alignment — over web-scale tables of
Common-Crawl-style pages, built on the Spark DataFrame API + Arrow-vectorized
pandas UDFs (no per-row Python anywhere).

Layout
------
- ``geo_synth``   deterministic synthetic-geometry derivations (single source
                  of truth emitting BOTH Spark SQL and DuckDB SQL, so every
                  spatial operator has an exact relational oracle)
- ``functions/``  scalar/cell/text kernels (hex cells, S2, geocode, codec...)
- ``operators/``  zonal stats, PIP, kNN, radius join, convolution, dedup,
                  similarity search, multimodal plumbing
- ``sources/``    raster tile tables, pages fixtures, readers
- ``plans/``      end-to-end pipelines, kernel-order heuristic, lineage
"""

__version__ = "0.1.0"
