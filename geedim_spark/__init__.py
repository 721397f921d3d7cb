"""geedim_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-creates the capabilities of the reference (leftfield-geospatial/geedim —
tiled raster export, cloud/shadow masking, collection filtering, compositing)
as a generic DataFrame operator set over a table of image + caption pairs:

    image_id string, bytes binary, w int, h int, fmt string,
    caption string, phash bigint  (+ derived footprint/time/props columns)

Everything is expressed Spark-first: DataFrame / SQL plans optimized by
Catalyst + AQE; pixel kernels as vectorized Arrow / pandas UDFs (never
per-row Python); spatial joins as cell-index equi-joins with exact refinement.

Subpackages
-----------
- :mod:`geedim_spark.cells`       grid cell index (H3/S2-style, pure numpy/SQL)
- :mod:`geedim_spark.codecs`      raw + DCT8 lossy image codecs
- :mod:`geedim_spark.synth`       deterministic synthetic images/ROI tables
- :mod:`geedim_spark.operators`   tiler, spatial join, masks, stencils, composites,
                                  dedup, similarity, text analysis
- :mod:`geedim_spark.sources`     table IO, Iceberg-style snapshot manifests,
                                  pure-numpy GeoTIFF writer/reader
- :mod:`geedim_spark.functions`   column helpers (dtype promotion, nodata, geometry)
- :mod:`geedim_spark.plans`       metrics listener + lineage
- :mod:`geedim_spark.schema`      declared per-collection property schemas,
                                  abbreviations, mask-family registry
- :mod:`geedim_spark.streaming`   ingest/windows/sessions/stateful dedup
"""

__version__ = "0.1.0"

from geedim_spark.session import get_session  # noqa: F401
from geedim_spark.kernels import install_zip_cache_guard

# patches a Python worker on its first geedim_spark import; no-op on a driver
install_zip_cache_guard()
