"""satellitetools_spark — a PySpark-native spatial-join + tiling engine.

Brand-new engine with the query capabilities of the public reference
``ollinevalainen/satellitetools``: AOI-polygon → Sentinel-2 tile/pixel
assignment, SCL quality filtering, SNAP biophysical NN inference, vegetation
indices, and per-date timeseries statistics — re-expressed as Spark
DataFrame dataflow over tables of interleaved text+media documents
(doc_id, spans<kind,text,media_ref,offset>), designed for 10^12-document
scale (partitioned cell joins, broadcast dims, salted skew handling,
per-partition lineage + exact resume).
"""

from .constants import (  # noqa: F401
    BIOPHYS_VARIABLES,
    S2_BANDS_10_20,
    S2_FILTER1,
    SCL_CLASSES,
    SNAP_BIO_BANDS,
    SNAP_BIO_RMSE,
)

__version__ = "0.1.0"
