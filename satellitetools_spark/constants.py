"""Engine-wide constants: Sentinel-2 bands, SCL classes, filters, SNAP RMSE.

Semantics derived from the public reference `ollinevalainen/satellitetools`
(see /root/reference/satellitetools/common/sentinel2.py:32-235 and
biophys/biophys.py:80-96). This module defines the *data model*, not code
ported from the reference.

Spectral no-data is SQL NULL in this engine (the reference uses NaN; NULL
is the relational equivalent and keeps Spark/DuckDB aggregate semantics
identical).
"""

from __future__ import annotations

# Reflectance transport scaling (sentinel2.py:32): stored ints / 10000.
S2_REFL_TRANS = 10000.0

# GEE-style (canonical) names of the 10 m and 20 m bands (sentinel2.py:121-137).
S2_BANDS_10_20 = ["B2", "B3", "B4", "B5", "B6", "B7", "B8", "B8A", "B11", "B12"]

# Native ground-sample distance per band (meters), real Sentinel-2 values.
S2_BAND_GSD = {
    "B1": 60, "B2": 10, "B3": 10, "B4": 10, "B5": 20, "B6": 20, "B7": 20,
    "B8": 10, "B8A": 20, "B9": 60, "B11": 20, "B12": 20,
    "AOT": 10, "WVP": 10, "SCL": 20,
}

# Scene-classification classes, code order = enum value (sentinel2.py:104-118).
SCL_CLASSES = [
    "NODATA", "SATURATED_DEFECTIVE", "DARK_FEATURE_SHADOW", "CLOUD_SHADOW",
    "VEGETATION", "NOT_VEGETATED", "WATER", "UNCLASSIFIED",
    "CLOUD_MEDIUM_PROBA", "CLOUD_HIGH_PROBA", "THIN_CIRRUS", "SNOW_ICE",
]

# Default QI filter set (sentinel2.py:216-235).
S2_FILTER1 = [
    "NODATA", "SATURATED_DEFECTIVE", "CLOUD_SHADOW", "UNCLASSIFIED",
    "CLOUD_MEDIUM_PROBA", "CLOUD_HIGH_PROBA", "THIN_CIRRUS", "SNOW_ICE",
]

# SNAP biophysical processor (biophys.py:80-96).
SNAP_BIO_BANDS = ["B3", "B4", "B5", "B6", "B7", "B8A", "B11", "B12"]
BIOPHYS_VARIABLES = ["LAI", "FAPAR", "FCOVER", "LAI_Cab", "LAI_Cw"]
# value-form names used as output columns (biophys.py:51-56)
BIOPHYS_COLUMN = {
    "LAI": "lai", "FAPAR": "fapar", "FCOVER": "fcover",
    "LAI_Cab": "lai_cab", "LAI_Cw": "lai_cw",
}
SNAP_BIO_RMSE = {
    "FAPAR": 0.05, "FCOVER": 0.04, "LAI": 0.89, "LAI_Cab": 56.0, "LAI_Cw": 0.03,
}

# Confidence-interval z-scores and column suffixes (timeseries.py:266-277).
CONFIDENCE_LEVELS = {
    "90": (1.645, "_F005", "_F095"),
    "95": (1.96, "_F0025", "_F0975"),
    "99": (2.576, "_F0005", "_F0995"),
}

# Spatial cell grid: side length in meters of the engine's planar cell index
# (H3/S2-style, over per-tile UTM coordinates). 160 m = 8 px at 20 m GSD.
CELL_SIZE_M = 160.0
