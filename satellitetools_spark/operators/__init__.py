from .quality import (  # noqa: F401
    dedup_products,
    filter_by_quality,
    tile_mode,
)
from .indices import compute_vegetation_index, with_all_indices  # noqa: F401
from .timeseries import dataset_to_timeseries  # noqa: F401
