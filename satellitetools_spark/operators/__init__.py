from .quality import (  # noqa: F401
    class_percentages,
    dedup_products,
    filter_by_quality,
    quality_information,
    tile_mode,
    filter_to_mode_tile,
)
from .indices import compute_vegetation_index, with_all_indices  # noqa: F401
from .timeseries import dataset_to_timeseries  # noqa: F401
