from dask_awkward_sandbox_spark.functions import (
    dedup,
    jpegcodec,
    lm,
    multimodal,
    quality_filters,
    rollup,
    similarity,
    sketches,
    text_analysis,
)

__all__ = [
    "dedup",
    "jpegcodec",
    "lm",
    "similarity",
    "rollup",
    "sketches",
    "text_analysis",
    "multimodal",
    "quality_filters",
]
