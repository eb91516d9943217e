from . import dedup, grouped, ivf, multimodal, pipeline, similarity, textops  # noqa: F401
from .build import build_partials, sketch_agg, tree_merge_df  # noqa: F401
