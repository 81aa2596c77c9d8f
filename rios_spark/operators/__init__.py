"""Operator facade: the per-tile compute surface (SURVEY.md §2)."""

from rios_spark.applier import (  # noqa: F401
    BOUNDS_FROM_REFERENCE,
    INTERSECTION,
    UNION,
    TileInfo,
    apply,
    build_working_set,
)
from rios_spark.margin import trim_margin, with_margin  # noqa: F401
# knn_join is the one neighbour search: it picks brute, scan or tiled
# itself (spatial.knn_tiled is only its older name)
from rios_spark.spatial import (  # noqa: F401
    knn_bruteforce,
    knn_join,
    pip_join,
    zonal_stats,
)
from rios_spark.stats import (  # noqa: F401
    basic_stats,
    histogram,
    median_mode_from_hist,
    pyramid_average,
    pyramid_nearest,
    weighted_stats,
    write_with_stats,
)
from rios_spark.dedup import (  # noqa: F401
    embedding_near_dup,
    exact_dedup,
    exact_dup_groups,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_col_udf,
    simhash_pairs,
)
from rios_spark.ann import cosine_topk_bruteforce, cosine_topk_ivf  # noqa: F401
from rios_spark.temporal import asof_join  # noqa: F401
from rios_spark.rat import add_color_table, normalize_colors_01, rat_apply  # noqa: F401
from rios_spark.multimodal import (  # noqa: F401
    audio_frame_sample,
    gen_media,
    image_features,
    image_resize,
    media_dedup_keys,
)
