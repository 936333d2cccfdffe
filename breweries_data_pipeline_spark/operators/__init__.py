from breweries_data_pipeline_spark.operators.clean import (  # noqa: F401
    add_literal,
    cast_columns,
    deduplicate,
    drop_null_required,
    min_id_groups,
    normalize_strings,
)
from breweries_data_pipeline_spark.operators.aggregate import (  # noqa: F401
    aggregate_views,
    declarative_aggregate,
    grouped_count,
)
from breweries_data_pipeline_spark.operators.quality import (  # noqa: F401
    evaluate_rules,
    rules_dataframe,
)
from breweries_data_pipeline_spark.operators.joins import (  # noqa: F401
    anti_join,
    dim_join,
    salted_join,
    semi_join,
)
from breweries_data_pipeline_spark.operators.windows import (  # noqa: F401
    event_time_window_agg,
    topk_global,
    topk_per_group,
)
from breweries_data_pipeline_spark.operators.temporal import (  # noqa: F401
    as_of_join,
    as_of_join_forward,
    range_join,
    range_join_bucketed,
)
from breweries_data_pipeline_spark.operators.dedup import (  # noqa: F401
    build_shingle_index,
    dedup_incremental,
    exact_dedup,
    near_dedup_against_index,
    near_dedup_incremental,
    prefix_filtered_similarity_join,
    read_shingle_index_bucketed,
    write_shingle_index_bucketed,
)
from breweries_data_pipeline_spark.operators.graph import (  # noqa: F401
    connected_components,
    pagerank,
)
from breweries_data_pipeline_spark.operators.similarity import (  # noqa: F401
    ann_topk,
    cosine_topk,
    dedup_embeddings,
    ivf_topk,
    quantize_embeddings,
)
from breweries_data_pipeline_spark.operators.corpus import (  # noqa: F401
    decontaminate,
    shuffle_shards,
    split_assign,
)
from breweries_data_pipeline_spark.operators.text import (  # noqa: F401
    language_profile,
    with_fingerprint,
    with_lang_id,
    with_quality_score,
)
from breweries_data_pipeline_spark.operators.merge import merge_upsert  # noqa: F401
from breweries_data_pipeline_spark.operators.multimodal import (  # noqa: F401
    decode_dimensions,
    image_features,
    media_from_ids,
    resize_images,
)
from breweries_data_pipeline_spark.operators.profile import profile_table  # noqa: F401
from breweries_data_pipeline_spark.operators.graph import (  # noqa: F401
    bfs_distances,
    label_propagation,
    node_jaccard,
)
from breweries_data_pipeline_spark.operators.similarity import (  # noqa: F401
    semantic_dedup,
)
from breweries_data_pipeline_spark.operators.corpus import dsir_weights  # noqa: F401
from breweries_data_pipeline_spark.operators.merge import (  # noqa: F401
    merge_partial_aggs,
)
from breweries_data_pipeline_spark.operators.sketch import (  # noqa: F401
    cms_build,
    cms_estimate,
)
