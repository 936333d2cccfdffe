from breweries_data_pipeline_spark.functions.text import (  # noqa: F401
    normalized_text,
    stopword_count,
    token_count,
    tokens,
)
from breweries_data_pipeline_spark.functions.zorder import (  # noqa: F401
    morton_key,
    morton_key_sql,
    normalize_to_domain,
    normalize_to_domain_sql,
)
