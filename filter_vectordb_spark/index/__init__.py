from filter_vectordb_spark.index.ivf import (  # noqa: F401
    build_index,
    build_ivf,
    load_index,
    search,
)
from filter_vectordb_spark.index.tagpart import (  # noqa: F401
    build_tag_partitions,
    tag_partition_knn,
)
