from skipmap_processor_spark.operators.dedup import (  # noqa: F401
    prepare_actions,
)
