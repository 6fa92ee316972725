from airbyte_custom_spark.operators.dedupe import (  # noqa: F401
    latest_per_key,
    validate_primary_keys,
    NullPrimaryKeyError,
)
from airbyte_custom_spark.operators.typed import (  # noqa: F401
    project_and_cast,
    inject_cdc_metadata,
    normalize_name,
)
