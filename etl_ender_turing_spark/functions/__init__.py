from .filter_dsl import compile_filter, parse_filter  # noqa: F401
from .derived import with_enrichment_columns  # noqa: F401
