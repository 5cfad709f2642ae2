from crawlspark.operators.ordering import (  # noqa: F401
    cursor_filter,
    ordered_limit,
    distinct_commits,
    commit_budget_cutoff,
)
from crawlspark.operators.politeness import (  # noqa: F401
    apply_robots,
)
from crawlspark.operators.bloom import seen_filter  # noqa: F401
