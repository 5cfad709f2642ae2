from crawlspark.operators.ordering import (  # noqa: F401
    cursor_filter,
    crawl_order,
    ordered_limit,
    distinct_commits,
    commit_budget_cutoff,
    pending_per_commit,
    max_cursor,
    min_watermark,
)
from crawlspark.operators.politeness import (  # noqa: F401
    apply_robots,
    topk_per_host,
)
from crawlspark.operators.bloom import seen_filter  # noqa: F401
