"""DataFrame operators of the crawl and the query catalogue. Import each
from its defining module."""
