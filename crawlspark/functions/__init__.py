"""Column functions of the crawl: URL parsing (``urls``), page
extraction (``extract``) and mirror paths (``paths``). Import each
from its defining module."""
