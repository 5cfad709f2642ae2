from crawlspark.functions.urls import host_of, path_of, is_valid_http_url, hash_prefix_bin  # noqa: F401
from crawlspark.functions.extract import extract_links, extract_text_udf  # noqa: F401
