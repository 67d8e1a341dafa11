from . import dedup, textstats  # noqa: F401
