from .upsert import latest_version, upsert_append  # noqa: F401
from .delta import changed_keys, changed_rows  # noqa: F401
