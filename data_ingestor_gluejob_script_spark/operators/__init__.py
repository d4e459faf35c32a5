from .relational import project, watermark_filter, semi_join, join_chain, asof_join  # noqa: F401
from .normalize import dict_map, normalize_booleans, cast_all_string  # noqa: F401
from .temporal import parse_ts, derive_partitions, format_ts_micro  # noqa: F401
from .upsert import upsert_dedup, union_all  # noqa: F401
