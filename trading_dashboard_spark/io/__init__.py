from .readers import load_table  # noqa: F401
from .writers import (  # noqa: F401
    insert_if_absent,
    merge_upsert,
    write_partitioned,
    write_overwrite,
)
