from .incremental import incremental_index_update  # noqa: F401
