from .docids import assign_doc_ids  # noqa: F401
from .index_build import (  # noqa: F401
    build_index,
    extract_pages,
    postings_from_pages,
    IndexPaths,
)
from .stats import corpus_stats  # noqa: F401
from .checkpoint import Manifest, run_resumable_partitions  # noqa: F401
