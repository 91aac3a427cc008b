from .text import (  # noqa: F401
    extract_text_udf,
    extract_meta_udf,
    extract_links_udf,
    normalize_query,
)
from .urlfns import base_url_col, domain_col, registrable_suffix_col  # noqa: F401
from .codec import (  # noqa: F401
    varint_encode,
    varint_decode,
    delta_encode,
    delta_decode,
    encode_block,
    decode_block,
)
from .normalize import (  # noqa: F401
    min_max_col,
    z_score_col,
    log_transform_col,
    robust_scale_col,
    clip_col,
    exp_transform_col,
)
