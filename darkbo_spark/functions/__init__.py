from darkbo_spark.functions.textnorm import (  # noqa: F401
    clean_text_udf,
    create_chunks_udf,
    html_to_text_udf,
)
from darkbo_spark.functions.ids import uuid5_col, sha256_id_col  # noqa: F401
