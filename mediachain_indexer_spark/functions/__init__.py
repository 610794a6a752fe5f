from mediachain_indexer_spark.functions.text import norm_text  # noqa: F401
from mediachain_indexer_spark.functions.phash import phash_of_media_ref  # noqa: F401
from mediachain_indexer_spark.functions.simtext import jaro_winkler_ref  # noqa: F401
