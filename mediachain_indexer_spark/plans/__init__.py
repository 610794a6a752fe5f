from mediachain_indexer_spark.plans.pipeline import run_pipeline  # noqa: F401
from mediachain_indexer_spark.plans.checkpoint import StageRunner  # noqa: F401
from mediachain_indexer_spark.plans.eval import blocking_recall, pairwise_f1  # noqa: F401
