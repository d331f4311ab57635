from firebase_etl_spark.operators.dedup import dedup_keep_latest, duplicate_stats
from firebase_etl_spark.operators.validate import ValidationResult, validate_users
from firebase_etl_spark.operators.conflict import resolve_id_conflicts
from firebase_etl_spark.operators.stats import user_stats

__all__ = [
    "dedup_keep_latest",
    "duplicate_stats",
    "ValidationResult",
    "validate_users",
    "resolve_id_conflicts",
    "user_stats",
]
