from lynxkite_spark.plans.checkpoint import CheckpointManager, materialize

__all__ = ["CheckpointManager", "materialize"]
