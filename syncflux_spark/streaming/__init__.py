from syncflux_spark.streaming.monitor import ClusterState, ClusterStatus, HAMonitor
from syncflux_spark.streaming.replicate import ReplicationStream

__all__ = [
    "ClusterState",
    "ClusterStatus",
    "HAMonitor",
    "ReplicationStream",
]
