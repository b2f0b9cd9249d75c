from .partitions import state_partitions  # noqa: F401
from .replay import replay_to_memory  # noqa: F401
from .state import state_metrics, state_store_provider  # noqa: F401
