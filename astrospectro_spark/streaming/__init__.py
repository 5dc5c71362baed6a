from .curate_stream import stream_curate  # noqa: F401
from .session_stream import (  # noqa: F401
    stateful_asof_enrich,
    stream_featurize,
    stream_session_stats,
)
