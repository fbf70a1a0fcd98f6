"""Query chunk modules — import order IS registration order.

Importing ANY chunk module triggers this package __init__ first, which
imports every chunk in canonical order, so registration order (the order
of ``registry.queries()``) is the same whatever the entry point.
"""

from . import _base  # noqa: F401
from . import q01_core_gold_silver  # noqa: F401
from . import q02_sessions_events_e2e  # noqa: F401
from . import q03_tpch_relational  # noqa: F401
from . import q04_canaries_curation  # noqa: F401
from . import q05_tokens_clustering  # noqa: F401
from . import q06_streaming_retrieval  # noqa: F401
from . import q07_sketches_graph  # noqa: F401
from . import q08_timeseries_paths  # noqa: F401
from . import q09_stats_structures  # noqa: F401
from . import q10_evals_governance  # noqa: F401
from . import q11_plans_calibration  # noqa: F401
from . import q12_r8_growth  # noqa: F401
from . import q13_r9_growth  # noqa: F401
from . import q14_r10_growth  # noqa: F401
from . import q15_r11_growth  # noqa: F401
