from .windows import featurize_expr, sessionize  # noqa: F401
from .asof import asof_join, asof_join_grouped  # noqa: F401
from .featurize import featurize_grouped  # noqa: F401
from .skew import featurize_salted  # noqa: F401
