from . import config  # noqa: F401
from .composite import composite_sql  # noqa: F401
from .hr import hr_score, position_factor  # noqa: F401
from .synergy import formula_synergy, rule_synergy  # noqa: F401
from .talent import hhi, hhi_penalty_factor, talent_risk_adjustment  # noqa: F401
from .vr import vr_scores  # noqa: F401
