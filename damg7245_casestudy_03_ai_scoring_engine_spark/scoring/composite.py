"""Composite Org-AI-R score.

Production formula (reference app/scoring_engine/composite.py:49-62,
scripts/run_scoring_engine.py:444-450):

    Org-AI-R = (1−β)·(α·VR + (1−α)·HR) + β·Synergy,  α=0.60, β=0.12

clamped [0,100].  The maturity band ladder (composite.py:17-34) is
`functions.core.score_band_sql`.
"""

from __future__ import annotations

from ..functions.core import clamp_sql, flit
from .config import COMPOSITE_ALPHA, COMPOSITE_BETA


def composite_sql(
    vr: str,
    hr: str,
    synergy: str,
    alpha: float = COMPOSITE_ALPHA,
    beta: float = COMPOSITE_BETA,
) -> str:
    """The composite as an SQL fragment; (1-alpha)/(1-beta) are
    computed python-side and emitted via shortest round-tripping repr
    (bit-identical literals)."""
    core = f"{flit(alpha)} * {vr} + {flit(1.0 - alpha)} * {hr}"
    return clamp_sql(
        f"{flit(1.0 - beta)} * ({core}) + {flit(beta)} * {synergy}", 0.0, 100.0
    )
