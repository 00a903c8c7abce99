"""Point-in-polygon oracle: vectorized numpy even-odd ray casting.

The library refines point-in-polygon candidates with a Catalyst
expression (``operators.spatial._ray_cast_expr``). This is an
independent reference with the same arithmetic, so the two agree
bit for bit, on ring edges and vertices too.
"""

import numpy as np


def ray_cast(px, py, ring_x, ring_y):
    """Vectorized even-odd ray casting: points (n,) vs one ring (m,)."""
    inside = np.zeros(len(px), dtype=bool)
    x1, y1 = ring_x[:-1], ring_y[:-1]
    x2, y2 = ring_x[1:], ring_y[1:]
    for xa, ya, xb, yb in zip(x1, y1, x2, y2):
        cond = (ya > py) != (yb > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xb - xa) * (py - ya) / (yb - ya) + xa
        inside ^= cond & (px < xint)
    return inside
