"""Affine transforms over coordinate arrays.

Parity target: ``geo/src/algorithm/affine_ops.rs:36`` — a composable 2x3
matrix [[a, b, xoff], [d, e, yoff]] applied as
x' = a*x + b*y + xoff ; y' = d*x + e*y + yoff.
Compose order matches the reference: ``compose(A, B)`` applies B first,
then A (matrix product A·B). Rotate/scale/skew/translate constructors
mirror ``rotate.rs / scale.rs / skew.rs / translate.rs`` (about an
anchor point, degrees for angles).
"""

from __future__ import annotations

import numpy as np


def compose(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """A ∘ B: apply B first, then A."""
    a3 = np.vstack([a, [0.0, 0.0, 1.0]])
    b3 = np.vstack([b, [0.0, 0.0, 1.0]])
    return (a3 @ b3)[:2]


def translate(xoff: float, yoff: float) -> np.ndarray:
    return np.array([[1.0, 0.0, xoff], [0.0, 1.0, yoff]], dtype=np.float64)


def scale(xfact: float, yfact: float, origin=(0.0, 0.0)) -> np.ndarray:
    ox, oy = origin
    return np.array(
        [[xfact, 0.0, ox - ox * xfact], [0.0, yfact, oy - oy * yfact]],
        dtype=np.float64,
    )


def rotate(degrees: float, origin=(0.0, 0.0)) -> np.ndarray:
    ox, oy = origin
    r = np.radians(degrees)
    c, s = np.cos(r), np.sin(r)
    return np.array(
        [
            [c, -s, ox - ox * c + oy * s],
            [s, c, oy - ox * s - oy * c],
        ],
        dtype=np.float64,
    )


def skew(degrees_x: float, degrees_y: float, origin=(0.0, 0.0)) -> np.ndarray:
    ox, oy = origin
    tx = np.tan(np.radians(degrees_x))
    ty = np.tan(np.radians(degrees_y))
    return np.array(
        [[1.0, tx, -oy * tx], [ty, 1.0, -ox * ty]], dtype=np.float64
    )


def apply(matrix: np.ndarray, coords: np.ndarray) -> np.ndarray:
    """Apply a 2x3 matrix to an (n, 2) coordinate array."""
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) == 0:
        return coords.copy()
    return coords @ matrix[:, :2].T + matrix[:, 2]
