"""Distributed operators (SURVEY.md §2.4-§2.8)."""

from .pip_join import pip_join, BoundaryIndex
from .tile import tile_aggregate, tile_rollup
from .knn import knn_join

__all__ = [
    "pip_join",
    "BoundaryIndex",
    "tile_aggregate",
    "tile_rollup",
    "knn_join",
]
