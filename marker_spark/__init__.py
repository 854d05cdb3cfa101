"""marker-spark: PySpark-native mergeable-sketch engine.

Public API surface; see README.md for the architecture overview and
SURVEY.md for the reference analysis this engine derives from.
"""

from . import _pyworker  # noqa: F401  (first: guards the worker's per-task zip re-parse)
from .agg import (  # noqa: F401
    build_partials_arrow,
    collect_sketch,
    collect_sketches,
    merge_partials,
    pack_state,
    salted_repartition,
    sketch_agg,
    unpack_state,
)
from .params import BloomParams, CacheParams  # noqa: F401
from .sketches.bloom import BloomSketch  # noqa: F401
from .sketches.cms import CmsSketch  # noqa: F401
from .sketches.hll import HllSketch  # noqa: F401
from .sketches.kll import KllSketch  # noqa: F401
from .sketches.minhash import MinHashSketch  # noqa: F401
from .sketches.misra_gries import MisraGriesSketch  # noqa: F401
from .sketches.tdigest import TDigestSketch  # noqa: F401
from .sketches.theta import ThetaSketch  # noqa: F401

__all__ = [
    "BloomParams",
    "BloomSketch",
    "CacheParams",
    "CmsSketch",
    "HllSketch",
    "KllSketch",
    "MinHashSketch",
    "MisraGriesSketch",
    "TDigestSketch",
    "ThetaSketch",
    "build_partials_arrow",
    "collect_sketch",
    "collect_sketches",
    "merge_partials",
    "pack_state",
    "salted_repartition",
    "sketch_agg",
    "unpack_state",
]

__version__ = "0.1.0"
