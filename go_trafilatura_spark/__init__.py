"""go_trafilatura_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of
markusmobius/go-trafilatura (reference at /root/reference, read-only) as
a Spark-first pipeline: a vectorized Arrow kernel (mapInArrow) runs the
per-document extraction cascade; everything corpus-level (dedup, joins,
aggregation, skew-safe partitioning) is DataFrame/Catalyst work.

Layout:
  etree/css/selectors/settings/utils  — document model + rule lists
  htmlprocessing/main_extractor/baseline/metadata/external/core — cascade
  kernel    — Arrow-vectorized Spark kernel (mapInArrow)
  pipeline  — DataFrame pipeline: scan → content-keyed exchange → kernel → sink
  textops   — corpus-level training-data ops (dedup, lang-ID, quality, ANN)
  fixtures  — deterministic synthetic page/golden generator
"""

from .core import ExtractError, ExtractResult, extract, extract_document
from .options import BALANCED, FAVOR_PRECISION, FAVOR_RECALL, Config, Options

__version__ = "0.1.0"

__all__ = [
    "extract",
    "extract_document",
    "ExtractResult",
    "ExtractError",
    "Options",
    "Config",
    "BALANCED",
    "FAVOR_RECALL",
    "FAVOR_PRECISION",
]
