"""Driver-facing query registry, assembled from the per-family modules.

Conventions (every family module follows them):
- every callable takes (spark, sf_dir) and returns a DataFrame;
- every computed column is aliased identically in Spark and oracle SQL
  (the driver hash-compares values after sorting columns by name);
- floating-point outputs are rounded so cross-engine summation-order noise
  cannot flip the hash.

Importing the family modules registers their queries; ``QUERIES`` and
``ORACLES`` keep registration order.  Every oracle must name a registered
query, which is checked at import.
"""

from __future__ import annotations

from ._shared import ORACLES, QUERIES, QueryFn, _doc_corpus, _scratch_tag, _t
from . import ann as _ann            # noqa: F401  (registration side-effect)
from . import dedup as _dedup        # noqa: F401
from . import graph as _graph        # noqa: F401
from . import multimodal as _mm      # noqa: F401
from . import streaming as _str      # noqa: F401
from . import surveillance as _sur   # noqa: F401
from . import text as _text          # noqa: F401
from . import warehouse as _wh       # noqa: F401
from .dedup import MINHASH_CFG

__all__ = [
    "MINHASH_CFG",
    "ORACLES",
    "QUERIES",
    "QueryFn",
]


_stray = [n for n in ORACLES if n not in QUERIES]
if _stray:
    raise RuntimeError(f"oracles without queries: {_stray}")
