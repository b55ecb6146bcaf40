"""Extension query registry aggregator.

The per-family modules (``ext_dedup``, ``ext_text``,
``ext_multimodal``, shared helpers in ``ext_common``) each export a
``*_QUERIES`` dict; this module merges them into ``EXTENSION_QUERIES``
in family order.

Floating-point discipline (everything here is checked by
value-hash):
* ratios/similarities are single divisions of exact integers;
* sums are over exact integers, so no result depends on the order
  in which a double accumulates.
"""

from __future__ import annotations

# Re-export every public query callable and oracle string so
# pre-split imports (tests, notebooks) keep working unchanged.
from .ext_common import *  # noqa: F401,F403
from .ext_dedup import *  # noqa: F401,F403
from .ext_text import *  # noqa: F401,F403
from .ext_multimodal import *  # noqa: F401,F403

from . import (
    ext_dedup,
    ext_text,
    ext_multimodal,
)

EXTENSION_QUERIES: dict[str, tuple] = {
    **ext_dedup.DEDUP_QUERIES,
    **ext_text.TEXT_QUERIES,
    **ext_multimodal.MULTIMODAL_QUERIES,
}
