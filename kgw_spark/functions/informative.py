"""The reference's value filter (kgw/_shared/extract.py:356-366):
a property value is kept only if it is not None, not "", and not NaN.
Exact Python port for the vectorized reader UDFs.
"""

from __future__ import annotations

import math


def is_informative_value(value) -> bool:
    if value is None or value == "":
        return False
    try:
        return not math.isnan(value)
    except TypeError:
        return True
