"""Datatype inference and lexical-form normalization.

Mirrors:
  - JSON type → XSD datatype inference
    (/root/reference/morph-xr2rml-mongo/.../MorphMongoDataTranslator.scala:403-419);
  - dateTime / boolean lexical normalization
    (/root/reference/morph-base/.../MorphBaseDataTranslator.scala:313-322).
"""

from __future__ import annotations

import math
from decimal import Decimal
from typing import Any, Optional

from ..namespaces import XSD_BOOLEAN, XSD_DATETIME, XSD_DECIMAL, XSD_INTEGER


def infer_datatype(value: Any) -> Optional[str]:
    """JSON value type → XSD datatype; None for strings/others."""
    # bool must be checked before int (bool is an int subclass in Python)
    if isinstance(value, bool):
        return XSD_BOOLEAN
    if isinstance(value, int):
        return XSD_INTEGER
    if isinstance(value, float):
        return XSD_DECIMAL
    return None


def to_lexical(value: Any) -> str:
    """Java's .toString for JSON scalar values (booleans lowercase)."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        return _java_double(value)
    return str(value)


def _java_double(x: float) -> str:
    """Double.toString: plain decimal in [1e-3, 1e7) (where Python's
    repr agrees), else one digit, a fraction and an exponent
    ("1.0E7", "1.0E-5")."""
    if not math.isfinite(x):
        return "NaN" if math.isnan(x) else \
            ("Infinity" if x > 0 else "-Infinity")
    if x == 0 or 1e-3 <= abs(x) < 1e7:
        return repr(x)
    sign, digits, exp = Decimal(repr(x)).as_tuple()
    d = "".join(map(str, digits)).rstrip("0")
    e = exp + len(digits) - 1
    if len(d) == 1:
        # the form always prints two digits; Java picks the two closest
        # to the exact value (Double.MIN_VALUE is "4.9E-324")
        two = Decimal(abs(x)).scaleb(-e).quantize(Decimal("0.1"))
        if float(two.scaleb(e)) == abs(x) and two < 10:
            d = str(two).replace(".", "")
    return ("-" if sign else "") + d[0] + "." + (d[1:] or "0") + f"E{e}"


def normalize_datetime(value: str) -> str:
    """xsd:dateTime: ' ' separator → 'T' (MorphBaseDataTranslator.scala:313-315)."""
    return value.strip().replace(" ", "T")


def normalize_boolean(value: str) -> str:
    """xsd:boolean: T/True/1 (case-insensitive) → 'true', else 'false'."""
    if value.lower() in ("t", "true", "1"):
        return "true"
    return "false"
