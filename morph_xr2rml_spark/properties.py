"""morph.properties compatibility: read the reference's configuration
file format (MorphProperties.scala) so an existing morph-xr2rml user can
point this engine at their current config + mapping unchanged.

Database connection entries (MongoDB/MySQL URLs) don't apply — sources
are DataFrames here — and neither does querytranslator.cachequeryresult:
both are ignored.  The semantic switches do apply:
  literal.trim, uricolumn.encode_unsafe_chars_*, output.syntax.rdf,
  mappingdocument.file.path, datatranslation.limit/offset.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Optional

from .translate import EngineConfig


def parse_properties(text: str) -> dict[str, str]:
    """Java-properties subset: key=value lines, # comments."""
    out: dict[str, str] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(("#", "!")):
            continue
        key, sep, value = line.partition("=")
        if sep:
            out[key.strip()] = value.strip()
    return out


def _bool(props: dict, key: str, default: bool) -> bool:
    v = props.get(key)
    if v is None:
        return default
    return v.strip().lower() in ("true", "yes", "1")


@dataclass
class MorphProperties:
    """The subset of the reference's runtime options that applies here."""
    mapping_path: Optional[str]
    config: EngineConfig
    output_syntax: str              # TURTLE | N-TRIPLE | ...
    tm_limit: Optional[int]
    tm_offset: Optional[int] = None

    @classmethod
    def from_text(cls, text: str, base_dir: str = ".") -> "MorphProperties":
        props = parse_properties(text)
        cfg = EngineConfig(
            literal_trim=_bool(props, "literal.trim", True),
            encode_unsafe_chars_in_uri=_bool(
                props, "uricolumn.encode_unsafe_chars", True),
            encode_unsafe_chars_in_db_values=_bool(
                props, "uricolumn.encode_unsafe_chars_dbvalues", True),
        )
        mapping = props.get("mappingdocument.file.path")
        if mapping and not os.path.isabs(mapping):
            mapping = os.path.join(base_dir, mapping)
        limit = props.get("datatranslation.limit")
        offset = props.get("datatranslation.offset")
        return cls(
            mapping_path=mapping,
            config=cfg,
            output_syntax=props.get("output.syntax.rdf", "TURTLE"),
            tm_limit=int(limit) if limit else None,
            tm_offset=int(offset) if offset else None,
        )

    @classmethod
    def from_file(cls, path: str) -> "MorphProperties":
        with open(path, "r", encoding="utf-8") as f:
            return cls.from_text(f.read(), base_dir=os.path.dirname(path))
