"""Extraction options/config (core-options.go:73-177)."""

from __future__ import annotations

from dataclasses import dataclass, field, fields

BALANCED = 0
FAVOR_RECALL = 1
FAVOR_PRECISION = 2


@dataclass
class Config:
    cache_size: int = 4096
    max_duplicate_count: int = 2
    min_duplicate_check_size: int = 100
    min_extracted_size: int = 250
    min_extracted_comment_size: int = 1
    min_output_size: int = 1
    min_output_comment_size: int = 1


@dataclass
class Options:
    config: Config = field(default_factory=Config)
    original_url: str | None = None
    target_language: str = ""
    enable_fallback: bool = False
    # FallbackCandidates (core-options.go:181-199): Others = user
    # candidate trees tried first; Readability/Distiller = pre-computed
    # trees that REPLACE the built-in extractors in their slot
    # (external.go:129-137/:143-148).
    fallback_candidates: list | None = None
    fallback_readability: object | None = None
    fallback_distiller: object | None = None
    focus: int = BALANCED
    exclude_comments: bool = False
    exclude_tables: bool = False
    include_images: bool = False
    include_links: bool = False
    blacklisted_authors: list[str] = field(default_factory=list)
    deduplicate: bool = False
    has_essential_metadata: bool = False
    max_tree_size: int = 0
    prune_selector: str = ""
    # date extraction: "fast" (first cascade tier hit), "extensive"
    # (every tier, whole-document scans), "default" (extensive when
    # enable_fallback is set, else fast) or "disabled"
    date_mode: str = "fast"

    @classmethod
    def from_dict(cls, d: dict) -> "Options":
        """Options from a plain dict of field values, ``config`` a dict of
        Config fields. An unknown key, or a value its field cannot take,
        raises ValueError naming the key."""
        opts = cls()
        known = {f.name: f.type for f in fields(cls)}
        config_known = {f.name: f.type for f in fields(Config)}
        for k, v in (d or {}).items():
            if k not in known:
                raise ValueError(f"unknown option key: {k}")
            if k == "config":
                if not isinstance(v, dict):
                    raise ValueError(f"invalid value for option config: {v!r}")
                for ck, cv in v.items():
                    if ck not in config_known:
                        raise ValueError(f"unknown option key: config.{ck}")
                    _check_value(f"config.{ck}", config_known[ck], cv)
                    setattr(opts.config, ck, cv)
            else:
                _check_value(k, known[k], v)
                setattr(opts, k, v)
        return opts


_CHOICES = {
    "focus": (BALANCED, FAVOR_RECALL, FAVOR_PRECISION),
    "date_mode": ("fast", "extensive", "default", "disabled"),
}


def _check_value(key: str, kind: str, value) -> None:
    """Raise ValueError naming ``key`` unless ``value`` is one of its
    choices, a bool for a bool field, a non-negative int for an int
    field, a string for a string field or a list of strings for a
    list-of-strings field; other fields take any value."""
    choices = _CHOICES.get(key)
    if choices is not None:
        ok = type(value) is type(choices[0]) and value in choices
    elif kind == "bool":
        ok = type(value) is bool
    elif kind == "int":
        ok = type(value) is int and value >= 0
    elif kind == "str":
        ok = type(value) is str
    elif kind == "list[str]":
        ok = type(value) is list and all(type(item) is str for item in value)
    else:
        return
    if not ok:
        raise ValueError(f"invalid value for option {key}: {value!r}")
