"""Index-spec / config sources — reference config.py + loader.py semantics.

- load_index_spec: YAML spec file → dict with recursive whitespace trim
  (config.py:102-111, 275-278)
- select_indices: `selected_indices` membership filter with warn-on-unknown,
  empty→all (loader.py:114-148, config.py:222-246)
- load_about_pages: list-of-pages YAML → docs keyed ``page{n}``, entries
  missing the `page` field skipped (loader.py:661-707)
- env override typing: bool/int parsing of env strings (config.py:79-100)
"""

from __future__ import annotations

import logging

logger = logging.getLogger(__name__)

try:
    import yaml
except ImportError:  # pragma: no cover - pyyaml ships with pyspark env
    yaml = None


def _trim(obj):
    """Recursive whitespace trim over parsed YAML (config.py:102-111)."""
    if isinstance(obj, str):
        return obj.strip()
    if isinstance(obj, dict):
        return {_trim(k): _trim(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_trim(v) for v in obj]
    return obj


def load_index_spec(path: str) -> dict:
    if yaml is None:
        raise RuntimeError("pyyaml unavailable")
    with open(path) as f:
        spec = yaml.safe_load(f)
    return _trim(spec)


def select_indices(available: list[str], selected: list[str] | None) -> list[str]:
    """Empty/None selection → all; unknown names warned and ignored."""
    if not selected:
        return list(available)
    selected = [s.strip() for s in selected if s and s.strip()]
    avail = set(available)
    unknown = [s for s in selected if s not in avail]
    for s in unknown:
        logger.warning("selected index %r not found in spec; ignoring", s)
    return [s for s in selected if s in avail]


def parse_env_value(value: str, expected_type: type):
    """Typed env-string parsing (config.py:79-100): bools accept
    true/false/1/0/yes/no case-insensitively; ints via int()."""
    if expected_type is bool:
        v = value.strip().lower()
        if v in ("true", "1", "yes", "on"):
            return True
        if v in ("false", "0", "no", "off"):
            return False
        raise ValueError(f"not a boolean: {value!r}")
    if expected_type is int:
        return int(value.strip())
    if expected_type is list:
        return [s.strip() for s in value.split(",") if s.strip()]
    return value


def load_about_pages(spark, path: str):
    """About-file source (loader.py:661-707): YAML list of page dicts →
    DataFrame(doc_id='page{n}', page, title, content); entries without a
    `page` field are skipped (loader.py:693-697), numbering follows the
    original list position as the reference's enumerate does."""
    if yaml is None:
        raise RuntimeError("pyyaml unavailable")
    with open(path) as f:
        pages = yaml.safe_load(f) or []
    rows = []
    for n, entry in enumerate(pages):
        if not isinstance(entry, dict) or "page" not in entry:
            logger.warning("about entry %d missing 'page' field; skipped", n)
            continue
        rows.append(
            (
                f"page{n}",
                str(entry.get("page")),
                str(entry.get("title", "")),
                str(entry.get("content", "")),
            )
        )
    return spark.createDataFrame(
        rows, "doc_id string, page string, title string, content string"
    )
