"""Text kernels — cleaning, excerpting, content hashing, language sniff.

Reference semantics (file:line into /root/reference/meilisearchcrawler/):

* ``remove_common_patterns`` crawler.py:502-517 (boilerplate regex list,
  ported verbatim as *behavior* — these strings define the output)
* ``clean_text``             crawler.py:594-601 (P8)
* ``create_excerpt``         crawler.py:574-591 (P9)
* ``get_content_hash``       crawler.py:393-396 (P4)
* language sniff             crawler.py:1040-1043 (P11)

These pure-Python kernels run inside the engine's Arrow-batched fetch
UDF (and in the oracle). ``create_excerpt``'s stateful sentence
accumulation is not expressible in pure Spark SQL (SURVEY.md §2.2 P9),
so the kernels have no Column forms.
"""

from __future__ import annotations

import hashlib
import json
import re

from ..config import MAX_CONTENT_LEN, MAX_EXCERPT_LEN

# crawler.py:503-514 — boilerplate removal patterns (behavioral constants).
_PATTERNS_TO_REMOVE = [
    r"Partager\s*:.*?(?=\n\n|\Z)",
    r"Publications similaires.*?(?=\n\n|\Z)",
    r"En tant qu'adhérent.*?(?=\n\n|\Z)",
    r"J'accède aux.*?(?=\n\n|\Z)",
    r"Suivez-nous sur.*?(?=\n\n|\Z)",
    r"Abonnez-vous.*?(?=\n\n|\Z)",
    r"Rejoignez-nous.*?(?=\n\n|\Z)",
    r"Inscrivez-vous.*?(?=\n\n|\Z)",
    r"Cookies?\s+policy.*?(?=\n\n|\Z)",
    r"Privacy\s+policy.*?(?=\n\n|\Z)",
]
_COMPILED_REMOVE = [re.compile(p, re.IGNORECASE | re.DOTALL) for p in _PATTERNS_TO_REMOVE]
_WS = re.compile(r"\s+")
_CRLF = re.compile(r"[\r\n\t]")
_CTRL = re.compile(r"[\x00-\x1f\x7f-\x9f]")
_SENTENCE_SPLIT = re.compile(r"(?<=[.!?])\s+")


def remove_common_patterns(text: str) -> str:
    """crawler.py:502-517."""
    for pat in _COMPILED_REMOVE:
        text = pat.sub("", text)
    return text.strip()


def clean_text(text: str, max_length: int = MAX_CONTENT_LEN) -> str:
    """P8. crawler.py:594-601 — collapse whitespace, strip CR/LF/TAB,
    drop boilerplate, strip control chars, truncate."""
    if not text:
        return ""
    text = _WS.sub(" ", text)
    text = _CRLF.sub(" ", text)
    text = remove_common_patterns(text)
    text = _CTRL.sub("", text)
    return text.strip()[:max_length]


def create_excerpt(content: str, max_length: int = MAX_EXCERPT_LEN) -> str:
    """P9. crawler.py:574-591 — accumulate sentences ≥20 chars up to
    ``max_length``; fall back to a prefix; ellipsis if truncated."""
    if not content:
        return ""
    sentences = _SENTENCE_SPLIT.split(content)
    excerpt = ""
    for sentence in sentences:
        if len(sentence.strip()) < 20:
            continue
        if len(excerpt) + len(sentence) <= max_length:
            excerpt += sentence + " "
        else:
            break
    if not excerpt.strip():
        excerpt = content[:max_length]
    excerpt = excerpt.strip()
    if len(content) > len(excerpt):
        excerpt = excerpt.rstrip(".!?") + "..."
    return excerpt


def get_content_hash(content: str, title: str, images: list[dict], excerpt: str) -> str:
    """P4. crawler.py:393-396 — md5 over
    ``f"{title}|{excerpt}|{content}|{json.dumps(images, sort_keys=True)}"``."""
    images_str = json.dumps(images, sort_keys=True)
    content_str = f"{title}|{excerpt}|{content}|{images_str}"
    return hashlib.md5(content_str.encode()).hexdigest()


def sniff_lang(lang_attr: str | None, default: str = "fr") -> str:
    """P11. crawler.py:1040-1043 — ``<html lang="xx-YY">`` → ``xx``."""
    if lang_attr:
        return lang_attr.split("-")[0].lower()
    return default

