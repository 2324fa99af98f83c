"""Robust parsing of LLM JSON responses.

Real backends wrap JSON in markdown fences, prepend prose, or emit
comments; the deterministic stub never does, but every parse site
goes through this function so swapping in a real model changes
nothing else.  Same robustness semantics as the reference's
``jsonfy_llm_response`` (Semantic-OLAP/Utils/jsonfy_result.py:5-50):
strip code fences, extract the outermost ``{...}``/``[...]`` span
when the text has prose around it, drop ``//`` and ``/* */``
comments, fall back to Python-literal parsing, and finally to the
caller's default.
"""

from __future__ import annotations

import ast
import json
import re
from typing import Any

_FENCE = re.compile(r"```(?:\w+)?\n(.*?)```", flags=re.DOTALL)


def _strip_comments(text: str) -> str:
    text = re.sub(r"//.*?(?=\n|$)", "", text)
    return re.sub(r"/\*.*?\*/", "", text, flags=re.DOTALL)


def _extract_span(text: str) -> str:
    """Outermost JSON object/array span when prose surrounds it."""
    for open_ch, close_ch in (("{", "}"), ("[", "]")):
        start = text.find(open_ch)
        end = text.rfind(close_ch)
        if start != -1 and end != -1 and start < end:
            return text[start:end + 1]
    return text


def parse_llm_json(response: str, default: Any = None) -> Any:
    """Parse an LLM response into a JSON value, repairing common damage.

    Returns ``default`` when nothing parseable remains (unlike the
    reference, which returns the raw string — a typed default is
    safer for plan consumers).  A non-``None`` ``default`` also fixes
    the answer's type: a parsed value of another type (a list where a
    dict plan was asked for) returns ``default`` too, so callers never
    re-check the shape.
    """
    text = _FENCE.sub(r"\1", response or "").strip()
    if text and not (
        (text[0] == "{" and text[-1] == "}")
        or (text[0] == "[" and text[-1] == "]")
    ):
        text = _extract_span(text)
    for candidate in (text, _strip_comments(text)):
        for parse in (json.loads, ast.literal_eval):
            try:
                value = parse(candidate)
            except (ValueError, SyntaxError):
                continue
            if default is None or isinstance(value, type(default)):
                return value
            return default
    return default
