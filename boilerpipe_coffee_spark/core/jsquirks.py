"""JavaScript-semantics helpers.

The reference engine (inquisitiveSoft/Boilerpipe-Coffee, compiled to
``lib/Boilerpipe.js``) runs under Node, so its string/number semantics
are JavaScript's.  The north rule demands per-document span-sequence
equality with that artifact *as executed*, so every helper here
replicates a JS behavior precisely rather than using the Python
near-equivalent:

- JS ``\\s`` / ``\\w`` / ``\\W`` / ``\\b`` character classes are NOT the
  same as Python's unicode-aware defaults (JS ``\\w`` is ASCII).
- ``undefined``/NaN comparison semantics: every ``<``/``<=``/``>``/``>=``
  and ``==`` against undefined is false while ``!=`` is true.  We model
  JS ``undefined`` and ``NaN`` numerics uniformly as ``float('nan')``,
  which gives exactly those comparison results in Python.
- ``String.prototype`` extensions from the reference
  (``source/CommonExtensions.coffee:3-21``).
"""

from __future__ import annotations

import math
import re

NAN = float("nan")

# JS RegExp \s (ES2015+), spelled out because Python's unicode \s
# differs (adds \x1c-\x1f and \x85, lacks ﻿).
JS_WS = (
    "\t\n\x0b\x0c\r \xa0 "
    "           "
    "    　﻿"
)

_RE_STRIP = re.compile(rf"^[{JS_WS}]+|[{JS_WS}]+$")
# TextBlock text trim: /^\s+|\n+$/g  (source/Document.coffee:19) --
# leading JS-whitespace and TRAILING NEWLINES ONLY (trailing spaces
# survive; see tests/Tests.coffee:46-66 in the reference).
_RE_BLOCK_TRIM = re.compile(rf"^[{JS_WS}]+|\n+$")

# Boilerpipe tokenizer: /?[\w"'.,!@\-:;$?()/]+/g
# (source/Parser.coffee:298-299).  JS \w is ASCII [A-Za-z0-9_].
RE_TOKEN = re.compile(r"?[A-Za-z0-9_\"'.,!@\-:;$?()/]+")
# String::isWord -> /[^\W_]/ (source/CommonExtensions.coffee:9-10)
RE_IS_WORD = re.compile(r"[A-Za-z0-9]")
# String::numberOfWords -> /\w+/g (CommonExtensions.coffee:13-14)
RE_WORDS = re.compile(r"[A-Za-z0-9_]+")
# TextBlock numWords fallback: text.split(/\W+/) (Document.coffee:22)
RE_NON_WORD_RUN = re.compile(r"[^A-Za-z0-9_]+")


def strip_whitespace(s: str) -> str:
    """String::stripWhitespace (CommonExtensions.coffee:3-4)."""
    return _RE_STRIP.sub("", s)


def js_normalize(s: str) -> str:
    """String::normalize = stripWhitespace().toLowerCase() (:6-7)."""
    return strip_whitespace(s).lower()


def block_trim(s: str) -> str:
    """TextBlock text trim regex (Document.coffee:19)."""
    return _RE_BLOCK_TRIM.sub("", s)


def is_word(token: str) -> bool:
    """String::isWord (CommonExtensions.coffee:9-10)."""
    return RE_IS_WORD.search(token) is not None


def tokenize(text: str) -> list[str]:
    """Parser tokenizeString (Parser.coffee:298-299)."""
    return RE_TOKEN.findall(text)


class ReferenceThrow(RuntimeError):
    """Raised where the reference implementation throws at runtime.

    Known throw sites (SURVEY.md section 2.8):
    - Q9  KeepLargestBlockFilter reduce on empty contentBlocks
          (lib/Boilerpipe.js:894)
    - nested <a> recovery calls an undefined bare ``endElement``
      (source/Parser.coffee:107 -> ReferenceError)
    - Q10 CanolaFilter / MinWordsFilter undefined identifiers
    Documents hitting these are quarantined, not failed.
    """


def number_of_words(s: str) -> int:
    """String::numberOfWords -- throws in JS when no match (null.length).

    We raise the same class of error so quarantine handling matches.
    """
    m = RE_WORDS.findall(s)
    if not m:
        raise ReferenceThrow("numberOfWords on wordless string (JS TypeError)")
    return len(m)


def split_word_count(text: str) -> int:
    """JS ``text.split(/\\W+/).length`` (Document.coffee:22 fallback).

    JS String.split with a regex keeps leading/trailing empty strings,
    matching Python's re.split here.
    """
    return len(RE_NON_WORD_RUN.split(text))


def js_div(a: float, b: float) -> float:
    """JS division: x/0 -> +-Infinity, 0/0 -> NaN, NaN propagates."""
    if math.isnan(a) or math.isnan(b):
        return NAN
    if b == 0:
        if a == 0:
            return NAN
        return math.inf if a > 0 else -math.inf
    return a / b

