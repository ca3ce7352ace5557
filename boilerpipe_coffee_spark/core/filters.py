"""The 16 filter operators (``source/Filters.coffee``), replicated
against the compiled behavior (``lib/Boilerpipe.js:560-1280``)
including every output-visible quirk from SURVEY.md section 2.8.

Each filter is a callable ``process(document) -> bool`` mutating the
document in place, exactly like the reference.  The Spark engine runs
these inside its Arrow batch stages (operators/arrow_extract.py and the
staged path's fusion tail, operators/fusion.py); the staged path
mirrors the stateless filters its chains use as columnar DataFrame
stages (operators/columnar.py).
"""

from __future__ import annotations

import math
import re

from .document import MIGHT_BE_CONTENT, END_OF_TEXT, TITLE, TextBlock, TextDocument
from .jsquirks import (
    NAN,
    ReferenceThrow,
    js_normalize,
    number_of_words,
    strip_whitespace,
)


class BaseFilter:
    def process(self, document: TextDocument) -> bool:  # Filters.coffee:46-50
        return False


class FilterChain(BaseFilter):
    """Sequential composition (Filters.coffee:54-65).  Returns only the
    last filter's flag (quirk Q12; irrelevant to output)."""

    def __init__(self, filters):
        self.filters = filters

    def process(self, document):
        found_changes = False
        for f in self.filters:
            found_changes = f.process(document)
        return found_changes


class MarkEverythingContentFilter(BaseFilter):
    def process(self, document):  # Filters.coffee:70-74
        for tb in document.text_blocks:
            tb.is_content = True
        # coffee implicit return: last loop value; callers ignore it


class InvertedFilter(BaseFilter):
    def process(self, document):  # Filters.coffee:78-87
        if not document.text_blocks:
            return False
        for tb in document.text_blocks:
            tb.is_content = not tb.is_content
        return True


class RemoveNonContentBlocksFilter(BaseFilter):
    """Quirk Q7: the reference iterates the live array with a cached
    length while splicing (lib/Boilerpipe.js:629-641), so the element
    after every removal is skipped and runs of consecutive non-content
    blocks are only alternately removed.  Reads past the shrunk end
    hit JS ``undefined`` -> treated as non-content -> removeObject is a
    guarded no-op.  Replicate the scan exactly."""

    def process(self, document):
        blocks = document.text_blocks
        n = len(blocks)  # cached _len
        found_changes = False
        i = 0
        while i < n:
            tb = blocks[i] if i < len(blocks) else None
            if tb is None or not tb.is_content:
                if tb is not None:
                    document.remove_text_block(tb)
                found_changes = True
            i += 1
        return found_changes


class MinWordsFilter(BaseFilter):
    """Broken in the reference: references undefined ``tb``/``self``
    (Filters.coffee:114) -> ReferenceError the moment a content block
    is seen (quirk Q10/Q11 ledger).  ``strict=True`` mirrors the crash;
    ``strict=False`` implements the documented intent."""

    def __init__(self, min_words, strict=False):
        self.min_words = min_words
        self.strict = strict

    def process(self, document):
        found_changes = False
        for tb in document.text_blocks:
            if tb.is_content:
                if self.strict:
                    raise ReferenceThrow(
                        "MinWordsFilter references undefined tb/self"
                    )
                if tb.num_words < self.min_words:
                    tb.is_content = False
                    found_changes = True
        return found_changes


# JS: /\b[\,\.\:\;\!\?]+(?:\s+|\Z)/ -- JS has no \Z, so it is a literal
# 'Z' alternative (Filters.coffee:139).  \b and \s are JS classes; \b
# is ASCII in JS, and Python's \b with re.ASCII matches.
_RE_CLAUSE_DELIM = re.compile(r"\b[,.:;!?]+(?:\s+|Z)", re.ASCII)
_RE_JS_SPLIT_WS = re.compile(r"\s+", re.ASCII)


class MinClauseWordsFilter(BaseFilter):
    def __init__(self, min_words=5, accept_clauses_without_delimiter=False):
        self.min_words = min_words
        self.accept = accept_clauses_without_delimiter

    def process(self, document):  # Filters.coffee:121-156
        found_changes = False
        for tb in document.text_blocks:
            if not tb.is_content:
                continue
            has_clause = False
            text = ("" if tb.text is None else tb.text) + " "
            possible_clauses = _RE_CLAUSE_DELIM.split(text)
            n = len(possible_clauses)
            for idx, clause in enumerate(possible_clauses):
                if idx < n - 1 or self.accept:
                    has_clause = self._is_clause_accepted(clause)
                    if has_clause:
                        break
            if not has_clause:
                tb.is_content = False
                found_changes = True
        return found_changes

    def _is_clause_accepted(self, text):
        # JS ' a b'.split(/\s+/) keeps the leading empty string
        words = _RE_JS_SPLIT_WS.split(text)
        return len(words) >= self.min_words


_RE_PARAGRAPH = re.compile(r"[\n\r]+")


class SplitParagraphBlocksFilter(BaseFilter):
    def process(self, document):  # Filters.coffee:160-185
        found_changes = False
        new_blocks = []
        for tb in document.text_blocks:
            paragraphs = _RE_PARAGRAPH.split("" if tb.text is None else tb.text)
            if len(paragraphs) < 2:
                new_blocks.append(tb)
            else:
                is_content = tb.is_content
                labels = tb.labels  # shared reference, like the JS
                for paragraph in paragraphs:
                    ntb = TextBlock(paragraph)  # quirk Q11 word count
                    ntb.is_content = is_content
                    ntb.labels = labels
                    new_blocks.append(ntb)
                found_changes = True
        if found_changes:
            document.text_blocks = new_blocks
        return found_changes


class SimpleBlockFusionProcessor(BaseFilter):
    """Merge adjacent blocks with equal textDensity; comparisons chain
    against the merged block's recomputed density
    (Filters.coffee:225-243).  Iteration is over a snapshot slice while
    removals hit the live list."""

    def process(self, document):
        blocks = document.text_blocks
        if len(blocks) < 2:
            return False
        found_changes = False
        previous = blocks[0]
        for current in blocks[1:]:  # snapshot, like CS `textBlocks[1..]`
            # JS NaN == NaN is false; float('nan') matches
            if previous is not None and previous.text_density == current.text_density:
                previous.merge_next(current)
                document.remove_text_block(current)
                found_changes = True
            else:
                previous = current
        return found_changes


class BlockProximityFusion(BaseFilter):
    """Filters.coffee:255-302 with quirks Q5 (startIndex=0 treated as
    missing) and Q6 (content merges into a non-content previousBlock
    when sameTagLevelOnly is false)."""

    def __init__(self, max_blocks_distance=1, content_only=False,
                 same_tag_level_only=False):
        self.max_blocks_distance = max_blocks_distance
        self.content_only = content_only
        self.same_tag_level_only = same_tag_level_only

    def process(self, document):
        blocks = document.text_blocks
        if len(blocks) < 2:
            return False

        start_index = None
        if self.content_only:
            for idx, tb in enumerate(blocks):
                if tb.is_content:
                    start_index = idx
                    break
            if not start_index:  # Q5: 0 and null both bail
                return False
        else:
            start_index = 0

        previous = blocks[start_index]
        found_changes = False
        for tb in blocks[start_index + 1 :]:  # snapshot slice
            if not tb.is_content:
                previous = tb
            else:
                diff_blocks = tb.offset_start - previous.offset_end - 1
                ok = False
                if diff_blocks <= self.max_blocks_distance:
                    # CS: !(contentOnly and not prev.isContent or not
                    # tb.isContent) or !(sameTagLevelOnly and
                    # prev.tagLevel != tb.tagLevel)
                    first = not (
                        (self.content_only and not previous.is_content)
                        or (not tb.is_content)
                    )
                    second = not (
                        self.same_tag_level_only
                        and previous.tag_level != tb.tag_level
                    )
                    if first or second:
                        ok = True
                if ok:
                    previous.merge_next(tb)
                    document.remove_text_block(tb)
                    found_changes = True
                else:
                    previous = tb
        return found_changes


class KeepLargestBlockFilter(BaseFilter):
    """Filters.coffee:307-341.  Quirk Q8: the argmax reduce keeps the
    LATER block on ties.  Quirk Q9: reduce on an empty content list
    throws in JS (only reachable when >=2 blocks survive)."""

    def __init__(self, expand_to_same_level_text=False):
        self.expand = expand_to_same_level_text

    def process(self, document):
        blocks = document.text_blocks
        if len(blocks) < 2:
            return False
        content_blocks = [tb for tb in blocks if tb.is_content]
        if not content_blocks:
            raise ReferenceThrow(
                "KeepLargestBlockFilter reduce on empty array (Q9)"
            )
        largest = content_blocks[0]
        for tb in content_blocks[1:]:
            if not (largest.num_words > tb.num_words):  # ties -> later
                largest = tb
        largest.is_content = True
        for tb in blocks:
            if tb is not largest:
                tb.is_content = False
                tb.add_label(MIGHT_BE_CONTENT)

        if self.expand and largest is not None:
            tag_level = largest.tag_level
            li = blocks.index(largest)
            for tb in blocks[li:]:
                tl = tb.tag_level
                if tl < tag_level:
                    break
                if tl == tag_level:
                    tb.is_content = True
            for tb in blocks[: li + 1]:
                tl = tb.tag_level
                if tl < tag_level:
                    break
                if tl == tag_level:
                    tb.is_content = True
        return True


class ExpandTitleToContentFilter(BaseFilter):
    def process(self, document):  # Filters.coffee:346-368
        title_index = None
        content_start = None
        for idx, tb in enumerate(document.text_blocks):
            if content_start is None and tb.has_label(TITLE):
                title_index = idx
            if content_start is None and tb.is_content:
                content_start = idx

        # CS: return false if contentStart <= titleIndex or titleIndex
        # == null; JS null coerces to 0 in <=
        cs = 0 if content_start is None else content_start
        ti = 0 if title_index is None else title_index
        if cs <= ti or title_index is None:
            return False

        found_changes = False
        # CS inclusive slice [titleIndex..contentStart]
        for tb in document.text_blocks[title_index : content_start + 1]:
            if tb.has_label(MIGHT_BE_CONTENT):
                tb.is_content = True
                found_changes = True
        return found_changes


class DocumentTitleMatchClassifier(BaseFilter):
    """Filters.coffee:376-439.  Quirk Q3: with useDocumentTitle=false,
    ``process`` reads a LOCAL potentialTitles that is only assigned when
    useDocumentTitle is true -> permanently a no-op returning false."""

    _PATTERNS = [
        re.compile(r"[ ]*[\|:][ ]*"),
        re.compile(r"[ ]*[\|:()][ ]*"),
        re.compile(r"[ ]*[\|:()\-][ ]*"),
        re.compile(r"[ ]*[\|,|:()\-][ ]*"),
    ]

    def __init__(self, title=None, use_document_title=False):
        self.use_document_title = use_document_title
        # constructor still builds instance potentialTitles; unused by
        # process (Q3) but kept for parity
        if use_document_title:
            self.potential_titles = []
        else:
            self.potential_titles = self._find_potential_titles("title")

    def process(self, document):
        potential_titles = None
        if self.use_document_title:
            potential_titles = self._find_potential_titles(document.title)
        if not potential_titles:
            return False
        for tb in document.text_blocks:
            text = js_normalize("" if tb.text is None else tb.text)
            for pt in potential_titles:
                if js_normalize(pt) == text:
                    tb.add_label(TITLE)
                    return True
        return False

    def _find_potential_titles(self, title):
        if title is None:
            return None
        title = strip_whitespace(title)
        if not title:
            return None
        potential = [title]
        for pattern in self._PATTERNS:
            match = self._longest_match(title, pattern)
            if match:
                potential.append(match)
        return potential

    def _longest_match(self, title, pattern):
        sections = pattern.split(title)
        if not sections:
            return None
        longest_n = 0
        longest = ""
        for section in sections:
            # CS `section.search ".com" == -1` parses as
            # section.search(false) -> /false/ regex -> truthy unless
            # the section STARTS with "false" (search result 0)
            if not section.startswith("false"):
                n = number_of_words(section)  # throws on wordless (JS)
                if n > longest_n or len(section) > len(longest):
                    longest_n = n
                    longest = section
        if not longest:
            return False
        return js_normalize(longest)


class IgnoreBlocksAfterContentFilter(BaseFilter):
    def __init__(self, minimum_number_of_words=60):
        self.minimum_number_of_words = minimum_number_of_words

    def process(self, document):  # Filters.coffee:454-476
        num_words = 0
        found_end_of_text = False
        found_changes = False
        for tb in document.text_blocks:
            if tb.is_content:
                w = tb.num_full_text_words()
                if not (isinstance(w, float) and math.isnan(w)):
                    num_words += w
                else:
                    num_words = NAN  # JS NaN absorbs; unreachable in practice
            if tb.has_label(END_OF_TEXT) and num_words >= self.minimum_number_of_words:
                found_end_of_text = True
            if found_end_of_text:
                tb.is_content = False
                found_changes = True
        return found_changes


_RE_NUMBER_PREFIX = re.compile(r"^[^A-Za-z0-9_]*[0-9]+", re.ASCII)  # /^\W*\d+/


class TerminatingBlocksFinder(BaseFilter):
    _START_MATCHES = (" reuters", "please rate this", "post a comment")
    _IN_MATCHES = (
        "what you think...",
        "add your comment",
        "add comment",
        "reader views",
        "have your say",
        "reader comments",
        "rtta artikeln",
    )
    _EQUAL = "thanks for your comments - this feedback is now closed"
    _NUMBERS_MATCH = (" comments", " users responded in")

    def process(self, document):  # Filters.coffee:482-525
        found_changes = False
        for tb in document.text_blocks:
            if tb.num_words >= 15:
                continue
            text = strip_whitespace("" if tb.text is None else tb.text)
            if len(text) < 8:
                continue
            lower = text.lower()
            found = (
                lower.startswith("comments")
                or any(lower.startswith(m) for m in self._START_MATCHES)
                or any(m in lower for m in self._IN_MATCHES)
                or lower == self._EQUAL
                or self._is_number_followed_by_string(lower)
            )
            # (the `lowercaseText in equalMatch?` clause is dead -- Q4)
            if found:
                tb.add_label(END_OF_TEXT)
                found_changes = True
        return found_changes

    def _is_number_followed_by_string(self, text):
        m = _RE_NUMBER_PREFIX.match(text)
        if m:
            rest = text[m.end() :]
            for pm in self._NUMBERS_MATCH:
                if rest.startswith(pm):
                    return True
        return False


# Classifier boundary placeholder (quirk Q2): the reference references
# ``@newPlaceholderTextBlock`` WITHOUT calling it, so prev/next at the
# document edges are function objects whose numeric props are
# undefined; every comparison against them is false.  NaN fields give
# identical comparison results.
class _Placeholder:
    num_words = NAN
    link_density = NAN
    text_density = NAN


_PLACEHOLDER = _Placeholder()


class NumWordsRulesClassifier(BaseFilter):
    def process(self, document):  # Filters.coffee:529-553
        blocks = document.text_blocks
        found_changes = False
        n = len(blocks)
        decisions = []
        for i, curr in enumerate(blocks):
            prev = blocks[i - 1] if i > 0 else _PLACEHOLDER
            nxt = blocks[i + 1] if i + 1 < n else _PLACEHOLDER
            is_content = True
            if curr.link_density > 0.333333:
                is_content = False
            elif prev.link_density <= 0.555556:
                if (
                    curr.num_words <= 16
                    and nxt.num_words <= 15
                    and prev.num_words <= 4
                ):
                    is_content = False
            elif curr.num_words <= 40 and nxt.num_words <= 17:
                is_content = False
            decisions.append(is_content)
        # the reference mutates in place while iterating, so a later
        # block's `prev` sees the NEW isContent -- but the decision tree
        # never reads prev.isContent, so batch-apply is equivalent.
        for tb, d in zip(blocks, decisions):
            if not found_changes:
                found_changes = tb.is_content != d
            tb.is_content = d
        return found_changes


class DensityRulesClassifier(BaseFilter):
    def process(self, document):  # Filters.coffee:561-592
        blocks = document.text_blocks
        found_changes = False
        n = len(blocks)
        for i, curr in enumerate(blocks):
            prev = blocks[i - 1] if i > 0 else _PLACEHOLDER
            nxt = blocks[i + 1] if i + 1 < n else _PLACEHOLDER
            is_content = False
            if curr.link_density <= 0.333333:
                if prev.link_density <= 0.555556:
                    if curr.text_density <= 9:
                        if nxt.text_density <= 10:
                            if prev.text_density > 4:
                                is_content = True
                        else:
                            is_content = True
                    elif nxt.text_density != 0:  # NaN != 0 is TRUE (JS)
                        is_content = True
                elif nxt.text_density > 11:
                    is_content = True
            if not found_changes:
                found_changes = curr.is_content != is_content
            curr.is_content = is_content
        return found_changes


class CanolaFilter(BaseFilter):
    """Stub in the reference: the live body is ``hasChanges = False``
    -> ReferenceError (quirk Q10).  ``strict=True`` mirrors the crash;
    ``strict=False`` runs the commented-out intended rules
    (Filters.coffee:604-619) for users who want a working Canola."""

    def __init__(self, strict=True):
        self.strict = strict

    def process(self, document):
        if self.strict:
            raise ReferenceThrow("CanolaFilter: `False` is not defined (Q10)")
        blocks = document.text_blocks
        has_changes = False
        n = len(blocks)

        class _Empty:
            num_words = 0
            link_density = 0.0

        empty = _Empty()
        for i, curr in enumerate(blocks):
            prev = blocks[i - 1] if i > 0 else empty
            nxt = blocks[i + 1] if i + 1 < n else empty
            cond1 = curr.link_density > 0 and nxt.num_words > 11
            cond2 = curr.num_words > 19
            cond3 = (
                nxt.num_words > 6
                and nxt.link_density == 0
                and prev.link_density == 0
                and (curr.num_words > 6 or prev.num_words > 7 or nxt.num_words > 19)
            )
            is_content = cond1 or cond2 or cond3
            if curr.is_content != is_content:
                has_changes = True
            curr.is_content = is_content
        return has_changes
