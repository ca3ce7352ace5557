"""Test fixtures ported from the reference's tests/TestHelper.coffee."""

from __future__ import annotations

import gzip
import json
import os

from boilerpipe_coffee_spark.core.document import TextBlock, TextDocument
from boilerpipe_coffee_spark.core.extractors import UNFILTERED, document_from_html
from boilerpipe_coffee_spark.fixtures import LOREM

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")


def example_text(n: int) -> str:
    """TestHelper.exampleText: first n lorem words."""
    return " ".join(LOREM[:n])


def document_with_parameters(words, num_anchor_words=None, is_content=None, labels=None):
    """TestHelper.documentWithParameters (TestHelper.coffee:8-35).

    Note the reference leaves ``numWords`` undefined in BOTH branches
    (the string branch assigns ``text.split(' ').count`` which is
    undefined), so every block takes the constructor's split-count
    fallback (quirk Q11)."""
    blocks = []
    for index, word in enumerate(words):
        text = example_text(word) if isinstance(word, int) else word
        naw = 0
        if num_anchor_words is not None and index < len(num_anchor_words):
            naw = num_anchor_words[index] or 0
        block = TextBlock(text, None, None, None, naw, 0, 0, index)
        if is_content is not None and index < len(is_content):
            block.is_content = is_content[index]
        label = None
        if labels is not None and index < len(labels):
            label = labels[index]
        if label:
            if isinstance(label, list):
                for lab in label:
                    block.add_label(lab)
            else:
                block.add_label(label)
        blocks.append(block)
    return TextDocument(None, blocks)


def document_from_template(template, content, filter_type=UNFILTERED):
    """TestHelper.documentFromTemplate (TestHelper.coffee:39-56)."""
    sections = template.split("*")
    html = ""
    for i, section in enumerate(sections):
        c = ""
        if i < len(sections) - 1:
            c = content[i]
            if isinstance(c, int):
                c = example_text(c)
        html += section + c
    return document_from_html(html, filter_type)


def load_jsonl_gz(path):
    with gzip.open(path, "rt") as f:
        return [json.loads(line) for line in f if line.strip()]


def load_golden(name):
    return load_jsonl_gz(os.path.join(GOLDEN_DIR, name + ".jsonl.gz"))
