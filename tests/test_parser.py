"""Parser specs ported 1:1 from the reference tests/Tests.coffee:18-163."""

from boilerpipe_coffee_spark.core.document import (
    ARTICLE_METADATA,
    MIGHT_BE_CONTENT,
    TextBlock,
)
from boilerpipe_coffee_spark.core.extractors import document_from_html

from helpers import document_from_template, example_text


def test_text_densities():  # Tests.coffee:20-35
    template = "<html><body><p>*</p><p>*</p></body></html>"
    document = document_from_template(template, [80, "one, !!! two"])
    tb = document.text_blocks
    assert tb[0].num_words == 80
    assert 60 <= tb[0].num_words_in_wrapped_lines <= 80
    assert 4 <= tb[0].num_wrapped_lines <= 7
    assert 8 <= tb[0].text_density <= 16
    assert tb[1].num_words == 2
    assert tb[1].num_words_in_wrapped_lines == 2
    assert tb[1].num_wrapped_lines == 1
    assert tb[1].text_density == 2


def test_parses_title_elements():  # Tests.coffee:38-43
    title = "THIS IS TITLE"
    html = (
        f"<html><head><title>{title}</title></head>"
        "<body><p>THIS IS CONTENT</p></body></html>"
    )
    assert document_from_html(html).title == title


def test_parses_anchor_elements():  # Tests.coffee:46-66
    template = (
        "<html><body><p>*</p><div>*<a href='half.html'>*</a></div>"
        "<a href='full.html'><p>*</p></a></body></html>"
    )
    content = [6, "end with space ", 3, 6]
    document = document_from_template(template, content)
    tbs = document.text_blocks
    expected = [example_text(c) if isinstance(c, int) else c for c in content]
    assert [b.text for b in tbs] == [
        expected[0],
        expected[1] + expected[2],
        expected[3],
    ]
    assert [b.num_words_in_anchor_text for b in tbs] == [0, 3, 6]
    assert [b.link_density for b in tbs] == [0.0, 0.5, 1.0]


def test_only_parses_text_within_body():  # Tests.coffee:69-77
    body_text = "THIS IS CONTENT"
    html = (
        "<html><head><p>NOT IN BODY</p></head><body><p>"
        + body_text
        + "</p></body></html>"
    )
    document = document_from_html(html)
    assert [b.text for b in document.text_blocks] == [body_text]


def test_parses_inline_elements():  # Tests.coffee:80-88
    template = (
        "<html><body><div><h1>*</h1><h4>*</h4></div>"
        "<div><span>*</span><b>*</b></div></body></html>"
    )
    content = ["AA", "BB", "CC", "DD"]
    document = document_from_template(template, content)
    assert [b.text for b in document.text_blocks] == ["AA", "BB", "CCDD"]


def test_blocks():  # Tests.coffee:91-107
    template = "<html><body><p>*</p><div>*<p>*</p>*</div></body></html>"
    content = [4, 5, 6, 7]
    document = document_from_template(template, content)
    expected = [example_text(c) for c in content]
    assert [b.text for b in document.text_blocks] == expected
    assert [b.num_words for b in document.text_blocks] == content


def test_ignorable_elements():  # Tests.coffee:110-119
    template = "<html><body><p>*</p><option><p>*</p></option></body></html>"
    document = document_from_template(template, [10, 12])
    assert [b.text for b in document.text_blocks] == [example_text(10)]


def test_block_indexes():  # Tests.coffee:122-131
    template = (
        "<html><body><p>*  </p>  <p> * </p><p>*  </p><p>*  </p></body></html>"
    )
    document = document_from_template(template, [11, 12, 13, 14])
    assert [
        [b.offset_start, b.offset_end] for b in document.text_blocks
    ] == [[0, 0], [1, 1], [2, 2], [3, 3]]


def test_calculate_tag_levels():  # Tests.coffee:134-142
    template = (
        "<html><body><div><p><span><a href='x.html'>*</a></span></p>*"
        "</div></body></html>"
    )
    document = document_from_template(template, [5, 6])
    assert [b.tag_level for b in document.text_blocks] == [5, 3]


def test_merge_next():  # Tests.coffee:145-163
    block1 = TextBlock("AA BB CC ", [0], None, 3, 3, 3, 1, 0)
    block1.add_label(MIGHT_BE_CONTENT)
    block2 = TextBlock("DD EE FF GG HH II JJ .", [1], None, 6, 0, 6, 2, 1)
    block2.add_label(ARTICLE_METADATA)
    block1.merge_next(block2)
    assert block1.text == "AA BB CC \nDD EE FF GG HH II JJ ."
    assert block1.num_words == 9
    assert block1.num_words_in_anchor_text == 3
    assert block1.link_density == 1.0 / 3.0
    assert block1.text_density == 3
    assert block1.labels == [MIGHT_BE_CONTENT, ARTICLE_METADATA]
    assert block1.offset_start == 0
    assert block1.offset_end == 1
