"""The Arrow codec of the interleaved-span format
(``operators.arrow_extract``), plus the structural rule that keeps it
the only copy.

- the batch decoder reads a null ``spans`` slot whose list offsets
  still cover values as an empty document, and the next document
  decodes its own spans; the production batch function then emits the
  reference output for every row of that batch;
- no other operator module reads the ``spans`` child arrays or builds
  a list column, and no operator module declares the span struct by
  hand (the Arrow schemas derive from the Spark ones).
"""

import ast
import pathlib

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from boilerpipe_coffee_spark.operators import arrow_extract as codec
from boilerpipe_coffee_spark.sources import INTERLEAVED_SCHEMA
from boilerpipe_coffee_spark.spans import extract_spans

_OPS = pathlib.Path(codec.__file__).resolve().parent

_DOC_X = [
    {"kind": "text", "text": "<body><p>first document text here</p>",
     "media_ref": None, "offset": 0},
    {"kind": "image", "text": None, "media_ref": "x.png", "offset": 1},
    {"kind": "text", "text": "<p>and its second span</p></body>",
     "media_ref": None, "offset": 2},
]
# backing values of the NULL slot: present in the child arrays, but no
# document of the batch owns them
_GHOST = [
    {"kind": "text", "text": "<body><p>ghost text, never read</p></body>",
     "media_ref": None, "offset": 0},
]
_DOC_Z = [
    {"kind": "text", "text": "<p>and the third document</p></body>",
     "media_ref": None, "offset": 5},
    {"kind": "video", "text": None, "media_ref": "z.mp4", "offset": 3},
    {"kind": "text", "text": "<body><h1>Zed</h1>", "media_ref": None,
     "offset": 1},
]


class _StandInFrame:
    """Hands back the batch function ``extract_arrow`` gives
    ``mapInArrow``."""

    def mapInArrow(self, fn, schema):
        return fn


def _batch_with_null_ghost_slot():
    schema = to_arrow_schema(INTERLEAVED_SCHEMA)
    list_type = schema.field("spans").type
    values = pa.array(_DOC_X + _GHOST + _DOC_Z, list_type.value_type)
    n_x, n_g = len(_DOC_X), len(_GHOST)
    offsets = [0, n_x, n_x + n_g, n_x + n_g + len(_DOC_Z)]
    spans = pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()),
        values,
        type=list_type,
        mask=pa.array([False, True, False]),
    )
    assert spans.offsets.to_pylist() == offsets  # the slot keeps its range
    return pa.RecordBatch.from_arrays(
        [pa.array(["x", "y", "z"]), spans], schema=schema
    )


def test_decoder_reads_a_null_slot_with_values_as_an_empty_document():
    batch = _batch_with_null_ghost_slot()
    doc_ids, bounds, spans = codec.decode_spans(batch)
    assert doc_ids == ["x", "y", "z"]
    (x_lo, x_hi), (y_lo, y_hi), (z_lo, z_hi) = bounds
    assert y_hi == y_lo

    kinds, texts, refs, offs = spans
    decoded = [
        [
            {"kind": kinds[i], "text": texts[i], "media_ref": refs[i],
             "offset": offs[i]}
            for i in range(lo, hi)
        ]
        for lo, hi in bounds
    ]
    assert decoded == [_DOC_X, [], _DOC_Z]

    html, starts, span_offsets, media = codec.join_html(spans, z_lo, z_hi)
    assert html == _DOC_Z[2]["text"] + _DOC_Z[0]["text"]
    assert starts == [0, len(_DOC_Z[2]["text"])]
    assert span_offsets == [1, 5]
    assert media == [(3, "video", "z.mp4")]


def test_extract_arrow_batch_matches_the_reference_around_a_null_slot():
    run = codec.extract_arrow(_StandInFrame(), "KeepEverythingExtractor")
    (out,) = run(iter([_batch_with_null_ghost_slot()]))
    assert out.schema == codec.PA_OUTPUT
    got = out.to_pylist()
    for row, spans in zip(got, (_DOC_X, [], _DOC_Z)):
        title, want, error = extract_spans(spans, "KeepEverythingExtractor")
        assert (row["title"], row["spans"], row["error"]) == (
            title, want, error
        ), row["doc_id"]
    assert got[1]["spans"] == [] and got[1]["error"] is None
    assert [s["media_ref"] for s in got[2]["spans"] if s["media_ref"]] == [
        "z.mp4"
    ]


def _codec_work(path):
    """What the module at ``path`` does with the span format's Arrow
    layout: reads the ``spans`` child arrays (``.field("kind")``),
    declares a span struct by hand (``pa.field("kind", type)``), builds
    a list column."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if not (
            isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        ):
            continue
        fn = node.func
        if (
            fn.attr == "field"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "kind"
        ):
            found.add(
                "reads span children"
                if len(node.args) == 1
                else "declares a span struct by hand"
            )
        if (
            fn.attr == "from_arrays"
            and isinstance(fn.value, ast.Attribute)
            and fn.value.attr == "ListArray"
        ):
            found.add("builds a list column")
    return found


def test_arrow_extract_is_the_only_span_codec():
    owners = {
        p.name: work
        for p in sorted(_OPS.glob("*.py"))
        if (work := _codec_work(p))
    }
    assert owners == {
        "arrow_extract.py": {"reads span children", "builds a list column"}
    }, owners
