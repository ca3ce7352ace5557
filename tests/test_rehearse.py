"""tools/rehearse.py's soak scenario and the differential fuzz gate's
refusal to pass when it did not run."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import fuzz_differential  # noqa: E402
import rehearse  # noqa: E402


def test_soak_matches_single_process_reference(spark):
    """The soak's three numbers on 300 synth docs equal those of the
    single-document reference (spans.extract_spans) run in-process on
    the same fixtures.generate_doc docs."""
    from boilerpipe_coffee_spark.fixtures import generate_doc
    from boilerpipe_coffee_spark.sources import OUTPUT_SCHEMA
    from boilerpipe_coffee_spark.spans import extract_spans

    rows = []
    for i in range(300):
        doc = generate_doc(i, seed=42)
        rows.append((doc["doc_id"], *extract_spans(doc["spans"])))
    want = rehearse.soak_counts(spark.createDataFrame(rows, OUTPUT_SCHEMA))
    assert want[0] > 0 and want[1] > 0  # quarantines and spans both seen
    assert rehearse.soak(spark, 300) == want


def test_fuzz_differential_not_run_is_not_a_pass(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(
        fuzz_differential, "REFERENCE", str(tmp_path / "missing.js")
    )
    assert fuzz_differential.main(5) != 0
    assert "NOT RUN" in capsys.readouterr().err
