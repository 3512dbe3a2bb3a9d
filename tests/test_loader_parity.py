"""Round-trip parity: bytes we produce, re-read by the REAL reference
DocumentLoader, must equal our reload_text output (the prompt-visible
text)."""

from __future__ import annotations

from pathlib import Path

import pytest

from relation_extraction_using_llms_spark.functions import extraction as ex
from tests.ref_oracle import ref_module, require_reference


@pytest.fixture(scope="module")
def ref():
    """The reference loader module."""
    require_reference()
    return ref_module("pipeline.data.loader")


def test_reference_loader_roundtrip(ref, tmp_path: Path):
    cases = [
        [{"offset": 0, "text": "Title only"}],
        [{"offset": 0, "text": "T"}, {"offset": 9, "text": "Body one."}],
        [
            {"offset": 0, "text": "A title"},
            {"offset": 9, "text": "p1"},
            {"offset": 20, "text": "p2"},
            {"offset": 30, "text": "p3 with  spaces "},
        ],
        [{"offset": 0, "text": "T"}, {"offset": 5, "text": "a\nb\n\nc"}],
        [{"offset": 0, "text": "  "}],
    ]
    split_dir = tmp_path / "clean_text" / "test"
    split_dir.mkdir(parents=True)
    expected = {}
    for i, passages in enumerate(cases):
        title, body = ex.title_body_from_passages(passages)
        fb = ex.file_bytes(title, body)
        doc_id = f"doc{i:03d}"
        (split_dir / f"{doc_id}.txt").write_text(fb, encoding="utf-8")
        expected[doc_id] = ex.reload_text(fb)

    loader = ref.DocumentLoader(clean_text_path=tmp_path / "clean_text")
    docs = loader.load("test")
    assert len(docs) == len(cases)
    for doc in docs:
        r_title, r_body, r_text = expected[doc.doc_id]
        assert doc.title == r_title
        assert doc.body == r_body
        assert doc.text == r_text
