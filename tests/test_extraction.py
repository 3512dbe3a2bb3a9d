"""Byte-identity of clean-text extraction vs the reference extractor
(the per-url invariant from BASELINE.json input_hint)."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from relation_extraction_using_llms_spark.functions import extraction as ex
from tests.ref_oracle import ref_setup_module, require_reference


@pytest.fixture(scope="module")
def ref():
    """The reference clean-text extractor."""
    require_reference()
    return ref_setup_module("generate_clean_text.py")


def _ref_file_bytes(ref, passages):
    tb = ref.extract_title_and_body(passages)
    title, body = tb["title"], tb["body"]
    if body:
        return f"{title}\n\n{body}".strip() + "\n"
    return (title or "").strip() + "\n"


def _ref_reload(file_text: str):
    # Reference loader.py:47-58 semantics over readlines() of the file.
    lines = file_text.splitlines(keepends=True)
    if not lines:
        return "", "", ""
    title = lines[0].strip()
    body = "\n".join(lines[1:]).strip() if len(lines) > 1 else ""
    text = f"{title}\n\n{body}" if body else title
    return title, body, text


CASES = [
    [],
    [{"offset": 0, "text": "Title only"}],
    [{"offset": 0, "text": "  Title padded  "}],
    [{"offset": 0, "text": "T"}, {"offset": 10, "text": "Body one."}],
    [{"offset": 10, "text": "Second"}, {"offset": 0, "text": "First"}],  # sort by offset
    [{"offset": 0, "text": "T"}, {"offset": 5, "text": ""}, {"offset": 9, "text": "B"}],
    [{"offset": 0, "text": "T"}, {"offset": 5, "text": "   "}, {"offset": 9, "text": "B"}],
    [{"offset": 0, "text": None}, {"offset": 5, "text": "B"}],
    [{"offset": 0, "text": "T"}, {"offset": 5, "text": "a\nb"}, {"offset": 9, "text": "c"}],
    [{"offset": 0, "text": ""}],
    [{"offset": 0, "text": "   "}],
    [{"offset": 0, "text": "T"}, {"offset": 1, "text": "p1"}, {"offset": 2, "text": "p2"}, {"offset": 3, "text": "p3"}],
    [{"text": "no offset key"}, {"offset": -5, "text": "negative"}],
]


@pytest.mark.parametrize("passages", CASES)
def test_title_body_matches_reference(ref, passages):
    tb = ref.extract_title_and_body(passages)
    assert ex.title_body_from_passages(passages) == (tb["title"], tb["body"])


@pytest.mark.parametrize("passages", CASES)
def test_file_bytes_match_reference(ref, passages):
    title, body = ex.title_body_from_passages(passages)
    assert ex.file_bytes(title, body) == _ref_file_bytes(ref, passages)


@pytest.mark.parametrize("passages", CASES)
def test_roundtrip_text_matches_reference(passages):
    title, body = ex.title_body_from_passages(passages)
    fb = ex.file_bytes(title, body)
    assert ex.reload_text(fb) == _ref_reload(fb)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "offset": st.integers(-3, 50),
                "text": st.one_of(
                    st.none(),
                    st.text(
                        alphabet=st.sampled_from(list(" \nabcXYZ.,:;()")), max_size=30
                    ),
                ),
            }
        ),
        max_size=6,
    )
)
def test_property_byte_identity(ref, passages):
    tb = ref.extract_title_and_body(passages)
    assert ex.title_body_from_passages(passages) == (tb["title"], tb["body"])
    fb = ex.file_bytes(tb["title"], tb["body"])
    assert fb == _ref_file_bytes(ref, passages)
    assert ex.reload_text(fb) == _ref_reload(fb)


def test_extract_record_from_html():
    html = json.dumps(
        {
            "documents": [
                {
                    "id": "u1",
                    "passages": [
                        {"offset": 0, "text": " Title "},
                        {"offset": 9, "text": "Body para. "},
                        {"offset": 30, "text": ""},
                        {"offset": 40, "text": "Second para."},
                    ],
                }
            ]
        }
    ).encode()
    title, body, fb, text = ex.extract_record(html)
    assert title == "Title"
    assert fb == "Title\n\nBody para.\n\nSecond para.\n"
    # reload multiplies blank lines per the reference's read-side join
    assert text == "Title\n\nBody para.\n\n\n\nSecond para."
    assert ex.extract_record(b"not json") == ("", "", "", "")
    assert ex.extract_record(None) == ("", "", "", "")


def test_clean_text_df_spark(spark, sf_dir):
    from relation_extraction_using_llms_spark.sources import synthetic

    pages = synthetic.pages_df(spark, sf_dir).limit(30)
    out = ex.clean_text_df(pages).collect()
    assert len(out) == 30
    rows = pages.select("url", "html").collect()
    by_url = {r["url"]: r["html"] for r in rows}
    for r in out:
        exp = ex.extract_record(by_url[r["url"]])
        assert (r["title"], r["body"], r["file_text"], r["text"]) == exp
        assert r["file_text"].endswith("\n")
