"""Full-document round-trip: synthesize a PDF from text with each recipe,
run the complete extraction pipeline (parse -> decode -> interpret ->
layout -> assemble), and require byte-identical expected output.

This is the engine-level equivalent of the reference's textparser e2e
tests, extended across filters/fonts/xref styles per FIXTURES.md §3.
"""
import pytest

from pdfi_spark.core.api import extract_record, read_pdf
from pdfi_spark.core.pdfgen import RECIPES, build_pdf, recipe_xobject

SAMPLE = (
    "key agg row scan slow fast table value part hash value table part a row "
    "fast merge batch part value fast spark a a the line sort table window "
    "table table key"
)
LONG_SAMPLE = " ".join(["alpha beta gamma delta epsilon zeta eta theta"] * 12)


@pytest.mark.parametrize("recipe", sorted(RECIPES))
def test_roundtrip(recipe):
    pdf, expected = build_pdf(SAMPLE, recipe)
    assert read_pdf(pdf, type="string") == expected


@pytest.mark.parametrize("recipe", sorted(RECIPES))
def test_roundtrip_long(recipe):
    pdf, expected = build_pdf(LONG_SAMPLE, recipe)
    assert read_pdf(pdf, type="string") == expected


def test_xobject_depth_cap():
    pdf_ok, expected_ok = recipe_xobject(SAMPLE, depth=4)
    assert read_pdf(pdf_ok, type="string") == expected_ok
    assert expected_ok != "# \n"
    pdf_deep, expected_deep = recipe_xobject(SAMPLE, depth=5)
    assert expected_deep == "# \n"
    assert read_pdf(pdf_deep, type="string") == "# \n"


def test_metadata_and_xref_outputs():
    pdf, _ = build_pdf(SAMPLE, "simple")
    metadata = read_pdf(pdf, type="metadata")
    assert metadata["Size"] >= 4
    assert metadata["Root"]["Type"] == "Catalog"
    xref = read_pdf(pdf, type="xref")
    assert len(xref) == metadata["Size"]


def test_extract_record_contract():
    pdf, expected = build_pdf(SAMPLE, "flate")
    rec = extract_record("u1", pdf)
    assert rec["error"] is None
    assert rec["text"] == expected
    assert rec["n_pages"] == 1
    assert rec["n_chars"] == len(expected)

    bad = extract_record("u2", b"%PDF-1.4 garbage without structure")
    assert bad["error"] is not None
    assert bad["text"] is None


def test_extract_record_contains_a_null_payload():
    # the one NULL-payload containment: Spark extraction, the commit
    # path, streaming and the tools all reach it through extract_record
    rec = extract_record("u", None)
    assert rec == {"url": "u", "text": None, "n_pages": None,
                   "n_chars": None, "error": "TypeError: null payload"}


def test_empty_text():
    pdf, expected = build_pdf("", "simple")
    assert read_pdf(pdf, type="string") == expected


def test_info_unicode_title_keeps_bom_like_reference():
    """decodeBuffer's UTF-16BE branch keeps U+FEFF, matching the
    reference's Node utf16le decode (encoding/index.ts:181-191)."""
    from pdfi_spark.core.api import read_pdf
    from pdfi_spark.core.pdfgen import INFO_AUTHOR, build_pdf, info_title_for

    pdf, _ = build_pdf("alpha beta gamma delta", "info_unicode", per_block=10**6)
    info = read_pdf(pdf, type="metadata")["Info"]
    assert info["Title"] == "﻿" + info_title_for("alpha beta gamma delta")
    assert info["Author"] == INFO_AUTHOR
