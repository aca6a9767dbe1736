"""Top-level per-document API (reference /root/reference/index.ts:33-56).

``read_pdf(data, type=...)`` mirrors readSourceSync's output types:
'pdf' | 'paper' | 'string' | 'metadata' | 'xref'. ``extract_record``
is the pipeline-facing wrapper with per-document error containment.
"""
from __future__ import annotations

from .assemble import paper_from_paragraphs, paper_to_string, render_layout_from_page
from .doc import PDFDocument
from .encoding import decode_buffer


def render_paper(doc: PDFDocument, pages: list | None = None) -> dict:
    """Render all pages into {'sections': [{'title', 'paragraphs'}]}
    (reference PDF.ts:175-181). Pass ``pages`` when the caller already
    walked the page tree (PDFDocument.pages re-walks it per access)."""
    if pages is None:
        pages = doc.pages
    paragraphs: list[dict] = []
    for page in pages:
        paragraphs.extend(render_layout_from_page(page))
    return paper_from_paragraphs(paragraphs)


def simplify(value, seen=None):
    """Recursively simplify a PDF value into a JSON-friendly object
    (reference index.ts:61-92)."""
    if seen is None:
        seen = []
    if value is None:
        return None
    if isinstance(value, bytes):
        return decode_buffer(value)
    if isinstance(value, list):
        if any(value is s for s in seen):
            return "[Circular Array]"
        seen.append(value)
        return [simplify(item, seen) for item in value]
    if isinstance(value, dict):
        if any(value is s for s in seen):
            return "[Circular Object]"
        seen.append(value)
        return {key: simplify(val, seen) for key, val in value.items()}
    return value


def read_pdf(data: bytes, type: str = "string"):
    """Parse a PDF byte payload and render the requested output type."""
    doc = PDFDocument(data)
    if type == "pdf":
        return doc
    if type == "metadata":
        trailer = doc.trailer
        return {
            "Size": trailer.get("Size"),
            "Root": simplify(doc.resolve(trailer.get("Root"))),
            "Info": simplify(doc.resolve(trailer.get("Info"))),
        }
    if type == "xref":
        doc.trailer  # force the chain read
        return doc.cross_references
    paper = render_paper(doc)
    if type == "paper":
        return paper
    if type == "string":
        return paper_to_string(paper)
    return None


def extract_record(url: str, data: bytes | None) -> dict:
    """Pipeline row contract: never raises; malformed documents and NULL
    payloads produce an error string instead (the documented containment
    extension — SURVEY.md §4.2; pdfi itself hard-throws,
    parsers/machine.ts:61-64). The keys are in
    ``pipeline.EXTRACTED_SCHEMA`` order."""
    try:
        if data is None:
            raise TypeError("null payload")
        doc = PDFDocument(data)
        pages = doc.pages
        text = paper_to_string(render_paper(doc, pages=pages))
        return {
            "url": url,
            "text": text,
            "n_pages": len(pages),
            "n_chars": len(text),
            "error": None,
        }
    except Exception as exc:  # noqa: BLE001 - per-row containment by design
        return {
            "url": url,
            "text": None,
            "n_pages": None,
            "n_chars": None,
            "error": f"{type(exc).__name__}: {exc}",
        }


def extract_spans(data: bytes) -> list[dict]:
    """Pre-clustering TextSpan rows for the exploded-DataFrame layout
    variant (SURVEY.md §7.0): one dict per positioned span, in emit
    order, with page/seq identifiers for window ordering."""
    from .assemble import page_text_spans

    doc = PDFDocument(data)
    rows = []
    for page_no, page in enumerate(doc.pages):
        for seq, s in enumerate(page_text_spans(page)):
            rows.append({
                "page": page_no,
                "seq": seq,
                "minX": s["minX"],
                "minY": s["minY"],
                "maxX": s["maxX"],
                "maxY": s["maxY"],
                "fontSize": s["fontSize"],
                "text": s["text"],
            })
    return rows
