"""Per-document extraction entry points (router + PDF pipeline).

This is the canonical kernel the Spark pipeline calls once per document
inside ``mapInPandas`` — the Spark-side shape is SURVEY §3.2: bytes → tokens
→ (operator, operands) → interpreter state → object vectors → layout →
text, all inside one Python call per document; the DataFrame boundary starts
at the emitted page rows.

Router (reference Open() fallback chain replaced by one canonical kernel +
error column, SURVEY §2.1 S1/S3): bytes starting with %PDF- → PDF kernel,
else HTML boilerplate-strip kernel.
"""

from __future__ import annotations

from .cmap import CMap
from .content import Font, Interpreter
from .html_extract import extract_html_text
from .pdfparse import PDFDocument, PDFError, Stream


class PageResult:
    __slots__ = (
        "page_no", "kind", "text", "n_chars", "n_words", "n_edges",
        "n_rects", "width", "height",
    )

    def __init__(self, **kw):
        for k in self.__slots__:
            setattr(self, k, kw.get(k))


def load_fonts(doc: PDFDocument, resources: dict) -> dict[str, Font]:
    """S14: deref Resources/Font, read BaseFont/Encoding, fetch + decode the
    ToUnicode stream, parse CMap (reference content_stream_parser.go:129-260).
    """
    fonts: dict[str, Font] = {}
    fdict = doc.resolve(resources.get("Font")) or {}
    if not isinstance(fdict, dict):
        return fonts
    for name, fref in fdict.items():
        fobj = doc.resolve(fref)
        if not isinstance(fobj, dict):
            continue
        base = str(doc.resolve(fobj.get("BaseFont")) or name)
        enc = doc.resolve(fobj.get("Encoding"))
        two_byte = str(enc or "").startswith("Identity")
        cm = None
        tu = doc.resolve(fobj.get("ToUnicode"))
        if isinstance(tu, Stream):
            cm = CMap.parse(doc.stream_data(tu))
        fonts[name] = Font(name=name, base=base, cmap=cm, two_byte=two_byte)
    return fonts


def load_xobjects(
    doc: PDFDocument, resources: dict, depth: int = 0
) -> dict[str, dict]:
    """Deref Resources/XObject: image XObjects yield header metadata
    (/Width /Height /ColorSpace /BitsPerComponent) for the Do operator's
    images relation; Form XObjects yield their decoded content stream,
    /Matrix, and recursively-prepared resources for in-place execution
    (depth-bounded).  The reference defines ImageObject (types.go:216-245)
    but never populates one, and has no form execution at all."""
    out: dict[str, dict] = {}
    xd = doc.resolve(resources.get("XObject"))
    if not isinstance(xd, dict):
        return out
    for name, ref in xd.items():
        obj = doc.resolve(ref)
        if not isinstance(obj, Stream):
            continue
        subtype = str(doc.resolve(obj.dict.get("Subtype")))
        if subtype == "Form" and depth < 4:
            mat = doc.resolve(obj.dict.get("Matrix")) or [1, 0, 0, 1, 0, 0]
            fres = doc.resolve(obj.dict.get("Resources"))
            fres = fres if isinstance(fres, dict) else {}
            out[str(name)] = {
                "form": True,
                "stream": doc.stream_data(obj),
                "matrix": [float(doc.resolve(v)) for v in mat[:6]],
                "fonts": load_fonts(doc, fres) if fres else None,
                "xobjects": (
                    load_xobjects(doc, fres, depth + 1) if fres else None
                ),
            }
            continue
        if subtype != "Image":
            continue
        out[str(name)] = {
            "width": int(doc.resolve(obj.dict.get("Width")) or 0),
            "height": int(doc.resolve(obj.dict.get("Height")) or 0),
            "colorspace": str(doc.resolve(obj.dict.get("ColorSpace")) or ""),
            "bpc": int(doc.resolve(obj.dict.get("BitsPerComponent")) or 0),
        }
    return out


def load_annotations(doc: PDFDocument, page) -> list[tuple]:
    """(subtype, x0, y0, x1, y1, contents, url) rows from the page's
    /Annots array — the reference's AnnotationObject schema
    (types.go:247-276), which it defines but never populates.  Link
    actions contribute /A→/URI; Text annotations contribute /Contents."""
    out: list[tuple] = []
    annots = doc.resolve(page.dict.get("Annots"))
    if not isinstance(annots, list):
        return out
    for ref in annots:
        a = doc.resolve(ref)
        if not isinstance(a, dict):
            continue
        rect = doc.resolve(a.get("Rect")) or [0, 0, 0, 0]
        try:
            vals = [float(doc.resolve(v)) for v in rect[:4]]
        except (TypeError, ValueError):
            vals = [0.0, 0.0, 0.0, 0.0]
        x0, x1 = sorted((vals[0], vals[2]))
        y0, y1 = sorted((vals[1], vals[3]))
        sub = str(doc.resolve(a.get("Subtype")) or "")
        contents = doc.resolve(a.get("Contents")) or b""
        if isinstance(contents, bytes):
            contents = contents.decode("latin-1")
        url = ""
        action = doc.resolve(a.get("A"))
        if isinstance(action, dict):
            uri = doc.resolve(action.get("URI"))
            if isinstance(uri, bytes):
                url = uri.decode("latin-1")
            elif uri:
                url = str(uri)
        out.append((sub, x0, y0, x1, y1, str(contents), url))
    return out


def parse_pdf_objects(data: bytes, doc: PDFDocument | None = None):
    """Parse a PDF and interpret every page's content stream.

    Yields (page_no, mediabox, interp) with populated object vectors.
    """
    if doc is None:
        doc = PDFDocument(data)
    for page in doc.pages:
        res = page.resources if isinstance(page.resources, dict) else {}
        fonts = load_fonts(doc, res)
        interp = Interpreter(fonts, load_xobjects(doc, res))
        content = b"\n".join(page.contents)
        interp.run(content)
        yield page.number, page.mediabox, interp


def extract_document(url: str, raw: bytes) -> tuple[list[PageResult], str | None]:
    """Router + extraction. Returns (page_results, error)."""
    from . import layout

    try:
        if raw[:5] == b"%PDF-":
            pages: list[PageResult] = []
            for page_no, mediabox, interp in parse_pdf_objects(raw):
                text = layout.organize_text(interp.chars)
                pages.append(
                    PageResult(
                        page_no=page_no,
                        kind="pdf",
                        text=text,
                        n_chars=len(interp.chars),
                        # metrics-only count; full word objects (bboxes)
                        # come from layout.extract_words / layout_ops.words
                        n_words=len(text.split()),
                        n_edges=len(interp.edges),
                        n_rects=len(interp.rects),
                        width=mediabox[2] - mediabox[0],
                        height=mediabox[3] - mediabox[1],
                    )
                )
            if not pages:
                return [], "pdf: no pages"
            return pages, None
        # HTML path
        text = extract_html_text(raw)
        return [
            PageResult(
                page_no=1,
                kind="html",
                text=text,
                n_chars=len(text),
                n_words=len(text.split()) if text else 0,
                n_edges=0,
                n_rects=0,
                width=0.0,
                height=0.0,
            )
        ], None
    except PDFError as e:
        return [], f"pdf: {e}"
    except Exception as e:  # malformed inputs must never kill the executor
        return [], f"{type(e).__name__}: {e}"
