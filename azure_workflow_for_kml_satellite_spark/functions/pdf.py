"""Minimal deterministic PDF 1.4 writer (SURVEY.md §2.1 S20).

The reference renders its per-run due-diligence report with fpdf2
(reference: blueprints/export.py:512-1533 — Helvetica text cells, simple
tables, section headings). fpdf2 is not installed here, so this module
writes the same document shape from scratch: A4 pages, the standard-14
Helvetica fonts (no font embedding needed per the PDF spec), a y-cursor
with automatic page breaks, headings / body lines / bordered tables.

Content streams are intentionally UNCOMPRESSED so tests (and reviewers)
can assert on the text; output is byte-deterministic for identical input.
"""

from __future__ import annotations

A4_W, A4_H = 595.28, 841.89
MARGIN = 40.0

def _esc(text: str) -> str:
    out = text.encode("latin-1", "replace").decode("latin-1")
    return out.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


class PdfBuilder:
    """Tiny fpdf-like y-cursor page builder."""

    def __init__(self) -> None:
        self._pages: list[list[str]] = []
        self._new_page()

    def _new_page(self) -> None:
        self._pages.append([])
        self._y = A4_H - MARGIN

    def _ensure(self, height: float) -> None:
        if self._y - height < MARGIN:
            self._new_page()

    def _text(self, x: float, size: float, style: str, text: str) -> None:
        font = {"": "F1", "B": "F2", "I": "F3"}[style]
        self._pages[-1].append(
            f"BT /{font} {size:g} Tf {x:.2f} {self._y:.2f} Td ({_esc(text)}) Tj ET"
        )

    def heading(self, text: str, size: float = 12) -> None:
        self._ensure(size + 8)
        self._y -= size + 4
        self._text(MARGIN, size, "B", text)
        self._y -= 4

    def line(self, text: str, size: float = 9, style: str = "") -> None:
        self._ensure(size + 3)
        self._y -= size + 2
        self._text(MARGIN, size, style, text)

    def table(self, headers: list[str], rows: list[list[str]], widths: list[float]) -> None:
        """Bordered table; cell text clipped to the column (no wrapping)."""
        row_h = 11.0
        for r_i, cells in enumerate([headers] + rows):
            self._ensure(row_h + 2)
            self._y -= row_h
            x = MARGIN
            style = "B" if r_i == 0 else ""
            for text, w in zip(cells, widths):
                self._pages[-1].append(
                    f"{x:.2f} {self._y - 3:.2f} {w:.2f} {row_h:.2f} re S"
                )
                self._text(x + 2, 7, style, text[: max(1, int(w / 4))])
                x += w

    def build(self) -> bytes:
        """Assemble objects + xref. Object layout: 1 catalog, 2 pages-tree,
        3..5 fonts, then per page: content stream + page object."""
        objs: list[bytes] = []

        def add(body: str | bytes) -> int:
            objs.append(body.encode("latin-1") if isinstance(body, str) else body)
            return len(objs)  # 1-based object number

        font_objs = []
        for name in ("Helvetica", "Helvetica-Bold", "Helvetica-Oblique"):
            font_objs.append(
                add(f"<< /Type /Font /Subtype /Type1 /BaseFont /{name} >>")
            )
        page_obj_ids = []
        n_pages = len(self._pages)
        # object ids are sequential: fonts are 1..3, then (content, page)
        # pairs, then pages-tree, then catalog
        pages_tree_id = 3 + 2 * n_pages + 1
        for ops in self._pages:
            stream = "\n".join(ops).encode("latin-1")
            content_id = add(
                b"<< /Length " + str(len(stream)).encode()
                + b" >>\nstream\n" + stream + b"\nendstream"
            )
            page_obj_ids.append(
                add(
                    f"<< /Type /Page /Parent {pages_tree_id} 0 R "
                    f"/MediaBox [0 0 {A4_W:g} {A4_H:g}] "
                    f"/Resources << /Font << /F1 {font_objs[0]} 0 R "
                    f"/F2 {font_objs[1]} 0 R /F3 {font_objs[2]} 0 R >> >> "
                    f"/Contents {content_id} 0 R >>"
                )
            )
        kids = " ".join(f"{i} 0 R" for i in page_obj_ids)
        tree_id = add(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>")
        assert tree_id == pages_tree_id
        catalog_id = add(f"<< /Type /Catalog /Pages {tree_id} 0 R >>")

        out = bytearray(b"%PDF-1.4\n")
        offsets = [0]
        for i, body in enumerate(objs, start=1):
            offsets.append(len(out))
            out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_at = len(out)
        out += f"xref\n0 {len(objs) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += f"{off:010d} 00000 n \n".encode()
        out += (
            f"trailer\n<< /Size {len(objs) + 1} /Root {catalog_id} 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF"
        ).encode()
        return bytes(out)
