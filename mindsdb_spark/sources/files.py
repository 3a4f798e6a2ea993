"""File source: CSV / JSON / parquet / XLSX / PDF / TXT with format sniffing.

Reference: the file handler sniffs the format from content and loads via
pandas into DuckDB (reference:
mindsdb/integrations/handlers/file_handler/file_handler.py:80-196; format
detection integrations/utilities/files/file_reader.py:27-214). Here the
sniffed format dispatches to the matching distributed Spark reader —
spark.read.{csv,json,parquet,text} — so file size is unbounded. XLSX goes
through pandas read_excel → a Spark frame when openpyxl is present and
otherwise through a standard-library zip+XML reader (an .xlsx IS a zip of
XML parts), so the format works in any environment; PDF prefers
pypdf/pymupdf and falls back to a stdlib extractor for plain/Flate text
streams (image-only or CID-encoded PDFs raise a clear error).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mindsdb_spark.session import local_frame

PARQUET_MAGIC = b"PAR1"
XLSX_MAGIC = b"PK\x03\x04"  # zip container
PDF_MAGIC = b"%PDF"


def sniff_format(path: str) -> str:
    """Detect csv/json/parquet/xlsx/pdf/txt from extension, else content."""
    ext = os.path.splitext(path)[1].lower().lstrip(".")
    known = {
        "jsonl": "json",
        "ndjson": "json",
        "tsv": "csv",
        "xls": "xlsx",
    }
    if ext in ("csv", "tsv", "json", "jsonl", "ndjson", "parquet", "txt", "xlsx", "xls", "pdf"):
        return known.get(ext, ext)
    with open(path, "rb") as f:
        head = f.read(64)
    if head[:4] == PARQUET_MAGIC:
        return "parquet"
    if head[:4] == XLSX_MAGIC:
        return "xlsx"
    if head[:4] == PDF_MAGIC:
        return "pdf"
    stripped = head.lstrip()
    if stripped[:1] in (b"{", b"["):
        return "json"
    return "csv"


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _xlsx_sheet_parts(z) -> list[tuple[str, str]]:
    """Workbook-ordered (sheet_name, part_path) pairs for an open xlsx zip.

    Sheet ORDER is defined by xl/workbook.xml's <sheet> elements, each
    pointing at its part through the r:id → Target mapping in
    xl/_rels/workbook.xml.rels — sheet1.xml is NOT necessarily the first
    sheet once a workbook has been reordered in Excel. The filename
    heuristic survives only as a fallback for archives missing those parts.
    """
    import xml.etree.ElementTree as ET

    names = set(z.namelist())
    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        by_rid: dict[str, str] = {}
        for rel in rels:
            target = (rel.get("Target") or "").lstrip("/")
            if not target.startswith("xl/"):
                target = "xl/" + target
            if "/worksheets/" in target:
                by_rid[rel.get("Id") or ""] = target
        out: list[tuple[str, str]] = []
        for sh in wb.iter():
            if _local(sh.tag) != "sheet":
                continue
            rid = next(
                (v for k, v in sh.attrib.items() if _local(k) == "id" and "}" in k),
                sh.get("id"),
            )
            part = by_rid.get(rid or "")
            if part and part in names:
                out.append((sh.get("name") or f"Sheet{len(out) + 1}", part))
        if out:
            return out
    except (KeyError, ET.ParseError):
        pass
    # fallback: filename order; must not catch xl/worksheets/_rels/*.rels
    # (sorts before sheetN.xml and parses to zero rows — silent data loss)
    parts = [
        n
        for n in sorted(names)
        if n.startswith("xl/worksheets/sheet") and n.endswith(".xml")
    ]
    if "xl/worksheets/sheet1.xml" in parts:
        parts.remove("xl/worksheets/sheet1.xml")
        parts.insert(0, "xl/worksheets/sheet1.xml")
    return [(os.path.basename(p)[:-4], p) for p in parts]


def list_xlsx_sheets(path: str) -> list[str]:
    """Workbook-ordered sheet names (the reference exposes every sheet as
    files.<file>.<sheet>, file_handler.py:68-78 + file_reader.read_xlsx)."""
    try:
        import openpyxl  # noqa: F401 — engine probe only
        import pandas as pd

        with pd.ExcelFile(path) as xls:
            return list(xls.sheet_names)
    except ImportError:
        import zipfile

        with zipfile.ZipFile(path) as z:
            return [name for name, _part in _xlsx_sheet_parts(z)]


def _read_xlsx_stdlib(path: str, sheet_name: "int | str" = 0):
    """XLSX reader on the standard library alone (zipfile + ElementTree):
    an .xlsx file is a zip of XML parts — shared strings in
    xl/sharedStrings.xml, worksheet cells in xl/worksheets/sheetN.xml with
    A1-style addresses and a type attribute (t="s" shared string, t="b"
    bool, default numeric). ``sheet_name`` selects by workbook-order index
    or by name, exactly like pandas.read_excel. First row is the header,
    numeric columns come back as floats — the same frame
    pandas.read_excel(header=0) produces for a plain sheet. Formulas
    return their cached <v> value; styles/dates stay numeric (XLSX stores
    dates as day serials; without openpyxl's style table the serial is the
    honest value)."""
    import re as _re
    import xml.etree.ElementTree as ET
    import zipfile

    import pandas as pd

    local = _local

    if not zipfile.is_zipfile(path):
        # legacy binary .xls (OLE container) — needs xlrd either way
        raise NotImplementedError(
            f"{path}: legacy .xls (OLE) needs xlrd; re-save as .xlsx or csv"
        )
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        sst: list[str] = []
        if "xl/sharedStrings.xml" in names:
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")):
                # <si> holds one <t> or rich-text runs of <r><t>; phonetic
                # <rPh> runs (furigana readings) are annotations, not cell
                # text — pandas/openpyxl exclude them, so must we
                parts: list[str] = []
                for child in si:
                    tag = local(child.tag)
                    if tag == "t":
                        parts.append(child.text or "")
                    elif tag == "r":
                        parts.extend(
                            t.text or "" for t in child if local(t.tag) == "t"
                        )
                sst.append("".join(parts))
        sheets = _xlsx_sheet_parts(z)
        if not sheets:
            raise ValueError(f"{path}: no worksheet found in xlsx archive")
        if isinstance(sheet_name, str):
            sheet = next((p for n, p in sheets if n == sheet_name), None)
            if sheet is None:
                raise ValueError(
                    f"{path}: no sheet named {sheet_name!r}; "
                    f"available: {[n for n, _ in sheets]}"
                )
        else:
            if not 0 <= int(sheet_name) < len(sheets):
                raise ValueError(
                    f"{path}: sheet index {sheet_name} out of range "
                    f"({len(sheets)} sheets)"
                )
            sheet = sheets[int(sheet_name)][1]
        root = ET.fromstring(z.read(sheet))

    col_re = _re.compile(r"([A-Z]+)\d*$")

    def col_idx(ref: str) -> int:
        letters = col_re.match(ref).group(1)
        i = 0
        for ch in letters:
            i = i * 26 + (ord(ch) - 64)
        return i - 1

    rows: list[dict[int, object]] = []
    for row in (e for e in root.iter() if local(e.tag) == "row"):
        vals: dict[int, object] = {}
        prev = -1  # OOXML: a <c> with no r= occupies the NEXT column
        for c in (ch for ch in row if local(ch.tag) == "c"):
            idx = col_idx(c.get("r")) if c.get("r") else prev + 1
            prev = idx
            t = c.get("t", "n")
            v = None
            for ch in c:
                if local(ch.tag) == "v":
                    v = ch.text
                elif local(ch.tag) == "is":  # t="inlineStr"
                    v = "".join(x.text or "" for x in ch.iter() if local(x.tag) == "t")
            if v is None:
                continue
            if t == "s":
                vals[idx] = sst[int(v)]
            elif t == "b":
                vals[idx] = v in ("1", "true")
            elif t in ("str", "inlineStr"):
                vals[idx] = v
            else:
                f = float(v)
                vals[idx] = int(f) if f.is_integer() else f
        rows.append(vals)
    if not any(rows):  # no rows, or rows of valueless (formatted-only) cells
        return pd.DataFrame()
    width = max(max(r) for r in rows if r) + 1
    header = [str(rows[0].get(i, f"col_{i}")) for i in range(width)]
    data = [[r.get(i) for i in range(width)] for r in rows[1:]]
    return pd.DataFrame(data, columns=header)


def _read_pdf_stdlib(path: str) -> list[tuple[int, str]]:
    """Minimal PDF text extraction on the standard library: find content
    streams (raw or /FlateDecode — zlib), and inside BT…ET text blocks
    decode the `(…) Tj`, `(…) '` and `[(…) kern (…)] TJ` show-text
    operators with PDF string escapes (\\( \\) \\\\ \\n octal). Handles the
    simple-font PDFs the reference's file reader targets; CID/subsetted
    fonts and image-only pages have no extractable text here and raise a
    clear error rather than returning garbage. ``page`` numbers the
    text-bearing content STREAMS in file order — for single-stream-per-page
    PDFs (the common case for simple generators) that equals the page
    number; a real pdf lib (pypdf/pymupdf), when installed, numbers true
    pages."""
    import re as _re
    import zlib

    raw = open(path, "rb").read()
    pages: list[tuple[int, str]] = []
    esc = {b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
           b"(": "(", b")": ")", b"\\": "\\"}

    def pdf_str(body: bytes) -> str:
        out, i, n = [], 0, len(body)
        octal = b"01234567"
        while i < n:
            c = body[i : i + 1]
            if c == b"\\" and i + 1 < n:
                nxt = body[i + 1 : i + 2]
                if nxt in octal:  # \d, \dd, \ddd — OCTAL digits only
                    # ('\8' is not an escape; '\778' is two digits then '8');
                    # the spec says high values wrap to a byte (mod 256)
                    j = i + 1
                    while j < min(i + 4, n) and body[j : j + 1] in octal:
                        j += 1
                    out.append(chr(int(body[i + 1 : j], 8) % 256))
                    i = j
                    continue
                out.append(esc.get(nxt, nxt.decode("latin-1")))
                i += 2
                continue
            out.append(c.decode("latin-1"))
            i += 1
        return "".join(out)

    skipped = 0
    for m in _re.finditer(rb"<<(.*?)>>\s*stream\r?\n", raw, _re.DOTALL):
        head, start = m.group(1), m.end()
        # slice the exact body from the stream dict's direct /Length when
        # present — a lazy scan to the next 'endstream' truncates any Flate
        # stream whose compressed bytes happen to contain that keyword
        # (indirect lengths `/Length 5 0 R` need xref resolution; fall back)
        body = None
        # (?!\d) pins the FULL number (no backtracking a '56' down to '5'
        # so the indirect-ref lookahead passes on a digit prefix — review
        # finding); the second lookahead rejects indirect refs '56 0 R'
        lm = _re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", head)
        if lm:
            length = int(lm.group(1))
            if _re.match(rb"\s*endstream", raw[start + length : start + length + 20]):
                body = raw[start : start + length]
        if body is None:
            end = raw.find(b"endstream", start)
            if end == -1:
                skipped += 1
                continue
            body = raw[start:end]
        if b"/FlateDecode" in head:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                # counted, not silently dropped: a text-bearing page lost
                # here surfaces in the warning / final error below
                skipped += 1
                continue
        if b"BT" not in body:
            continue  # not a text content stream (fonts, images, xref)
        chunks: list[str] = []
        for bt in _re.finditer(rb"BT(.*?)ET", body, _re.DOTALL):
            block = bt.group(1)
            for sm in _re.finditer(
                rb"\(((?:[^()\\]|\\.)*)\)\s*(?:Tj|')|\[((?:[^\]\\]|\\.)*)\]\s*TJ",
                block,
                _re.DOTALL,
            ):
                if sm.group(1) is not None:
                    chunks.append(pdf_str(sm.group(1)))
                else:  # TJ array: concatenate its string elements
                    chunks.append(
                        "".join(
                            pdf_str(p.group(1))
                            for p in _re.finditer(
                                rb"\(((?:[^()\\]|\\.)*)\)", sm.group(2), _re.DOTALL
                            )
                        )
                    )
        if chunks:
            pages.append((len(pages) + 1, "\n".join(chunks)))
    if not pages:
        detail = (
            f"; {skipped} undecodable stream(s) skipped" if skipped else ""
        )
        raise NotImplementedError(
            f"{path}: no extractable text streams (image-only or CID-encoded "
            f"pdf{detail}; install pypdf/pymupdf for full extraction — "
            "reference: file_reader.py:27-214)"
        )
    if skipped:
        import warnings

        warnings.warn(
            f"{path}: {skipped} content stream(s) could not be decoded; "
            "extracted text may be missing pages (install pypdf/pymupdf "
            "for full extraction)",
            stacklevel=2,
        )
    return pages


def _pandas_to_spark(spark: SparkSession, pdf, path: str) -> DataFrame:
    """Worksheet frame → Spark, with the header-only edge handled (pandas
    object dtype can't be inferred by Spark)."""
    if len(pdf.columns) == 0:
        raise ValueError(f"{path}: worksheet has no data")
    if len(pdf) == 0:
        return local_frame(
            spark,
            [], ", ".join(f"`{c}` string" for c in pdf.columns)
        )
    return local_frame(spark, pdf)


def read_file(spark: SparkSession, path: str, **options) -> DataFrame:
    """Load a data file with the sniffed format's reader."""
    fmt = sniff_format(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        return spark.read.options(**options).json(path)
    if fmt == "txt":
        # one row per line, single `text` column (reference TXT behavior)
        return spark.read.options(**options).text(path).withColumnRenamed("value", "text")
    if fmt == "xlsx":
        try:
            import openpyxl  # noqa: F401 — engine probe only
        except ImportError:  # stdlib zip+XML reader (no excel engine)
            extra = sorted(k for k in options if k != "sheet_name")
            if extra:
                # silently reading with a different header/dtype setting
                # than asked for would return different data per environment
                raise ValueError(
                    "xlsx reader options other than sheet_name need "
                    f"openpyxl; got {extra} without it"
                )
            pdf = _read_xlsx_stdlib(path, sheet_name=options.get("sheet_name", 0))
        else:
            import pandas as pd

            pdf = pd.read_excel(path, **options)
        return _pandas_to_spark(spark, pdf, path)
    if fmt == "pdf":
        # one row per page, (page, text) — a pdf lib extracts best
        # (the reference uses pymupdf, file_reader.py:27-214); without one,
        # the stdlib extractor below handles plain/Flate content streams
        pages = None
        try:
            import pypdf

            reader = pypdf.PdfReader(path)
            pages = [(i + 1, p.extract_text() or "") for i, p in enumerate(reader.pages)]
        except ImportError:
            try:
                import fitz  # pymupdf

                with fitz.open(path) as doc:
                    pages = [(i + 1, page.get_text()) for i, page in enumerate(doc)]
            except ImportError:
                pages = _read_pdf_stdlib(path)
        return local_frame(spark, pages, "page int, text string")
    sep = "\t" if path.endswith(".tsv") else options.pop("sep", ",")
    return (
        spark.read.options(header=True, inferSchema=True, sep=sep, **options).csv(path)
    )
