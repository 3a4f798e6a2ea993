"""File-format sniffing extensions."""

import os

import pytest

from mindsdb_spark.sources.files import read_file, sniff_format


def test_sniff_txt_and_magic(tmp_path):
    p = tmp_path / "notes.txt"
    p.write_text("hello\nworld\n")
    assert sniff_format(str(p)) == "txt"
    pdf = tmp_path / "doc.bin"
    pdf.write_bytes(b"%PDF-1.7 rest")
    assert sniff_format(str(pdf)) == "pdf"
    xlsx = tmp_path / "table.bin"
    xlsx.write_bytes(b"PK\x03\x04 rest")
    assert sniff_format(str(xlsx)) == "xlsx"


def test_read_txt_one_row_per_line(spark, tmp_path):
    p = tmp_path / "notes.txt"
    p.write_text("alpha\nbeta\n")
    df = read_file(spark, str(p))
    assert df.columns == ["text"]
    assert sorted(r["text"] for r in df.collect()) == ["alpha", "beta"]


def test_read_pdf_no_text_raises_not_implemented(spark, tmp_path):
    # a PDF with no extractable text streams (image-only / truncated) is a
    # clear error, not garbage rows
    p = tmp_path / "doc.pdf"
    p.write_bytes(b"%PDF-1.7\n...")
    with pytest.raises(NotImplementedError):
        read_file(spark, str(p))


def _write_minimal_xlsx(path, header, rows):
    """Hand-build a real .xlsx (zip of XML parts) with the stdlib —
    shared strings for text cells, bare <v> for numbers."""
    import zipfile

    strings: list[str] = []

    def cell(ref, v):
        if isinstance(v, str):
            if v not in strings:
                strings.append(v)
            return f'<c r="{ref}" t="s"><v>{strings.index(v)}</v></c>'
        return f'<c r="{ref}"><v>{v}</v></c>'

    def row(i, vals):
        cells = "".join(cell(f"{chr(65 + j)}{i}", v) for j, v in enumerate(vals))
        return f'<row r="{i}">{cells}</row>'

    sheet_rows = [row(1, header)] + [row(i + 2, r) for i, r in enumerate(rows)]
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    sheet = f'<?xml version="1.0"?><worksheet {ns}><sheetData>{"".join(sheet_rows)}</sheetData></worksheet>'
    sst = f'<?xml version="1.0"?><sst {ns}>' + "".join(
        f"<si><t>{s}</t></si>" for s in strings
    ) + "</sst>"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", '<?xml version="1.0"?><Types/>')
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_read_xlsx_stdlib(spark, tmp_path):
    # the container has no openpyxl — this exercises the stdlib zip+XML
    # reader end-to-end through the sniffed read_file door
    p = tmp_path / "table.xlsx"
    _write_minimal_xlsx(
        p, ["name", "qty", "price"],
        [["bolt", 3, 1.5], ["plate", 7, 2.25], ["bolt", 2, 1.5]],
    )
    assert sniff_format(str(p)) == "xlsx"
    df = read_file(spark, str(p))
    assert df.columns == ["name", "qty", "price"]
    got = sorted((r["name"], r["qty"], r["price"]) for r in df.collect())
    assert got == [("bolt", 2, 1.5), ("bolt", 3, 1.5), ("plate", 7, 2.25)]


def test_read_xlsx_stdlib_edges(spark, tmp_path):
    import zipfile

    from mindsdb_spark.sources.files import _read_xlsx_stdlib

    # _rels entries must not be picked as the worksheet (sorts before sheetN)
    p = tmp_path / "rels.xlsx"
    _write_minimal_xlsx(p, ["a"], [["x"]])
    with zipfile.ZipFile(p, "a") as z:
        z.writestr("xl/worksheets/_rels/sheet1.xml.rels", "<Relationships/>")
    df = read_file(spark, str(p))
    assert [r["a"] for r in df.collect()] == ["x"]
    # header-only sheet: empty string-typed table, not a crash
    p2 = tmp_path / "hdr.xlsx"
    _write_minimal_xlsx(p2, ["a", "b"], [])
    df2 = read_file(spark, str(p2))
    assert df2.columns == ["a", "b"] and df2.count() == 0
    # valueless (formatted-only) rows: empty frame, not max() crash
    p3 = tmp_path / "fmt.xlsx"
    with zipfile.ZipFile(p3, "w") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            '<?xml version="1.0"?><worksheet><sheetData>'
            '<row r="1"><c r="A1"/></row></sheetData></worksheet>',
        )
    assert len(_read_xlsx_stdlib(str(p3))) == 0
    # sheet_name is served by the stdlib reader; OTHER options still need
    # the real engine (silently ignoring header/dtype settings would return
    # different data per environment)
    with pytest.raises(ValueError, match="openpyxl"):
        read_file(spark, str(p), header=3)
    with pytest.raises(ValueError, match="no sheet named"):
        read_file(spark, str(p), sheet_name="Data")


def test_read_pdf_stdlib_octal_escapes(spark, tmp_path):
    # \ddd octal (wrapping mod 256 per spec), \8 is not an escape
    p = tmp_path / "oct.pdf"
    p.write_bytes(
        b"%PDF-1.4\n1 0 obj\n<< /Length 44 >>\nstream\n"
        b"BT (A\\101\\8 \\778) Tj ET"
        b"\nendstream\nendobj\n%%EOF\n"
    )
    df = read_file(spark, str(p))
    assert df.collect()[0]["text"] == "AA8 ?8"


def test_read_pdf_stdlib_flate_and_raw(spark, tmp_path):
    # hand-built two-page PDF: page 1 Flate-compressed with Tj + escapes,
    # page 2 raw with a TJ kerning array — the stdlib extractor decodes both
    import zlib

    page1 = zlib.compress(
        b"BT /F1 12 Tf 72 720 Td (Hello \\(world\\)) Tj ET"
    )
    page2 = b"BT [(Spar) -20 (k rocks)] TJ ET"
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Length " + str(len(page1)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + page1 + b"\nendstream\nendobj\n"
        b"2 0 obj\n<< /Length " + str(len(page2)).encode()
        + b" >>\nstream\n" + page2 + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    p = tmp_path / "doc.pdf"
    p.write_bytes(body)
    df = read_file(spark, str(p))
    rows = {r["page"]: r["text"] for r in df.collect()}
    assert rows == {1: "Hello (world)", 2: "Spark rocks"}


def test_xlsx_and_pdf_through_sql_door(spark, tmp_path):
    # the reference's files integration: upload once, query as a table —
    # the new stdlib-backed formats work through the same door
    import zlib

    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    xp = tmp_path / "prices.xlsx"
    _write_minimal_xlsx(xp, ["name", "qty"], [["bolt", 3], ["plate", 7]])
    sess.register_file("prices", str(xp))
    rows = sess.sql(
        "SELECT name, qty FROM files_prices WHERE qty > 4 ORDER BY name"
    ).collect()
    assert [(r["name"], r["qty"]) for r in rows] == [("plate", 7)]
    pp = tmp_path / "doc.pdf"
    page = zlib.compress(b"BT (hello from pdf) Tj ET")
    pp.write_bytes(
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
        + page + b"\nendstream\nendobj\n%%EOF\n"
    )
    sess.register_file("doc", str(pp))
    got = sess.sql("SELECT page, text FROM files_doc").collect()
    assert [(r["page"], r["text"]) for r in got] == [(1, "hello from pdf")]


def test_register_file_queryable(spark, tmp_path):
    from mindsdb_spark.engine import EngineSession

    p = tmp_path / "prices.csv"
    p.write_text("sku,price\na,1.5\nb,2.5\n")
    sess = EngineSession(spark)
    sess.register_file("prices", str(p))
    rows = sess.sql("SELECT sku, price FROM files_prices ORDER BY sku").collect()
    assert [(r["sku"], r["price"]) for r in rows] == [("a", 1.5), ("b", 2.5)]


def _write_multisheet_xlsx(path, sheets, order=None):
    """Multi-sheet .xlsx with real workbook.xml + rels: ``sheets`` maps
    part file number -> (display_name, header, rows); ``order`` lists part
    numbers in WORKBOOK order (which may differ from filename order — the
    case a reordered-in-Excel workbook produces)."""
    import zipfile

    order = order or sorted(sheets)
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

    def sheet_xml(header, rows):
        def cell(ref, v):
            if isinstance(v, str):
                return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
            return f'<c r="{ref}"><v>{v}</v></c>'

        all_rows = [header] + rows
        body = "".join(
            f'<row r="{i + 1}">'
            + "".join(cell(f"{chr(65 + j)}{i + 1}", v) for j, v in enumerate(r))
            + "</row>"
            for i, r in enumerate(all_rows)
        )
        return f'<?xml version="1.0"?><worksheet {ns}><sheetData>{body}</sheetData></worksheet>'

    wb_sheets = "".join(
        f'<sheet name="{sheets[num][0]}" sheetId="{i + 1}" r:id="rId{num}"/>'
        for i, num in enumerate(order)
    )
    workbook = (
        f'<?xml version="1.0"?><workbook {ns} xmlns:r="{rns}">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{num}" Type="{rns}/worksheet" '
            f'Target="worksheets/sheet{num}.xml"/>'
            for num in sheets
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", '<?xml version="1.0"?><Types/>')
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        for num, (_name, header, rows) in sheets.items():
            z.writestr(f"xl/worksheets/sheet{num}.xml", sheet_xml(header, rows))


def test_xlsx_workbook_sheet_order(spark, tmp_path):
    """Sheet 0 is workbook.xml order, NOT filename order (round-6 advice):
    a workbook reordered in Excel can have sheet2.xml as its first sheet."""
    from mindsdb_spark.sources.files import list_xlsx_sheets

    p = tmp_path / "reordered.xlsx"
    _write_multisheet_xlsx(
        p,
        {1: ("Old", ["a"], [["from_sheet1"]]), 2: ("Front", ["a"], [["from_sheet2"]])},
        order=[2, 1],  # workbook lists sheet2.xml first
    )
    assert list_xlsx_sheets(str(p)) == ["Front", "Old"]
    # default = first sheet in WORKBOOK order -> sheet2.xml's data
    assert [r["a"] for r in read_file(spark, str(p)).collect()] == ["from_sheet2"]
    # select by index and by name
    assert [r["a"] for r in read_file(spark, str(p), sheet_name=1).collect()] == ["from_sheet1"]
    assert [r["a"] for r in read_file(spark, str(p), sheet_name="Old").collect()] == ["from_sheet1"]


def test_xlsx_multisheet_files_door(spark, tmp_path):
    """Every sheet of a multi-sheet workbook is queryable through the SQL
    files door (reference: files.<file>.<sheet>, file_handler.py:68-78) —
    here as files_<name>_<sheet>; the bare name stays sheet 0."""
    from mindsdb_spark.engine import EngineSession

    p = tmp_path / "book.xlsx"
    _write_multisheet_xlsx(
        p,
        {
            1: ("Prices", ["sku", "price"], [["a1", 3], ["a2", 5]]),
            2: ("Stock", ["sku", "qty"], [["a1", 7]]),
        },
    )
    sess = EngineSession(spark)
    sess.register_file("book", str(p))
    assert [r["sku"] for r in sess.sql("SELECT sku FROM files_book ORDER BY sku").collect()] == ["a1", "a2"]
    got = sess.sql(
        "SELECT p.sku, p.price, s.qty FROM files_book_prices p "
        "JOIN files_book_stock s ON p.sku = s.sku"
    ).collect()
    assert [(r["sku"], r["price"], r["qty"]) for r in got] == [("a1", 3, 7)]
    sess.drop_file("book")
    from pyspark.sql.utils import AnalysisException

    with pytest.raises(AnalysisException):
        spark.sql("SELECT * FROM files_book_stock").collect()


def test_xlsx_phonetic_runs_excluded(spark, tmp_path):
    """<rPh> phonetic (furigana) runs inside shared strings are reading
    annotations, not cell text — pandas/openpyxl exclude them (round-6
    advice)."""
    import zipfile

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    sst = (
        f'<?xml version="1.0"?><sst {ns}>'
        "<si><t>hdr</t></si>"
        # plain <t> + phonetic run: cell text is only the <t>
        "<si><t>東京</t><rPh sb=\"0\" eb=\"2\"><t>トウキョウ</t></rPh>"
        '<phoneticPr fontId="1"/></si>'
        # rich-text runs still concatenate
        "<si><r><t>a</t></r><r><t>b</t></r><rPh sb=\"0\" eb=\"1\"><t>AB</t></rPh></si>"
        "</sst>"
    )
    sheet = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>2</v></c></row>'
        "</sheetData></worksheet>"
    )
    p = tmp_path / "ph.xlsx"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("[Content_Types].xml", '<?xml version="1.0"?><Types/>')
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    vals = [r["hdr"] for r in read_file(spark, str(p)).collect()]
    assert vals == ["東京", "ab"]


def test_pdf_length_sliced_stream(spark, tmp_path):
    """A Flate stream whose COMPRESSED bytes contain b'endstream' must be
    sliced by the dict's /Length, not truncated at the first keyword hit
    (round-6 advice: the truncated stream failed zlib and the page was
    silently dropped)."""
    import zlib

    # brute-force a payload whose deflate output contains b'endstream'
    page = None
    for i in range(200000):
        cand = zlib.compress(f"BT (needle {i}) Tj ET".encode(), 9)
        if b"endstream" in cand:
            page, text = cand, f"needle {i}"
            break
    if page is None:
        # embed the keyword via a stored (uncompressed) deflate block:
        # zlib always honors /Length slicing regardless
        raw = b"BT (endstream inside) Tj ET"
        co = zlib.compressobj(0)
        page, text = co.compress(raw) + co.flush(), "endstream inside"
    assert b"endstream" in page
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(page)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + page + b"\nendstream\nendobj\n%%EOF\n"
    )
    p = tmp_path / "tricky.pdf"
    p.write_bytes(body)
    df = read_file(spark, str(p))
    assert df.collect()[0]["text"] == text


def test_pdf_skipped_streams_warn(spark, tmp_path):
    """An undecodable Flate stream is counted and WARNED about when other
    pages extracted — a silently missing page is data loss."""
    import warnings
    import zlib

    good = zlib.compress(b"BT (page one) Tj ET")
    bad = b"\x78\x9c\x00corrupt-flate-bytes"
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Length " + str(len(good)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + good + b"\nendstream\nendobj\n"
        b"2 0 obj\n<< /Length " + str(len(bad)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + bad + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    p = tmp_path / "partial.pdf"
    p.write_bytes(body)
    from mindsdb_spark.sources.files import _read_pdf_stdlib

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pages = _read_pdf_stdlib(str(p))
    assert pages == [(1, "page one")]
    assert any("could not be decoded" in str(x.message) for x in w)


def test_multisheet_skips_empty_sheet_and_dedupes_names(spark, tmp_path):
    """A blank trailing sheet must not abort registration (review finding:
    the whole workbook became unregistrable and prior state was destroyed);
    sanitization collisions get ordinal suffixes instead of silently
    overwriting a sheet's view."""
    from mindsdb_spark.engine import EngineSession

    p = tmp_path / "mixed.xlsx"
    _write_multisheet_xlsx(
        p,
        {
            1: ("Q1 2024", ["a"], [["x1"]]),
            2: ("Q1_2024", ["a"], [["x2"]]),
            3: ("Blank", ["a"], []),   # header-only -> empty: skipped
        },
    )
    sess = EngineSession(spark)
    sess.register_file("mix", str(p))
    assert [r["a"] for r in sess.sql("SELECT a FROM files_mix_q1_2024").collect()] == ["x1"]
    assert [r["a"] for r in sess.sql("SELECT a FROM files_mix_q1_2024_2").collect()] == ["x2"]
    # re-registering the same name with a failing read keeps prior state
    bad = tmp_path / "bad.xlsx"
    import zipfile
    with zipfile.ZipFile(bad, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")  # no worksheet at all
    import pytest as _pt
    with _pt.raises(ValueError):
        sess.register_file("mix", str(bad))
    assert [r["a"] for r in sess.sql("SELECT a FROM files_mix_q1_2024").collect()] == ["x1"]
    sess.drop_file("mix")


def test_pdf_indirect_length_not_misparsed(spark, tmp_path):
    """'/Length 56 0 R' (indirect ref) must not backtrack to '5' as a
    direct length (review finding) — extraction falls back to the
    endstream scan and still reads the page."""
    import zlib

    page = zlib.compress(b"BT (indirect length page) Tj ET")
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 56 0 R /Filter /FlateDecode >>\nstream\n"
        + page + b"\nendstream\nendobj\n"
        b"56 0 obj\n" + str(len(page)).encode() + b"\nendobj\n%%EOF\n"
    )
    p = tmp_path / "indirect.pdf"
    p.write_bytes(body)
    df = read_file(spark, str(p))
    assert df.collect()[0]["text"] == "indirect length page"
