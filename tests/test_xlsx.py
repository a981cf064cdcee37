"""Stdlib OOXML writer/reader roundtrip (K2's real-xlsx path —
sources/sinks.py:_write_xlsx_stdlib / sources/readers.py:
read_xlsx_sheet). No openpyxl in this container, so the roundtrip
through our own reader plus a raw-XML structure check is the gate."""

import math
import os
import re
import zipfile
import xml.etree.ElementTree as ET

import pandas as pd
import pytest

from mape_calculation_and_anonymization_spark.sources.readers import (
    read_xlsx_sheet,
    read_xlsx_sheet_pandas,
)
from mape_calculation_and_anonymization_spark.sources.sinks import (
    _col_ref,
    _write_xlsx_stdlib,
    write_excel_workbook,
)


def test_col_ref_letters():
    assert [_col_ref(i) for i in (0, 1, 25, 26, 27, 51, 52, 701, 702)] == [
        "A", "B", "Z", "AA", "AB", "AZ", "BA", "ZZ", "AAA",
    ]


def test_xlsx_roundtrip_mixed_types(tmp_path):
    path = str(tmp_path / "wb.xlsx")
    pdf = pd.DataFrame(
        {
            "i": [1, 2, 3],
            "f": [1.5, -0.25, 1e12],
            "s": ["plain", "<&>\"'", "  spaces  "],
            "gap": [None, "x", float("nan")],
        }
    )
    _write_xlsx_stdlib(path, {"data": pdf})
    got = read_xlsx_sheet_pandas(path, "data")
    assert list(got.columns) == ["i", "f", "s", "gap"]
    assert got["i"].tolist() == [1, 2, 3]
    assert got["f"].tolist() == [1.5, -0.25, 1e12]
    # XML-special characters and leading/trailing spaces survive
    assert got["s"].tolist() == ["plain", "<&>\"'", "  spaces  "]
    assert got["gap"][0] is None or (
        isinstance(got["gap"][0], float) and math.isnan(got["gap"][0])
    )
    assert got["gap"][1] == "x"


def test_xlsx_multi_sheet_and_spark_read(spark, tmp_path):
    path = str(tmp_path / "wb.xlsx")
    a = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "v"])
    b = spark.createDataFrame([(3.5,)], ["only"])
    out = write_excel_workbook(path, first=a, second=b)
    assert out == path
    df = read_xlsx_sheet(spark, path, "first")
    assert sorted((r["k"], r["v"]) for r in df.collect()) == [(1, "x"), (2, "y")]
    assert read_xlsx_sheet_pandas(path, "second")["only"].tolist() == [3.5]
    with pytest.raises(KeyError):
        read_xlsx_sheet_pandas(path, "missing")


def test_xlsx_is_valid_ooxml_package(tmp_path):
    """Structural contract an external reader (Excel/openpyxl) relies
    on: required parts present, worksheet XML parses, inline strings
    declared, numbers bare."""
    path = str(tmp_path / "wb.xlsx")
    _write_xlsx_stdlib(
        path, {"s1": pd.DataFrame({"n": [7], "t": ["hi"]})}
    )
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert {
            "[Content_Types].xml",
            "_rels/.rels",
            "xl/workbook.xml",
            "xl/_rels/workbook.xml.rels",
            "xl/worksheets/sheet1.xml",
        } <= names
        ws = z.read("xl/worksheets/sheet1.xml").decode()
        ET.fromstring(ws)  # well-formed
        assert 't="inlineStr"' in ws and "<v>7</v>" in ws
        ct = z.read("[Content_Types].xml").decode()
        assert "sheet.main+xml" in ct and "worksheet+xml" in ct


def test_xlsx_wide_frame_beyond_z(tmp_path):
    path = str(tmp_path / "wide.xlsx")
    pdf = pd.DataFrame({f"c{i}": [i] for i in range(30)})
    _write_xlsx_stdlib(path, {"w": pdf})
    got = read_xlsx_sheet_pandas(path, "w")
    assert list(got.columns) == [f"c{i}" for i in range(30)]
    assert got.iloc[0].tolist() == list(range(30))


def test_xlsx_shared_strings_read(tmp_path):
    """The reader also consumes sharedStrings-style workbooks (what
    openpyxl writes) — hand-build one."""
    path = str(tmp_path / "sst.xlsx")
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pns = "http://schemas.openxmlformats.org/package/2006/relationships"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>'
            '<sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<Relationships xmlns="{pns}"><Relationship Id="rId1" '
            f'Type="{rns}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        z.writestr(
            "xl/sharedStrings.xml",
            f'<sst xmlns="{ns}"><si><t>name</t></si><si><t>alice</t></si></sst>',
        )
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
            '<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
            "</sheetData></worksheet>",
        )
    got = read_xlsx_sheet_pandas(path, "s")
    assert list(got.columns) == ["name"]
    assert got["name"].tolist() == ["alice"]


def test_xlsx_roundtrip_property():
    """Property: any frame of int/float/unicode-string cells survives
    the stdlib write→read roundtrip exactly (floats bit-exact via
    repr; strings verbatim including XML metacharacters and
    whitespace)."""
    from hypothesis import given, settings, strategies as st

    cell = st.one_of(
        st.integers(min_value=-(2**53), max_value=2**53),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs", "Cc"), max_codepoint=0x2FFF
            ),
            max_size=40,
        ),
    )

    # HYPOTHESIS_RANDOMIZE=1 re-enables randomized discovery (the
    # derandomize setting shadows pytest's --hypothesis-seed, see
    # tests/test_properties.py)
    @settings(
        max_examples=25,
        deadline=None,
        derandomize=not os.environ.get("HYPOTHESIS_RANDOMIZE"),
    )
    @given(
        st.lists(
            st.lists(cell, min_size=3, max_size=3), min_size=1, max_size=6
        )
    )
    def roundtrip(rows):
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            path = f"{d}/p.xlsx"
            pdf = pd.DataFrame(rows, columns=["a", "b", "c"])
            _write_xlsx_stdlib(path, {"s": pdf})
            got = read_xlsx_sheet_pandas(path, "s")
            assert list(got.columns) == ["a", "b", "c"]
            for col in ("a", "b", "c"):
                for orig, back in zip(pdf[col].tolist(), got[col].tolist()):
                    if isinstance(orig, float) and isinstance(back, (int, float)):
                        assert float(back) == orig
                    else:
                        assert back == orig

    roundtrip()


def test_xlsx_numpy_scalars_in_object_columns(tmp_path):
    """numpy scalars inside object columns (older pandas / mixed
    frames) must serialize as numbers and booleans, never as inline
    strings."""
    import numpy as np

    path = str(tmp_path / "np.xlsx")
    pdf = pd.DataFrame(
        {
            "o": pd.Series([np.int64(7), np.float64(2.5)], dtype=object),
            "b": pd.Series([np.bool_(True), np.bool_(False)], dtype=object),
        }
    )
    _write_xlsx_stdlib(path, {"s": pdf})
    got = read_xlsx_sheet_pandas(path, "s")
    assert got["o"].tolist() == [7, 2.5]
    assert got["b"].tolist() == [True, False]
    with zipfile.ZipFile(path) as z:
        ws = z.read("xl/worksheets/sheet1.xml").decode()
    assert "<v>7</v>" in ws and "<v>2.5</v>" in ws and 't="b"' in ws


def test_xlsx_infinities_are_inline_strings(tmp_path):
    """Excel has no infinity and ``inf`` is no ``xsd:double``: ±inf
    cells are the inline strings pandas ``to_excel`` writes."""
    path = str(tmp_path / "inf.xlsx")
    pdf = pd.DataFrame({"a": [1.0, float("inf"), float("-inf")]})
    _write_xlsx_stdlib(path, {"s": pdf})
    with zipfile.ZipFile(path) as z:
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    assert "<v>inf" not in sheet and "<v>-inf" not in sheet
    assert read_xlsx_sheet_pandas(path, "s")["a"].tolist() == [1.0, "inf", "-inf"]


def test_excel_sheet_names_cut_to_the_same_name_fail(tmp_path):
    """Excel cuts sheet names to 31 characters; two that cut to the
    same name must not silently drop one sheet."""
    path = str(tmp_path / "clash.xlsx")
    one = pd.DataFrame({"x": [1]})
    long_a, long_b = "s" * 31 + "_a", "s" * 31 + "_b"
    with pytest.raises(ValueError, match=f"{long_a}.*{long_b}"):
        write_excel_workbook(path, **{long_a: one, long_b: one})
    assert not os.path.exists(path)


@pytest.mark.parametrize(
    "sheet, pdf, where",
    [
        ("daily", pd.DataFrame({"a": ["ok", "bad\x01char"]}), "'daily' cell A3"),
        ("daily", pd.DataFrame({"a\x1fb": [1]}), "'daily' cell A1"),
        ("da\x0bily", pd.DataFrame({"a": [1]}), "sheet name 'da\\x0bily'"),
        ("daily", pd.DataFrame({"a": ["bad\uffffchar"]}), "'daily' cell A2"),
        ("daily", pd.DataFrame({"a": ["bad\ufffechar"]}), "'daily' cell A2"),
        ("daily", pd.DataFrame({"a\ud800": [1]}), "'daily' cell A1"),
        ("da\udfffily", pd.DataFrame({"a": [1]}), "sheet name 'da\\udfffily'"),
    ],
)
def test_xlsx_control_characters_fail_before_writing(tmp_path, sheet, pdf, where):
    """XML 1.0 forbids most control characters, lone surrogates and
    U+FFFE/U+FFFF outright: a data cell, header or sheet name holding
    one must raise naming the sheet and cell, not write a workbook no
    reader can parse, and must leave no partial file."""
    path = str(tmp_path / "ctl.xlsx")
    good = pd.DataFrame({"x": [1]})
    with pytest.raises(ValueError, match=re.escape(where)):
        write_excel_workbook(path, first=good, **{sheet: pdf})
    assert not os.path.exists(path)


def test_xlsx_big_integers_exact(tmp_path):
    path = str(tmp_path / "big.xlsx")
    big = 2**53 + 1  # not representable as a double
    pdf = pd.DataFrame({"n": [big, -big]})
    _write_xlsx_stdlib(path, {"s": pdf})
    got = read_xlsx_sheet_pandas(path, "s")
    assert got["n"].tolist() == [big, -big]


def test_excel_facade_creates_the_output_dir(tmp_path, monkeypatch):
    """``MapeCalculation.save_to_excelspreadsheet`` writes
    ``./output/<client>_performance.xlsx`` on a fresh checkout, where
    ``./output`` does not exist yet."""
    from mape_calculation_and_anonymization_spark.operators.mape import (
        MapeCalculation,
    )

    monkeypatch.chdir(tmp_path)
    daily = pd.DataFrame({"day": ["2024-06-01"], "wape": [0.125]})
    out = MapeCalculation(None).save_to_excelspreadsheet("client", daily=daily)
    assert out == "./output/client_performance.xlsx"
    back = read_xlsx_sheet_pandas(str(tmp_path / out), "daily")
    assert back.to_dict("list") == {"day": ["2024-06-01"], "wape": [0.125]}
