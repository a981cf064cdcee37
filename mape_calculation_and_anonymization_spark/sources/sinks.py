"""Sinks: snappy parquet, multi-sheet Excel, output naming.

Reference parity (SURVEY.md §2.1):
  K1  Parquet snappy sink — reference/anonymize_datasets.py:66,78,180,207
  K2  Multi-sheet Excel   — reference/main.py:147-153
  K3  Output filename     — reference/anonymize_datasets.py:175,202
"""

from __future__ import annotations

import os
import re
from typing import Callable

from pyspark.sql import DataFrame


def replace_dir(path: str, build: Callable[[str], object]) -> object:
    """Replace the directory ``path`` by the one ``build(stage)`` writes
    into the sibling ``<path>.__new_<uuid8>``: rename the live directory
    (if any) to ``<path>.__old_<uuid8>``, the stage to ``path``, then
    remove the old one. On any exception the stage is removed and the
    old directory moved back. ``build`` may read ``path``, which stays
    untouched until the stage is complete. A reader between the two
    renames finds no table (single-writer, like the reference's
    key-table rewrite). Returns what ``build`` returned.
    """
    import shutil
    import uuid

    path = path.rstrip("/")
    tag = uuid.uuid4().hex[:8]
    stage, old = f"{path}.__new_{tag}", f"{path}.__old_{tag}"
    try:
        built = build(stage)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(stage, path)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        if os.path.exists(old):
            os.rename(old, path)
        raise
    shutil.rmtree(old, ignore_errors=True)
    return built


def write_parquet_snappy(df: DataFrame, path: str) -> None:
    """K1 — distributed snappy parquet write (overwrites ``path``).

    Unlike the reference (single ``df.to_parquet`` file) this writes a
    directory of part files — the scalable layout. Partition count
    follows the upstream plan / AQE coalesce.
    """
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)


def compact_parquet(spark, path: str) -> None:
    """Small-file compaction: rewrite a parquet directory into 2 files
    — the maintenance job every streaming
    or micro-batch sink needs, since each trigger lands its own part
    files and a 100 TB table degrades into millions of footer reads.

    coalesce (not repartition): collapsing partitions needs NO
    shuffle — each output task reads several input files and streams
    them through. Commits through :func:`replace_dir`: a failed rewrite
    leaves the table as it was; a reader never sees a mix of old and
    new part files, but one between the two renames finds no table.
    """
    compacted = spark.read.parquet(path).coalesce(2)
    replace_dir(path, lambda stage: write_parquet_snappy(compacted, stage))


def anonymized_output_name(filename: str, client: str, client_demo: str = "client_demo") -> str:
    """K3 — rewrite ``{client}*.csv`` → ``{client_demo}*.snappy.parquet``."""
    return filename.replace(client, client_demo).replace(".csv", ".snappy.parquet")


def _col_ref(i: int) -> str:
    """0-based column index → spreadsheet letters (0→A, 26→AA)."""
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(ord("A") + r) + out
    return out


def _xml_escape(s: str) -> str:
    from xml.sax.saxutils import escape

    # quote entities included: this helper is also used in attribute
    # context (sheet name="..."), where a literal '"' would end the
    # attribute and corrupt workbook.xml
    return escape(s, {'"': "&quot;", "'": "&apos;"})


# characters XML 1.0 forbids (C0 controls, lone surrogates, U+FFFE and
# U+FFFF): no escape can carry them, so a sheet holding one is not
# well-formed and no reader opens it (a lone surrogate cannot even be
# encoded as UTF-8)
_XML_ILLEGAL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\ud800-\udfff\ufffe\uffff]")

_XLSX_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"


def _write_xlsx_stdlib(filepath: str, pdfs: dict) -> None:
    """Dependency-free OOXML workbook writer (zip of XML parts —
    [Content_Types], package rels, workbook + rels, one worksheet per
    sheet). Strings go as inline strings (``t="inlineStr"``) so no
    sharedStrings table is needed; numbers as plain ``<v>``; booleans
    as ``t="b"``; NaN/None as omitted cells; ±inf as the inline
    strings ``inf``/``-inf`` (Excel has no infinity, and ``inf`` is no
    ``xsd:double``; pandas ``to_excel`` writes the same strings);
    anything else (dates, timestamps) as its ``str()`` inline. Valid
    OOXML — Excel, openpyxl, and :func:`..readers.read_xlsx_sheet` all
    read it.

    A sheet name, header or string cell holding a character XML 1.0
    forbids (a control character, a lone surrogate, U+FFFE or U+FFFF)
    raises ValueError naming the sheet and cell (as
    openpyxl refuses them); every part is built before the file is
    opened, so a refusal leaves no partial workbook."""
    import math
    import numbers
    import zipfile

    import numpy as np

    def cell_xml(sheet: str, ref: str, v) -> str:
        # numbers.Integral/Real (not bare int/float) so numpy scalars
        # inside object columns serialize as numbers, not inline
        # strings; values go through int()/float() because numpy 2's
        # repr is 'np.float64(1.5)', not a bare literal
        if v is None:
            return ""
        if isinstance(v, (bool, np.bool_)):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, numbers.Integral):
            return f'<c r="{ref}"><v>{int(v)!r}</v></c>'
        if isinstance(v, numbers.Real):
            fv = float(v)
            if math.isnan(fv):
                return ""
            if not math.isinf(fv):
                return f'<c r="{ref}"><v>{fv!r}</v></c>'
            v = "inf" if fv > 0 else "-inf"
        text = str(v)
        if _XML_ILLEGAL.search(text):
            raise ValueError(
                f"_write_xlsx_stdlib: sheet {sheet!r} cell {ref} holds a "
                f"character XML cannot carry: {text!r}"
            )
        return (
            f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{_xml_escape(text)}</t></is></c>"
        )

    def sheet_xml(sheet: str, pdf) -> str:
        rows = [
            "<row r=\"1\">"
            + "".join(
                cell_xml(sheet, f"{_col_ref(j)}1", str(c))
                for j, c in enumerate(pdf.columns)
            )
            + "</row>"
        ]
        for i, rec in enumerate(pdf.itertuples(index=False), start=2):
            rows.append(
                f'<row r="{i}">'
                + "".join(
                    cell_xml(sheet, f"{_col_ref(j)}{i}", v)
                    for j, v in enumerate(rec)
                )
                + "</row>"
            )
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{_XLSX_NS}"><sheetData>'
            + "".join(rows)
            + "</sheetData></worksheet>"
        )

    names = list(pdfs)
    for n in names:
        if _XML_ILLEGAL.search(n):
            raise ValueError(
                f"_write_xlsx_stdlib: sheet name {n!r} holds a character "
                "XML cannot carry"
            )
    sheets = [sheet_xml(n, pdfs[n]) for n in names]
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(len(names))
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/'
        'vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        f"{overrides}</Types>"
    )
    pkg_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PKG_REL_NS}">'
        f'<Relationship Id="rId1" Type="{_REL_NS}/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    sheets_decl = "".join(
        f'<sheet name="{_xml_escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_XLSX_NS}" xmlns:r="{_REL_NS}">'
        f"<sheets>{sheets_decl}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PKG_REL_NS}">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{_REL_NS}/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(filepath, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", pkg_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, part in enumerate(sheets):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", part)


def write_excel_workbook(filepath: str, **sheets: DataFrame) -> str:
    """K2 — one sheet per kwarg, like the reference's
    ``save_to_excelspreadsheet`` (reference/main.py:147-153).

    Excel is inherently a single-file, driver-side format, so each
    sheet DataFrame is collected via ``toPandas()``. Callers must only
    pass post-aggregation results (daily MAPE tables are ≤ a few
    thousand rows); raw fact tables would OOM the driver by design.

    The workbook is written by the dependency-free stdlib OOXML writer
    (:func:`_write_xlsx_stdlib`) — a real ``.xlsx``, matching the
    reference's actual sink format. Read back with
    ``sources.readers.read_xlsx_sheet``. The parent directory is created
    on demand (the reference assumes ``./output/`` exists).

    Sheet names are cut to Excel's 31 characters; two names that cut
    to the same sheet name raise ValueError naming both.
    """
    seen: dict[str, str] = {}
    for name in sheets:
        other = seen.setdefault(name[:31], name)
        if other != name:
            raise ValueError(
                f"write_excel_workbook: sheets {other!r} and {name!r} both "
                f"cut to the 31-character sheet name {name[:31]!r}"
            )
    os.makedirs(os.path.dirname(filepath) or ".", exist_ok=True)
    pdfs = {
        name[:31]: (df.toPandas() if isinstance(df, DataFrame) else df)
        for name, df in sheets.items()
    }
    _write_xlsx_stdlib(filepath, pdfs)
    return filepath


def write_versioned(df: DataFrame, path: str) -> int:
    """Versioned snapshot write (time travel): each call lands a full
    snapshot under ``<path>/v=<N>/`` and then atomically points the
    JSON manifest at it — the minimal form of the lake-table pattern
    (Delta/Iceberg) where readers never see a half-written version:
    the manifest rename is the commit.

    Returns the version number written. Single-writer discipline (like
    the reference's key-table append); concurrent writers need a real
    table format's conditional commit.
    """
    import json

    os.makedirs(path, exist_ok=True)
    manifest = os.path.join(path, "_manifest.json")
    current = -1
    if os.path.exists(manifest):
        with open(manifest) as fh:
            current = json.load(fh)["version"]
    version = current + 1
    write_parquet_snappy(df, os.path.join(path, f"v={version}"))
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": version}, fh)
    os.replace(tmp, manifest)  # the commit point
    return version


def read_versioned(spark, path: str, version: int | None = None) -> DataFrame:
    """Time-travel read: ``version=None`` reads the manifest's current
    snapshot; an explicit version reads that historical snapshot. A
    version never committed (no manifest entry reached it) raises."""
    import json

    manifest = os.path.join(path, "_manifest.json")
    with open(manifest) as fh:
        current = json.load(fh)["version"]
    if version is None:
        version = current
    if not 0 <= version <= current:
        raise ValueError(
            f"version {version} not in committed range [0, {current}]"
        )
    return spark.read.parquet(os.path.join(path, f"v={version}"))


def write_orc_zstd(df: DataFrame, path: str) -> None:
    """K7 — ORC sink (zstd): the other mainstream columnar lake format
    (Hive/Trino ecosystems standardize on it), supported natively by
    Spark's vectorized ORC reader/writer — same pruning + predicate
    pushdown story as parquet, so a reference user with ORC-consuming
    downstream tooling can switch sinks with one call."""
    df.write.mode("overwrite").option("compression", "zstd").orc(path)


def delete_keys(spark, path: str, keys_df: DataFrame) -> dict:
    """Targeted row deletion (GDPR right-to-erasure shape): remove
    every row whose ``user_id`` appears in ``keys_df``, rewriting ONLY
    the part files that actually contain a matching row — the
    copy-on-write DELETE of the lake-table formats (Delta/Iceberg),
    expressed directly over a parquet directory.

    At 100 TB the whole point is the file pruning: an erasure request
    names a handful of keys, so (a) the probe that finds affected
    files is a broadcast semi join against the key list, (b) parquet
    row-group statistics/bloom filters prune most file reads in the
    probe itself, and (c) the rewrite touches only the affected files
    — DATA moved is O(affected files), never O(table); untouched
    files enter the replacement directory as hard links (listing-cost
    only). The deletion key list is dimension-sized by contract (it is
    collected to list affected files); route bulk deletes through a
    partition-level overwrite instead.

    Commit is :func:`replace_dir` (untouched files hard-linked beside
    the rewrite), with the same guarantees and single-writer caveat as
    :func:`compact_parquet`; snapshot isolation needs
    :func:`write_versioned`.

    Returns ``{"files_total", "files_rewritten", "rows_deleted"}``.
    """
    import glob
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    root = os.path.abspath(path)
    files_total = len(glob.glob(os.path.join(root, "part-*")))
    tagged = spark.read.parquet(root).withColumn(
        "_f", F.col("_metadata.file_path")
    )
    # _metadata.file_path is a percent-encoded URI (file:/...); map to
    # decoded absolute local paths so set membership below is exact
    affected = {
        os.path.abspath(unquote(urlparse(r["_f"]).path))
        for r in tagged.join(F.broadcast(keys_df), "user_id", "left_semi")
        .select("_f")
        .distinct()
        .collect()
    }
    if not affected:
        return {
            "files_total": files_total,
            "files_rewritten": 0,
            "rows_deleted": 0,
        }
    aff = sorted(affected)
    before_n = spark.read.parquet(*aff).count()

    def build(stage: str) -> int:
        # ONE evaluation of the anti join: the write; rows_deleted comes
        # from counting the (affected-files-sized) inputs and outputs
        write_parquet_snappy(
            spark.read.parquet(*aff).join(
                F.broadcast(keys_df), "user_id", "left_anti"
            ),
            stage,
        )
        kept_n = spark.read.parquet(stage).count()
        # hard-link every untouched file and its checksum sidecar (no
        # data copy); the stage keeps its own _SUCCESS markers, and any
        # other name clash raises FileExistsError instead of losing rows
        gone = {os.path.basename(f) for f in affected}
        gone |= {f".{n}.crc" for n in gone} | {"_SUCCESS", "._SUCCESS.crc"}
        for name in sorted(set(os.listdir(root)) - gone):
            if os.path.isfile(os.path.join(root, name)):
                os.link(os.path.join(root, name), os.path.join(stage, name))
        return kept_n

    kept_n = replace_dir(root, build)
    return {
        "files_total": files_total,
        "files_rewritten": len(affected),
        "rows_deleted": before_n - kept_n,
    }
