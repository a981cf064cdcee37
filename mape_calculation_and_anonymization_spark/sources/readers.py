"""Sources: CSV / JSONL / schema-merging parquet scans, latest-partition
discovery.

Reference parity (see SURVEY.md §2.1):
  S1  CSV scan            — reference/main.py:159,183; anonymize_datasets.py:164
  S3  Latest-partition    — reference/anonymize_datasets.py:154-159
  S4  Mixed-format folder — reference/anonymize_datasets.py:159-213
  P3  Lowercase columns   — reference/main.py:160,184; anonymize_datasets.py:133

Scale notes: S1 is a plain ``spark.read``, and the S2 parquet scan
(reference/anonymize_datasets.py:39,191) is ``spark.read.parquet`` at
its callers, so Catalyst gets predicate pushdown + column pruning for
free. S3 reads the reference's plain
dated folders (the driver lists one directory level — metadata-only,
O(#folders)).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def lowercase_columns(df: DataFrame) -> DataFrame:
    """P3 — normalize every column name to lowercase.

    Metadata-only (a projection rename); no shuffle, no scan cost.
    """
    lowered = [c.lower() for c in df.columns]
    if lowered == list(df.columns):
        return df
    return df.toDF(*lowered)


def read_csv(
    spark: SparkSession,
    path: str,
    lowercase: bool = True,
) -> DataFrame:
    """S1 — header CSV scan with schema inference (as the reference's
    ``pd.read_csv`` does). Prefer passing an explicit schema via
    ``spark.read.schema(...)`` in production paths; inference triggers
    an extra pass over the file."""
    df = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .csv(path)
    )
    return lowercase_columns(df) if lowercase else df


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited JSON scan (the interchange format most
    crawl/event feeds arrive in) of ``(event_id, user_id, event_type,
    value)`` events. The schema is declared: inference would be a full
    extra pass over the files, and at 100 TB that doubles the scan.
    Malformed lines go to NULL-rows under the default PERMISSIVE mode
    instead of failing the pipeline."""
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution parquet scan: ``mergeSchema`` unions the
    footers of every drop under ``path``, so a dataset whose later
    drops ADDED columns reads as one frame (old drops yield NULL for
    the new columns) — the append-only lake layout where each
    ingestion wave may carry a wider schema.

    Costs a footer read per file at planning (not a data scan); at
    100 TB prefer declaring the superset schema explicitly via
    ``spark.read.schema(...)`` and leave mergeSchema for exploration
    or migration backfills."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def latest_partition(input_directory: str) -> str:
    """S3 — newest lexicographic child folder (``YYYY-MM-DD`` sorts
    correctly as text). Driver-side single listing, O(#folders) —
    the same cost the reference pays, and fine at any data scale
    because only *names* are listed."""
    children = [
        d
        for d in os.listdir(input_directory)
        if os.path.isdir(os.path.join(input_directory, d))
    ]
    if not children:
        raise FileNotFoundError(f"no dated folders under {input_directory}")
    return max(children)


@dataclass
class FolderFile:
    """One file discovered by :func:`read_input_folder`."""

    filename: str
    path: str
    fmt: str  # 'csv' | 'parquet'


def read_input_folder(
    spark: SparkSession, input_directory: str
) -> list[tuple[FolderFile, DataFrame]]:
    """S3+S4 — discover the newest dated folder and open every CSV /
    parquet file in it as a (lazy) DataFrame.

    The per-file loop is driver-side metadata iteration only — each
    DataFrame stays lazy and distributed. Files of the same format are
    intentionally *not* unioned: the anonymizer contract is
    one-output-file-per-input-file (reference/anonymize_datasets.py:159-213).
    """
    base = os.path.join(input_directory, latest_partition(input_directory))
    out: list[tuple[FolderFile, DataFrame]] = []
    for filename in sorted(os.listdir(base)):
        path = os.path.join(base, filename)
        if filename.endswith(".csv"):
            out.append((FolderFile(filename, path, "csv"), read_csv(spark, path, lowercase=False)))
        elif filename.endswith(".parquet"):
            out.append((FolderFile(filename, path, "parquet"), spark.read.parquet(path)))
    return out


def read_xlsx_sheet_pandas(filepath: str, sheet: str):
    """Dependency-free OOXML worksheet reader (counterpart of
    ``sinks._write_xlsx_stdlib``): resolve the sheet name through
    workbook.xml + its rels, parse the worksheet XML, and return a
    pandas DataFrame with row 1 as the header.

    Handles the cell types both our stdlib writer and openpyxl emit:
    inline strings (``t="inlineStr"``), shared strings (``t="s"`` via
    xl/sharedStrings.xml), booleans (``t="b"``), and plain numeric
    ``<v>`` (int when exact, else float). Columns that parse fully
    numeric become numeric; anything mixed stays string — same
    inference contract as a CSV read. Driver-side by design (xlsx is a
    single-file, post-aggregation format here — see the sink)."""
    import xml.etree.ElementTree as ET
    import zipfile

    import pandas as pd

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    rns = (
        "{http://schemas.openxmlformats.org/officeDocument/2006/"
        "relationships}"
    )
    pns = "{http://schemas.openxmlformats.org/package/2006/relationships}"

    with zipfile.ZipFile(filepath) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rid = None
        for s in wb.iter(f"{ns}sheet"):
            if s.get("name") == sheet:
                rid = s.get(f"{rns}id")
        if rid is None:
            raise KeyError(f"sheet {sheet!r} not in {filepath}")
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target = None
        for r in rels.iter(f"{pns}Relationship"):
            if r.get("Id") == rid:
                target = r.get("Target")
        if target is None:
            raise KeyError(f"no relationship {rid} in workbook rels")
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in sst.iter(f"{ns}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{ns}t")))
        ws = ET.fromstring(z.read("xl/" + target.lstrip("/")))

        def col_idx(ref: str) -> int:
            n = 0
            for ch in ref:
                if ch.isalpha():
                    n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
                else:
                    break
            return n - 1

        def cell_value(c):
            t = c.get("t")
            if t == "inlineStr":
                return "".join(
                    el.text or "" for el in c.iter(f"{ns}t")
                )
            v = c.find(f"{ns}v")
            if v is None or v.text is None:
                return None
            if t == "s":
                return shared[int(v.text)]
            if t == "b":
                return bool(int(v.text))
            if t == "str":  # cached formula result
                return v.text
            # int FIRST: routing "9007199254740993" through float()
            # would round it past 2^53 before the is_integer check
            try:
                return int(v.text)
            except ValueError:
                pass
            try:
                return float(v.text)
            except ValueError:
                return v.text

        grid: list[dict[int, object]] = []
        for row in ws.iter(f"{ns}row"):
            cells = {}
            for j, c in enumerate(row.iter(f"{ns}c")):
                idx = col_idx(c.get("r", "")) if c.get("r") else j
                cells[idx] = cell_value(c)
            grid.append(cells)

    if not grid:
        return pd.DataFrame()
    header_cells = grid[0]
    width = max(header_cells) + 1 if header_cells else 0
    columns = [str(header_cells.get(j, f"col{j}")) for j in range(width)]
    data = {
        col: [r.get(j) for r in grid[1:]] for j, col in enumerate(columns)
    }
    pdf = pd.DataFrame(data, columns=columns)
    for col in pdf.columns:
        non_null = pdf[col].dropna()
        if len(non_null) and all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for v in non_null
        ):
            pdf[col] = pd.to_numeric(pdf[col])
    return pdf


def read_xlsx_sheet(spark: SparkSession, filepath: str, sheet: str) -> DataFrame:
    """K2 read-back surface: one workbook sheet as a Spark DataFrame
    (schema inferred by createDataFrame from the pandas frame)."""
    return spark.createDataFrame(read_xlsx_sheet_pandas(filepath, sheet))
