"""Pipe-delimited SSURGO text ingest (SURVEY §1.3).

The reference loads ~61 text files per survey area in FK order with
``csv.reader(delimiter='|', quotechar='"')``, blank→NULL coercion and
cp1252 decoding (SSURGO_Convert_to_Geodatabase.py:1135-1590). Here each
table is ONE distributed ``spark.read.csv`` — per-survey files land in
one directory tree and a single read globs them all; FK order is
irrelevant because Spark has no FK constraints.

Load-time semantic transforms replicated from the reference:

- cointerp prune/filter: keep ruledepth==0 rows (plus NCCPI submodel
  rows by mrulekey) and only the columns the engine reads — a 10-20×
  reduction baked into ETL (:1334-1348);
- sdv* tables deduplicated on their primary key (:1392-1412), needed
  when merging multiple survey exports;
- blank→NULL is automatic (csv reader maps empty strings to null via
  ``nullValue``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import SDV_PK, SSURGO_SCHEMAS

NCCPI_MRULEKEY = "54955"  # SSURGO_Convert_to_Geodatabase.py:1340

# Spark 4 whitelists CSV charsets (no cp1252): read ISO-8859-1 (byte
# preserving) and recode the 0x80-0x9F range where cp1252 differs —
# a 1:1 codepoint translate, so it stays a native expression.
_CP1252_SRC = "".join(
    chr(b) for b in range(0x80, 0xA0) if bytes([b]).decode("cp1252", "replace") != "�"
)
_CP1252_DST = "".join(
    bytes([ord(c)]).decode("cp1252") for c in _CP1252_SRC
)


def _recode_cp1252(df: DataFrame) -> DataFrame:
    cols = [
        F.translate(F.col(f.name), _CP1252_SRC, _CP1252_DST).alias(f.name)
        if f.dataType.typeName() == "string"
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)


def _sniff_linesep(path: str) -> str:
    """Record separator of a pipe-text export (file, dir or glob):
    WSS ships Windows \\r\\n, other producers \\n. multiLine mode
    needs it EXPLICIT — univocity's auto-detection leaves a trailing
    \\r in the last field of every \\r\\n row otherwise. One 64 KB
    driver-side peek at the first file; files of one export are
    consistent.

    The detector walks to the FIRST newline OUTSIDE quotes — the
    first true record boundary — and reports its flavor. Newlines
    embedded in quoted narrative fields (either flavor, any quantity)
    never vote: an any-CRLF rule mis-sniffed \\n files with pasted
    Windows text, and a count-majority rule mis-sniffs \\r\\n files
    whose first record is one LF-heavy narrative; the reference's
    csv.reader tolerates mixed terminators outright
    (SSURGO_Convert_to_Geodatabase.py:1301), so only the genuine
    boundary flavor matters here."""
    import glob as _glob

    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path, "*")))
    elif "*" in path:
        files = sorted(_glob.glob(path))
    else:
        files = [path]
    for f0 in files:
        if os.path.isfile(f0):
            with open(f0, "rb") as fh:
                head = fh.read(65536)
            if head:
                in_quotes = False
                for i, b in enumerate(head):
                    if b == 0x22:  # '"' — doubled quotes toggle twice
                        in_quotes = not in_quotes
                    elif b == 0x0A and not in_quotes:
                        return "\r\n" if i and head[i - 1] == 0x0D else "\n"
                return "\n"  # no record boundary in the head
    return "\n"


#: the raw-export cointerp layout: a real WSS cinterp.txt carries
#: these 19 fields in this order; the importer keeps positions
#: [0:7] + [11:13] + [15:19] (SSURGO_Convert_to_Geodatabase.py:1334-1348)
#: — the gSSURGO/engine table is the pruned 13-column layout.
_COINTERP_RAW_COLS = [
    "cokey", "mrulekey", "mrulename", "seqnum", "rulekey", "rulename",
    "ruledepth", "interpll", "interpllc", "interplr", "interplrc",
    "interphr", "interphrc", "interphh", "interphhc",
    "nullpropdatabool", "defpropdatabool", "incpropdatabool",
    "cointerpkey",
]


def _sniff_ncols(path: str) -> int | None:
    """Field count of the first record of the first file (driver-side
    peek, same file-selection rules as _sniff_linesep). Lets the
    cointerp reader tell a raw 19-column WSS export from an
    already-pruned 13-column re-export."""
    import csv as _c
    import glob as _glob
    import io

    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path, "*")))
    elif "*" in path:
        files = sorted(_glob.glob(path))
    else:
        files = [path]
    for f0 in files:
        if os.path.isfile(f0):
            with open(f0, "rb") as fh:
                head = fh.read(65536)
            if head:
                # csv.reader over the whole head (not splitlines): a
                # quoted narrative field may embed newlines inside the
                # first record, and the reader walks past them
                row = next(_c.reader(io.StringIO(head.decode("latin-1")),
                                     delimiter="|", quotechar='"'))
                return len(row)
    return None


def read_ssurgo_table(
    spark: SparkSession,
    path: str,
    table: str,
    schema=None,
) -> DataFrame:
    """Read one SSURGO pipe-text table (file, directory or glob of
    per-survey files). The schema defaults to the hand-pruned
    engine-read projection (SSURGO_SCHEMAS); pass the full
    metadata-generated StructType (catalog.py) for export-fidelity
    ingest of all 69 tables.

    cointerp: a raw WSS export file has 19 columns; the engine keeps
    13 (positions [0:7]+[11:13]+[15:19], reference :1334-1348) and the
    hand projection 9. When the file sniffs as 19-wide and a narrower
    schema was requested, the scan uses the raw layout (requested
    types where names match) and projects down by NAME — reading a raw
    file positionally with the pruned schema would silently land
    interpll in interphr's seat. Pruned re-exports read directly."""
    from pyspark.sql.types import FloatType, StringType, StructField, StructType

    if schema is None:
        schema = SSURGO_SCHEMAS[table]
    if (
        table == "cointerp"
        and len(schema.fields) < 19
        and set(f.name for f in schema.fields) <= set(_COINTERP_RAW_COLS)
        and _sniff_ncols(path) == 19
    ):
        by_name = {f.name: f for f in schema.fields}
        raw = StructType([
            by_name.get(
                n,
                StructField(
                    n,
                    StringType()
                    if n.endswith("c") or n.endswith("bool")
                    else FloatType(),
                ),
            )
            for n in _COINTERP_RAW_COLS
        ])
        return read_ssurgo_table(
            spark, path, "cointerp", schema=raw
        ).select(*[f.name for f in schema.fields])
    df = (
        spark.read.csv(
            path,
            sep="|",
            quote='"',
            escape='"',
            header=False,
            schema=schema,
            encoding="ISO-8859-1",
            nullValue="",
            # real WSS exports embed newlines inside quoted narrative
            # text (legendtext/mutext/cotext 'text' columns); the
            # reference's csv.reader handles them and so must this
            # scan. Cost: each FILE is read by one task (no intra-file
            # splits) — the parallelism unit is the per-survey file
            # set, which is the layout these exports already have.
            multiLine=True,
            lineSep=_sniff_linesep(path),
        )
    )
    df = _recode_cp1252(df)
    if table == "cointerp":
        df = df.where(
            (F.col("ruledepth") == 0) | (F.col("mrulekey") == NCCPI_MRULEKEY)
        )
    if table in SDV_PK:
        df = df.dropDuplicates(SDV_PK[table])
    return df


def merge_surveys(parts: list[DataFrame], pk: list[str] | None = None) -> DataFrame:
    """SSURGO_MergeDatabases: union per-survey tables, deduping on the
    primary key when given (sdv* tables repeat identically per survey)."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(pk) if pk else out
