"""Soil Data Access (SDA) tabular REST client + wire-format parser
(SURVEY §2.1; QuerySDA /root/reference/SSURGO_CheckgSSURGO.py:372-446,
AttributeRequest /root/reference/GetNatMusym.py:241-410).

The service takes POST JSON ``{"format": ..., "query": ...}`` and
returns ``{"Table": [[col, ...], [val, ...], ...]}`` (first row =
column names under JSON+COLUMNNAME). Network I/O is a driver-side
concern and is isolated in ``fetch`` — everything else (payload
building, areasymbol batching, response parsing) is pure and
offline-tested; the tests never reach ``fetch``. Responses become
DataFrames through the ``sda`` data source (sources/sda_datasource.py).
"""

from __future__ import annotations

import json
import urllib.request

SDA_URL = "https://sdmdataaccess.sc.egov.usda.gov/Tabular/SDMTabularService/post.rest"

#: the reference batches validation queries 4 areasymbols at a time
#: (SSURGO_CheckgSSURGO.py:466-484)
BATCH_SIZE = 4


def sda_payload(query: str, fmt: str = "JSON+COLUMNNAME") -> dict:
    return {"format": fmt, "query": query}


def batch_areasymbols(symbols: list[str], n: int = BATCH_SIZE) -> list[list[str]]:
    return [symbols[i : i + n] for i in range(0, len(symbols), n)]


def count_query(table: str, areasymbols: list[str]) -> str:
    """One count-reconciliation query (the GetSDMCount shape): row count
    per areasymbol for one table, joined through legend/mapunit keys.

    Symbols are SQL-escaped (`'` doubled) so a malformed symbol cannot
    break or inject into the SDA request."""
    syms = ",".join("'" + s.replace("'", "''") + "'" for s in areasymbols)
    return (
        f"SELECT l.areasymbol, COUNT(*) AS n FROM {table} t "
        f"INNER JOIN legend l ON t.lkey = l.lkey "
        f"WHERE l.areasymbol IN ({syms}) GROUP BY l.areasymbol"
    )


def parse_sda_table(doc: dict) -> tuple[list[str], list[list]]:
    """(column_names, data_rows) from a JSON+COLUMNNAME response.
    An absent/empty "Table" means zero rows, not an error."""
    rows = doc.get("Table") or []
    if not rows:
        return [], []
    return list(rows[0]), [list(r) for r in rows[1:]]


def fetch(query: str, fmt: str = "JSON+COLUMNNAME", timeout: int = 60) -> dict:
    """POST the query to SDA (production path; needs network)."""
    req = urllib.request.Request(
        SDA_URL,
        data=json.dumps(sda_payload(query, fmt)).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode())
