"""Parsing of SPARQL result bodies in the four served formats, and the
canonical form answers are compared in.

A cell canonicalizes to its value rounded to two decimals when it reads as
a number (the generators emit at most two decimals), else to its lexical
string; an answer is the sorted list of its canonical rows, or a bool for
ASK. The engine's failure sentinel (one variable ``xxx`` bound to
``"XXX"``, sent with HTTP 200) parses to :data:`SENTINEL`.
"""

from __future__ import annotations

import csv
import io
import json
import xml.etree.ElementTree as ET

SENTINEL = "sentinel"

ACCEPT = {
    "json": "application/sparql-results+json",
    "xml": "application/sparql-results+xml",
    "csv": "text/csv",
    "tsv": "text/tab-separated-values",
}

_NS = "{http://www.w3.org/2005/sparql-results#}"


def canon_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    s = str(v)
    try:
        return f"{round(float(s), 2):.2f}"
    except ValueError:
        return s


def canon_rows(rows) -> list[tuple]:
    return sorted(tuple(canon_cell(c) for c in r) for r in rows)


def _tsv_value(term: str) -> str:
    if term.startswith("<") and term.endswith(">"):
        return term[1:-1]
    if term.startswith('"'):
        end = term.rfind('"')
        return term[1:end].replace('\\"', '"').replace("\\\\", "\\")
    return term


def parse(body: bytes, fmt: str):
    """``(vars, rows)`` for SELECT, a bool for ASK, or SENTINEL."""
    text = body.decode("utf-8")
    if fmt == "json":
        doc = json.loads(text)
        if "boolean" in doc:
            return bool(doc["boolean"])
        vs = doc["head"]["vars"]
        rows = [[b.get(v, {}).get("value") for v in vs]
                for b in doc["results"]["bindings"]]
    elif fmt == "xml":
        root = ET.fromstring(text)
        b = root.find(_NS + "boolean")
        if b is not None:
            return b.text.strip() == "true"
        vs = [v.get("name") for v in root.iter(_NS + "variable")]
        rows = []
        for res in root.iter(_NS + "result"):
            cells = {bd.get("name"): (bd[0].text or "") for bd in res}
            rows.append([cells.get(v) for v in vs])
    elif fmt == "csv":
        recs = list(csv.reader(io.StringIO(text, newline="")))
        vs, rows = recs[0], recs[1:]
        if vs == ["_askResult"]:
            return rows[0][0] == "true"
    elif fmt == "tsv":
        lines = [ln for ln in text.split("\n") if ln != ""]
        vs = [v[1:] for v in lines[0].split("\t")]
        if vs == ["_askResult"]:
            return lines[1].strip() == "true"
        rows = [[_tsv_value(c) for c in ln.split("\t")] for ln in lines[1:]]
    else:
        raise ValueError(fmt)
    if vs == ["xxx"] and rows and rows[0] == ["XXX"]:
        return SENTINEL
    return vs, rows


def answer(body: bytes, fmt: str):
    """Canonical answer of a response body (see module docstring)."""
    got = parse(body, fmt)
    if isinstance(got, (bool, str)):
        return got
    return canon_rows(got[1])
