"""Table-region extraction semantics: the pure-Python oracle twin of
operators/tables.py (the Spark plan must agree line-for-line with this).

Models the reference's table route of the region extractor
(marie/extract/engine/match_section_extract_visitor.py:637 table blocks,
:904 header/body split, :1046 footer detection by flexible TOTAL match /
empty-leading-cells, :1148 data rows exclude header+footer) and the row
extraction strategies (marie/extract/models/base.py:7-29, default
PRIMARY_COLUMN_VARIABLE per models/definition.py:92):

  PRIMARY_COLUMN_VARIABLE  a new record starts on each body line whose
                           primary (first) column is non-empty; continuation
                           lines merge cell-wise into the open record
  PRIMARY_COLUMN_FIXED /   records are fixed-length runs of `fixed_rows`
  COMPOSITE_FIXED          body lines (ordinal grouping; COMPOSITE differs
                           only in having no primary column requirement)

The GFM surface form (header line, `|---|` separator, `|`-delimited cells)
follows marie/extract/parser/base.py:137-170.
"""

from __future__ import annotations

import re

_SEP = re.compile(r"^\|[\s\-:|]+\|?$")
_FOOTER_TOTAL = re.compile(r"^TOTAL:?$", re.IGNORECASE)

PRIMARY_COLUMN_VARIABLE = "PRIMARY_COLUMN_VARIABLE"
PRIMARY_COLUMN_FIXED = "PRIMARY_COLUMN_FIXED"
COMPOSITE_FIXED = "COMPOSITE_FIXED"


def split_cells(line: str) -> list[str]:
    """`| a | b |` -> ['a', 'b'] (strip ONE outer pipe each side, trim each
    cell — exactly the Spark twin's regexp_replace(^\\||\\|$) + split)."""
    return [c.strip() for c in re.sub(r"^\||\|$", "", line.strip()).split("|")]


def _is_footer(cells: list[str]) -> bool:
    """Reference footer detection, restricted to the last body line:
    flexible TOTAL regex on any cell (visitor :1113-1136) or empty first two
    cells (visitor :1097-1110)."""
    if any(_FOOTER_TOTAL.match(c) for c in cells if c):
        return True
    return len(cells) >= 2 and cells[0] == "" and cells[1] == ""


def parse_md_tables(
    text: str,
    strategy: str = PRIMARY_COLUMN_VARIABLE,
    fixed_rows: int = 1,
) -> list[dict]:
    """Parse GFM tables out of a markdown payload.

    Returns one dict per table: {table_idx, headers, rows, footer,
    first_line, last_line} where rows are post-strategy records (list of
    list[str], cell-wise merged for VARIABLE), footer is the footer line's
    cells or None, and first_line/last_line are the 0-based line extent of
    the table's contiguous pipe-line run (separator included) — the span
    containment key of the section-scoped route (process_tables,
    match_section_extract_visitor.py:996-1001).
    """
    tables: list[dict] = []
    cur: list[list[str]] | None = None  # raw cell lines of the open table
    run: list[int] = []  # line numbers of the open run (incl. separators)

    def close(cur):
        if cur is None or len(cur) == 0:
            return
        headers = cur[0]
        body = cur[1:]
        footer = None
        if body and _is_footer(_pad(body[-1], len(headers))):
            footer = _pad(body[-1], len(headers))
            body = body[:-1]
        tables.append(
            {
                "table_idx": len(tables),
                "headers": headers,
                "rows": _group_rows(body, len(headers), strategy, fixed_rows),
                "footer": footer,
                "first_line": run[0],
                "last_line": run[-1],
            }
        )

    for line_no, raw in enumerate((text or "").split("\n")):
        s = raw.strip()
        if s.startswith("|"):
            run.append(line_no)
            if _SEP.match(s):
                continue  # separator row: dropped, table stays open
            if cur is None:
                cur = []
            cur.append(split_cells(s))
        else:
            close(cur)
            cur = None
            run = []
    close(cur)
    return tables


def section_tables_py(
    text: str,
    start_re: str,
    stop_re: str,
    strategy: str = PRIMARY_COLUMN_VARIABLE,
    fixed_rows: int = 1,
) -> list[dict]:
    """Span-range table collection twin (process_tables,
    match_section_extract_visitor.py:933-1002): validated sections from
    START/STOP markers (the candidate-validator DFA), then only tables
    whose line extent lies STRICTLY inside a section span
    (first_line > start AND last_line < stop, :998) are collected and
    attributed to that section. Returns long-form records:
    {section_idx, table_idx, row_idx, col_idx, col_name, value}."""
    from marie_ai_spark.ref_ops.validator import dfa_sections

    lines = (text or "").split("\n")
    start_rx, stop_rx = re.compile(start_re), re.compile(stop_re)
    markers = []
    for i, line in enumerate(lines):
        if start_rx.search(line):
            markers.append((i, "START"))
        elif stop_rx.search(line):
            markers.append((i, "STOP"))
    secs = sorted(dfa_sections(markers, len(lines)))
    tables = parse_md_tables(text, strategy, fixed_rows)
    out = []
    for si, (s0, s1, _tr) in enumerate(secs):
        for t in tables:
            if t["first_line"] > s0 and t["last_line"] < s1:
                for ri, record in enumerate(t["rows"]):
                    for ci, value in enumerate(record):
                        out.append(
                            {
                                "section_idx": si,
                                "table_idx": t["table_idx"],
                                "row_idx": ri,
                                "col_idx": ci,
                                "col_name": t["headers"][ci],
                                "value": value,
                            }
                        )
    return out


def _pad(cells: list[str], n: int) -> list[str]:
    """Header column count is authoritative (visitor claims columns by
    header index): truncate extras, pad missing with ''."""
    return (cells + [""] * n)[:n]


def _group_rows(
    body: list[list[str]], n_cols: int, strategy: str, fixed_rows: int
) -> list[list[str]]:
    body = [_pad(c, n_cols) for c in body]
    if not body:
        return []
    groups: list[list[list[str]]] = []
    if strategy == PRIMARY_COLUMN_VARIABLE:
        for i, cells in enumerate(body):
            if i == 0 or cells[0] != "":
                groups.append([cells])
            else:
                groups[-1].append(cells)
    elif strategy in (PRIMARY_COLUMN_FIXED, COMPOSITE_FIXED):
        for i in range(0, len(body), max(fixed_rows, 1)):
            groups.append(body[i : i + max(fixed_rows, 1)])
    else:
        raise ValueError(f"unknown row strategy: {strategy}")
    out = []
    for g in groups:
        merged = []
        for col in range(n_cols):
            parts = [line[col] for line in g if line[col] != ""]
            merged.append(" ".join(parts))
        out.append(merged)
    return out


# ------------------------------------------------------- field transforms
# transform_field_value analogs (marie/extract/engine/transform.py:106-175)


def money_value(v: str) -> str:
    """convert_to_decimal_money (transform.py:40-75): sign via parens or
    minus, spaces-between-digits as decimal point, strip currency noise,
    quantize half-up to 2 decimals. Returns the canonical string form."""
    from decimal import ROUND_HALF_UP, Decimal

    if v is None or v.strip() == "":
        return "0.00"
    neg = ("(" in v and ")" in v) or "-" in v
    s = v.replace("(", "").replace(")", "").replace("-", "")
    s = re.sub(r"(\d)\s+(\d)", r"\1.\2", s)
    s = s.strip().replace("$", "").replace(",", "").replace(" ", "")
    s = re.sub(r"[^\d.]", "", s)
    if s.count(".") > 1:
        s = s.replace(".", "", s.count(".") - 1)
    try:
        q = Decimal(s).quantize(Decimal("0.00"), rounding=ROUND_HALF_UP)
    except ArithmeticError:
        return "0.00"
    # canonical sign: no negative zero (Spark decimal negation yields
    # '0.00' for a zero magnitude; keep the twin identical)
    return str(-q if neg and q != 0 else q)


def alphanumeric_value(v: str) -> str:
    """convert_to_alphanumeric (transform.py:339-350): commas kept as
    delimiters, all other non-alphanumerics removed."""
    if v is None:
        return ""
    s = re.sub(r"\s*,\s*", ",", v)
    return re.sub(r"[^a-zA-Z0-9,]", "", s)

