"""Spanish date + draw-number ("sorteo") extraction.

Behavioral contract (reference polla_app/sources/pozos.py:45-57,
161-224; golden rows in tests/test_parsers.py:72-80 and
tests/test_pozo_polla.py:61-81):

* ``"16 de septiembre de 2025"`` / ``"... del 2026"`` (D-de-M-de-Y) and
  ``"abril 27, 2026"`` (M D, Y) both parse; month names via an explicit
  Spanish map (incl. the ``setiembre`` variant) — NOT a locale-dependent
  ``to_date`` format, which would silently depend on the JVM locale;
* invalid month / impossible day -> NULL, never an error;
* sorteo: ``Sorteo (N°|#|:|número|nro)? NNNN`` with >=4 digits;
* fecha extraction prefers an explicit ``Fecha/Próximo Sorteo: ...``
  line, falling back to scanning the whole text.

Both a scalar surface and pure-native Spark column expressions are
provided. The native path is regex + month-map + ``try_to_date`` and
stays entirely inside whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

import datetime as _dt
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Regex contracts (reference pozos.py:45-57) — these patterns are the
# observable behavior being reproduced, kept verbatim as data.
DATE_DMY_PATTERN = r"(\d{1,2})\s+de\s+([a-zA-ZÀ-ſ]+)\s+(?:de|del)\s+(\d{4})"
DATE_MDY_PATTERN = r"([a-zA-ZÀ-ſ]+)\s+(\d{1,2}),\s+(\d{4})"
FECHA_BLOCK_PATTERN = r"(?:Fecha|Pr[oó]ximo\s+Sorteo)[:\s]*([^\n]+)"
SORTEO_PATTERN = r"Sorteo\s*(?:N[°º]|#|:|n[úu]mero|nro)?\s*(\d{4,})"

SPANISH_MONTHS = {
    "enero": 1,
    "febrero": 2,
    "marzo": 3,
    "abril": 4,
    "mayo": 5,
    "junio": 6,
    "julio": 7,
    "agosto": 8,
    "septiembre": 9,
    "setiembre": 9,
    "octubre": 10,
    "noviembre": 11,
    "diciembre": 12,
}

_DMY_RE = re.compile(DATE_DMY_PATTERN, re.IGNORECASE)
_MDY_RE = re.compile(DATE_MDY_PATTERN, re.IGNORECASE)
_BLOCK_RE = re.compile(FECHA_BLOCK_PATTERN, re.IGNORECASE)
_SORTEO_RE = re.compile(SORTEO_PATTERN, re.IGNORECASE)


def parse_spanish_date(text: str | None) -> _dt.date | None:
    """Scalar: first parseable Spanish date in ``text``, else None.

    >>> parse_spanish_date("16 de septiembre de 2025")
    datetime.date(2025, 9, 16)
    >>> parse_spanish_date("abril 27, 2026")
    datetime.date(2026, 4, 27)
    >>> parse_spanish_date("32 de feprerillo de 2025") is None
    True
    """
    if not text:
        return None
    for rx, order in ((_DMY_RE, "dmy"), (_MDY_RE, "mdy")):
        m = rx.search(text)
        if not m:
            continue
        if order == "dmy":
            day, month_name, year = m.group(1), m.group(2), m.group(3)
        else:
            month_name, day, year = m.group(1), m.group(2), m.group(3)
        month = SPANISH_MONTHS.get(month_name.lower())
        if month is None:
            continue
        try:
            return _dt.date(int(year), month, int(day))
        except ValueError:
            continue
    return None


def extract_proximo_info(text: str | None) -> tuple[int | None, _dt.date | None]:
    """Scalar: (sorteo, fecha); fecha prefers the Fecha/Próximo block."""
    if not text:
        return None, None
    sorteo = None
    m = _SORTEO_RE.search(text)
    if m:
        sorteo = int(m.group(1))
    fecha = None
    mb = _BLOCK_RE.search(text)
    if mb:
        fecha = parse_spanish_date(mb.group(1))
    if fecha is None:
        fecha = parse_spanish_date(text)
    return sorteo, fecha


# ---------------------------------------------------------------------------
# Native Spark column expressions (codegen'd; no Python)
# ---------------------------------------------------------------------------

def _month_map_col() -> Column:
    pairs: list[Column] = []
    for name, num in SPANISH_MONTHS.items():
        pairs.extend([F.lit(name), F.lit(num)])
    return F.create_map(*pairs)


# Java regex: make patterns case-insensitive inline; group 0 disabled by
# regexp_extract needing explicit group indexes.
_J_DMY = "(?i)" + DATE_DMY_PATTERN
_J_MDY = "(?i)" + DATE_MDY_PATTERN
_J_BLOCK = "(?i)" + FECHA_BLOCK_PATTERN
_J_SORTEO = "(?i)" + SORTEO_PATTERN


def _date_from(text: Column) -> Column:
    """Native Spanish-date parse of a text column -> DATE (null-safe)."""
    months = _month_map_col()
    d1 = F.regexp_extract(text, _J_DMY, 1)
    m1 = months[F.lower(F.regexp_extract(text, _J_DMY, 2))]
    y1 = F.regexp_extract(text, _J_DMY, 3)
    m2 = months[F.lower(F.regexp_extract(text, _J_MDY, 1))]
    d2 = F.regexp_extract(text, _J_MDY, 2)
    y2 = F.regexp_extract(text, _J_MDY, 3)
    # try_to_date(NULL-safe ISO assembly) -> NULL on impossible dates
    mk = lambda y, m, d: F.try_to_date(  # noqa: E731
        F.concat_ws("-", y, F.lpad(m.cast("string"), 2, "0"), F.lpad(d, 2, "0")),
        "yyyy-MM-dd",
    )
    cand1 = F.when((d1 != "") & m1.isNotNull(), mk(y1, m1, d1))
    cand2 = F.when((d2 != "") & m2.isNotNull(), mk(y2, m2, d2))
    return F.coalesce(cand1, cand2)


def sorteo_col(text: Column) -> Column:
    """BIGINT draw number from free text, NULL when absent."""
    raw = F.regexp_extract(text, _J_SORTEO, 1)
    return F.when(raw != "", raw.cast("long"))


def fecha_col(text: Column) -> Column:
    """DATE from free text, preferring the Fecha/Próximo-Sorteo line."""
    block = F.regexp_extract(text, _J_BLOCK, 1)
    return F.coalesce(
        F.when(block != "", _date_from(block)),
        _date_from(text),
    )
