"""HTML -> text -> labeled amounts extraction.

The reference extracts amounts from two page shapes
(polla_app/sources/pozos.py):

* static pages: flatten HTML to text, then per-category-label regex
  ``<label>[^0-9$]{0,50}\\$?([\\d.,]+)`` (pozos.py:36-44,148-158);
  a missing non-total label yields 0; ``allow_total=False`` drops the
  "Total estimado" row entirely (pozos.py:151-152);
* SPA pages: DOM-selector walk (``li.sub-game``, ``img src`` fragment
  -> category, ``.prize`` text) (pozos.py:361-417).

bs4 is not in this image, so text-flattening uses a stdlib
``html.parser`` visitor (same observable behavior as
``soup.get_text(" ", strip=True)`` for these pages: scripts/styles
dropped, tags become spaces, whitespace collapsed).

Spark surfaces keep everything columnar: ``amounts_long`` turns one
``(page_text)`` row into ``(categoria, raw)`` rows via ``stack`` and
native ``regexp_extract`` — the regexes run codegen'd in the JVM; only
the final money parse is an Arrow-batched kernel.
"""

from __future__ import annotations

import html as _htmllib
import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ParseError
from .money import money_parse_cols, parse_millones_clp

#: Category label -> label regex (behavioral contract, reference
#: pozos.py:20-33; kept verbatim as data).
LABEL_PATTERNS: dict[str, str] = {
    "Loto Clásico": r"Loto\s+Cl[aá]sico",
    "Recargado": r"Recargado",
    "Revancha": r"Revancha",
    "Desquite": r"Desquite",
    "Jubilazo $1.000.000": r"Jubilazo(?:\s*(?:de\s*)?\$?1\.000\.000)?(?!\s*(?:50\s*a(?:ñ|n)os|Aniversario))",
    "Jubilazo $500.000": r"Jubilazo\s*(?:de\s*)?\$?500\.000",
    "Jubilazo 50 años $1.000.000": r"Jubilazo\s*(?:50\s*a(?:ñ|n)os|Aniversario)(?:\s*de)?\s*\$?1\.000\.000",
    "Jubilazo 50 años $500.000": r"Jubilazo\s*(?:50\s*a(?:ñ|n)os|Aniversario)(?:\s*de)?\s*\$?500\.000",
    "Total estimado": r"Total\s+estimado",
}

TOTAL_LABEL = "Total estimado"

#: Amount tail appended to every label pattern (pozos.py:38-44).
AMOUNT_TAIL = r"[^0-9$]{0,50}\$?([\d\.,]+)"

_COMPILED = {
    label: re.compile(pat + AMOUNT_TAIL, re.IGNORECASE)
    for label, pat in LABEL_PATTERNS.items()
}


class _TextVisitor(HTMLParser):
    """Flatten markup to space-joined text, skipping script/style."""

    _SKIP = {"script", "style", "noscript", "template"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in self._SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in self._SKIP and self._skip_depth:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0:
            piece = data.strip()
            if piece:
                self._chunks.append(piece)

    def text(self) -> str:
        return " ".join(self._chunks)


def html_to_text(markup: str | None) -> str:
    """Visible text of an HTML page, single-space separated."""
    if not markup:
        return ""
    visitor = _TextVisitor()
    visitor.feed(markup)
    return re.sub(r"\s+", " ", visitor.text()).strip()


def extract_amounts(text: str, *, allow_total: bool = True) -> dict[str, int]:
    """Scalar label->CLP extraction (reference pozos.py:148-158)."""
    out: dict[str, int] = {}
    for label, rx in _COMPILED.items():
        if label == TOTAL_LABEL and not allow_total:
            continue
        m = rx.search(text)
        if m:
            out[label] = parse_millones_clp(m.group(1))
        elif label != TOTAL_LABEL:
            out[label] = 0
    return out


def assert_nonzero_amounts(amounts: dict[str, int], source: str) -> None:
    """Zero-sum guard (reference pozos.py:242-246,419-423)."""
    if not amounts or sum(amounts.values()) == 0:
        raise ParseError("No amounts extracted", context={"source": source})


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def amounts_long(
    pages: DataFrame, text_col: str = "page_text", allow_total: bool = True
) -> DataFrame:
    """(page rows) -> one row per (page, categoria) with parsed CLP.

    Plan shape: per-label ``regexp_extract`` projections (codegen'd,
    one pass over the text per label) -> ``stack`` unpivot -> Arrow
    money-parse kernel. Missing non-total labels surface as 0 CLP,
    parity with the scalar path.
    """
    labels = [
        lab
        for lab in LABEL_PATTERNS
        if allow_total or lab != TOTAL_LABEL
    ]
    raw_cols = [
        F.regexp_extract(
            F.col(text_col), "(?i)" + LABEL_PATTERNS[lab] + AMOUNT_TAIL, 1
        ).alias(f"_raw_{i}")
        for i, lab in enumerate(labels)
    ]
    stack_expr = "stack({n}, {args}) as (categoria, raw)".format(
        n=len(labels),
        args=", ".join(
            f"'{lab.replace(chr(39), chr(39) * 2)}', _raw_{i}"
            for i, lab in enumerate(labels)
        ),
    )
    long = (
        pages.select("*", *raw_cols)
        .selectExpr("*", stack_expr)
        .drop(*[f"_raw_{i}" for i in range(len(labels))])
    )
    parsed = long.withColumn("_p", money_parse_cols(F.col("raw")))
    return (
        parsed
        # absent label: non-total -> 0; total -> drop row (scalar parity)
        .withColumn(
            "valor",
            F.when(F.col("raw") == "", F.when(F.lit(True), F.lit(0)).cast("long")).otherwise(
                F.col("_p.clp")
            ),
        )
        .withColumn("parse_error", F.when(F.col("raw") != "", F.col("_p.parse_error")))
        .filter(~((F.col("raw") == "") & (F.col("categoria") == TOTAL_LABEL)))
        .drop("_p")
    )


def unescape(text: str) -> str:
    return _htmllib.unescape(text)
