"""Seeded input generator for the ``daily_run`` workload.

:func:`daily_plan` is a pure function of its seed: the same seed gives
byte-identical pages. It makes one day per ``run_pipeline`` call: an
openloto page and a polla page in the shapes of
``tests/fixtures/sources/*/page.html``, a planted outcome, and the
decision the program must reach for it. The program under test only
ever sees the generated pages, never the seed.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

# -- daily pages -------------------------------------------------------------

#: Categories both sources report; openloto's label, polla's img src.
SHARED = [
    ("Loto Clásico", "Loto Cl&aacute;sico", "/img/loto_logo.svg"),
    ("Recargado", "Recargado", "/img/recargado.svg"),
    ("Revancha", "Revancha", "/img/revancha.svg"),
    ("Desquite", "Desquite", "/img/desquite.svg"),
    ("Jubilazo $1.000.000", "Jubilazo $1.000.000", "/img/jubilazo.svg"),
]
#: Labels openloto's scalar extractor reports as 0 when absent.
OPENLOTO_ZEROS = [
    "Jubilazo $500.000",
    "Jubilazo 50 años $1.000.000",
    "Jubilazo 50 años $500.000",
]
TOTAL = "Total estimado"

WEEKDAYS = ["lunes", "martes", "mi&eacute;rcoles", "jueves", "viernes",
            "s&aacute;bado", "domingo"]
MONTHS = ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
          "agosto", "septiembre", "octubre", "noviembre", "diciembre"]

#: Outcomes a day can plant. ``skip`` repeats the previous day.
OUTCOMES = ("publish", "quarantine", "single_source", "skip")


def clp(millions: int) -> str:
    """``1200`` -> ``$1.200`` (the pages quote amounts in millions)."""
    return "$" + f"{millions:,}".replace(",", ".")


def openloto_page(sorteo: int, fecha: dt.date, amounts: dict[str, int]) -> str:
    rows = "\n".join(
        f"  <tr><td>{label}</td><td>{clp(amounts[cat])}</td></tr>"
        for cat, label, _ in SHARED
    )
    total = sum(amounts[cat] for cat, _, _ in SHARED)
    return (
        "<!DOCTYPE html>\n<html lang=\"es\">\n"
        "<head><title>Pozo del Loto - OpenLoto</title>\n"
        "<script>var tracker = \"do not parse: Loto Clásico $77777\";</script>\n"
        "</head>\n<body>\n<h1>Pozo estimado del Loto</h1>\n"
        f"<p>Sorteo N° {sorteo} &mdash; Fecha Pr&oacute;ximo Sorteo: "
        f"{WEEKDAYS[fecha.weekday()]} {fecha.day} de {MONTHS[fecha.month - 1]} "
        f"de {fecha.year}</p>\n<table>\n{rows}\n"
        f"  <tr><td>Total estimado</td><td>{clp(total)}</td></tr>\n"
        "</table>\n<footer>openloto.cl</footer>\n</body>\n</html>\n"
    )


def polla_page(sorteo: int, fecha: dt.date, amounts: dict[str, int]) -> str:
    games = []
    for cat, _, src in SHARED:
        extra = "<span>$1.000.000</span>" if "jubilazo" in src else ""
        games.append(
            f'    <li class="sub-game"><img src="{src}"/>{extra}'
            f'<span class="prize">{clp(amounts[cat])}</span></li>'
        )
    return (
        "<!DOCTYPE html>\n<html lang=\"es\">\n"
        "<head><title>Polla Chilena</title></head>\n<body>\n"
        '<div class="jackpot-banner">\n  <ul>\n    <li class="total-banner">\n'
        "      <span>POZO TOTAL ESTIMADO</span>\n"
        f'      <span class="prize">{clp(amounts[TOTAL])}</span>\n'
        "    </li>\n  </ul>\n</div>\n"
        '<div class="detail">\n'
        f"  <p>Resultados Sorteo : {sorteo} Fecha : {MONTHS[fecha.month - 1]} "
        f"{fecha.day}, {fecha.year}</p>\n"
        '  <ul class="games">\n' + "\n".join(games) + "\n  </ul>\n</div>\n"
        "</body>\n</html>\n"
    )


@dataclass(frozen=True)
class Day:
    """One ``run_pipeline`` call: its pages, which source fails, and
    the decision the program must reach."""

    outcome: str
    openloto_html: str
    polla_html: str
    failing: str | None
    status: str
    confidence: str
    pozos: dict[str, int] = field(hash=False)


def _expected_pozos(op: dict[str, int] | None, po: dict[str, int] | None) -> dict[str, int]:
    """Consensus winner per category, in CLP. Each value has one voter
    per source, so a disagreement resolves to the higher-priority
    source (openloto, listed first). Totals are not categories."""
    out: dict[str, int] = {}
    if po is not None:
        out.update({cat: po[cat] * 10**6 for cat, _, _ in SHARED})
    if op is not None:
        out.update({cat: op[cat] * 10**6 for cat, _, _ in SHARED})
        out.update({cat: 0 for cat in OPENLOTO_ZEROS})
    return out


def daily_outcomes(seed: int, n_days: int) -> list[str]:
    """Day 0 publishes (there is no previous day to repeat); later days
    walk seeded permutations of every outcome, so each outcome recurs
    at the same rate on every seed."""
    rng = random.Random(seed)
    out = ["publish"]
    while len(out) < n_days:
        cycle = list(OUTCOMES)
        rng.shuffle(cycle)
        out.extend(cycle)
    return out[:n_days]


def daily_plan(seed: int, n_days: int) -> list[Day]:
    rng = random.Random(f"daily-{seed}")
    fecha = dt.date(2025, 1, 2) + dt.timedelta(days=rng.randrange(365))
    sorteo = 5000 + rng.randrange(1000)
    days: list[Day] = []
    for outcome in daily_outcomes(seed, n_days):
        if outcome == "skip":
            prev = days[-1]
            days.append(Day("skip", prev.openloto_html, prev.polla_html,
                            prev.failing, "skip", prev.confidence, prev.pozos))
            continue
        sorteo += 1
        fecha += dt.timedelta(days=rng.choice((2, 3)))
        op = {cat: rng.randrange(100, 5000) for cat, _, _ in SHARED}
        po = dict(op)
        if outcome == "quarantine":
            # three of five categories disagree by 20-50 %: both the
            # 25 % mismatch-ratio threshold and the 10 % deviation cap trip
            for cat, _, _ in rng.sample(SHARED, 3):
                po[cat] = op[cat] + max(1, op[cat] * rng.randrange(20, 51) // 100)
        po[TOTAL] = sum(po[cat] for cat, _, _ in SHARED) + rng.randrange(100, 900)
        failing = rng.choice(("openloto", "polla")) if outcome == "single_source" else None
        pozos = _expected_pozos(
            None if failing == "openloto" else op, None if failing == "polla" else po
        )
        days.append(Day(
            outcome,
            openloto_page(sorteo, fecha, op),
            polla_page(sorteo, fecha, po),
            failing,
            "quarantine" if outcome == "quarantine" else "publish",
            "full" if outcome == "publish" else "degraded",
            pozos,
        ))
    return days
