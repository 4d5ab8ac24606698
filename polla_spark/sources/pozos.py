"""Source loaders: openloto (static text path) and polla (SPA DOM path).

Parity targets (reference polla_app/sources/pozos.py):
- openloto: fetch -> flatten to text -> label-regex amounts with
  "Total estimado" dropped (``allow_total=False``, pozos.py:260-269)
  -> sorteo/fecha extraction; ParseError when nothing extracted or the
  amounts sum to zero (pozos.py:242-246);
- polla: rendered-DOM walk (pozos.py:361-417): the li holding "POZO
  TOTAL ESTIMADO" contributes the total via its .prize span; each
  ``li.sub-game`` maps its img src fragment to a category
  (loto_logo/recargado/revancha/desquite/jubilazo[-50]) with the
  $1.000.000-vs-$500.000 variant chosen from the li's text chunks.

The headless-browser fetch itself needs scrapling/playwright (not in
this image) and is gated behind an import-try; the DOM *parsing* is a
stdlib HTMLParser visitor, fully testable offline on fixture pages.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
from html.parser import HTMLParser
from typing import Any

from ..errors import ParseError
from ..functions.dates import extract_proximo_info
from ..functions.html import assert_nonzero_amounts, extract_amounts, html_to_text
from ..functions.money import parse_millones_clp
from .net import (
    DEFAULT_RETRIES,
    DEFAULT_TIMEOUT,
    DEFAULT_UA,
    effective_user_agent,
    fetch_html,
)

OPENLOTO_URL = "https://www.openloto.cl/pozo-del-loto.html"
POLLA_URL = "https://www.polla.cl/es/"


def build_payload(*, fuente: str, html: str, user_agent: str,
                  montos: dict[str, int], fetched_at: dt.datetime | None = None,
                  sorteo: int | None, fecha: dt.date | None) -> dict[str, Any]:
    return {
        "fuente": fuente,
        "fetched_at": (fetched_at or dt.datetime.now(dt.timezone.utc)).isoformat(),
        "sha256": hashlib.sha256(html.encode("utf-8")).hexdigest(),
        "estimado": True,
        "montos": montos,
        "user_agent": user_agent,
        "sorteo": sorteo,
        "fecha": fecha.isoformat() if fecha else None,
    }


# ---------------------------------------------------------------------------
# openloto — static text path
# ---------------------------------------------------------------------------

def parse_openloto_html(html: str, *, fuente: str = OPENLOTO_URL,
                        user_agent: str = DEFAULT_UA) -> dict[str, Any]:
    text = html_to_text(html)
    montos = extract_amounts(text, allow_total=False)
    assert_nonzero_amounts(montos, fuente)
    sorteo, fecha = extract_proximo_info(text)
    return build_payload(fuente=fuente, html=html, user_agent=user_agent,
                         montos=montos, sorteo=sorteo, fecha=fecha)


def _local_html(url: str) -> str | None:
    """file:// URLs and existing local paths are read directly —
    offline/captured-page mode for tests, dry runs and replays."""
    import pathlib
    from urllib.parse import urlparse

    if url.startswith("file://"):
        return pathlib.Path(urlparse(url).path).read_text(encoding="utf-8")
    p = pathlib.Path(url)
    if "://" not in url and p.is_file():
        return p.read_text(encoding="utf-8")
    return None


def get_pozo_openloto(url: str = OPENLOTO_URL, *, ua: str | None = None,
                      timeout: int = DEFAULT_TIMEOUT,
                      retries: int | None = None) -> dict[str, Any]:
    ua = effective_user_agent(ua)
    local = _local_html(url)
    if local is not None:
        return parse_openloto_html(local, fuente=url, user_agent=ua)
    meta = fetch_html(url, ua, timeout, retries=retries)
    payload = parse_openloto_html(meta.html, fuente=url, user_agent=ua)
    payload["fetched_at"] = meta.fetched_at.isoformat()
    return payload


# ---------------------------------------------------------------------------
# polla — SPA DOM path
# ---------------------------------------------------------------------------

@dataclasses.dataclass
class _LiRecord:
    classes: set[str]
    img_srcs: list[str]
    texts: list[str]
    prize_texts: list[str]
    has_total_marker: bool = False


#: Void elements never get an end tag — keep them off the open-tag stack.
_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta source track wbr".split()
)


class _PollaDomVisitor(HTMLParser):
    """Collects per-<li> structure: classes, img srcs, text chunks and
    .prize span texts — the exact signals the reference selectors use.

    Prize scoping tracks the real open-tag stack (tag, is_prize): text
    is in-prize iff a .prize element is currently open, so nested
    markup inside a prize span (or a prize div/p) scopes correctly —
    the depth-counter heuristic this replaces mis-scoped on any nested
    close."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._li_stack: list[_LiRecord] = []
        self._stack: list[tuple[str, bool]] = []  # (tag, is_prize)
        self._prize_depth = 0
        self.lis: list[_LiRecord] = []

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        attrs = dict(attrs)
        classes = set((attrs.get("class") or "").split())
        if tag == "li":
            rec = _LiRecord(classes=classes, img_srcs=[], texts=[], prize_texts=[])
            self._li_stack.append(rec)
            self.lis.append(rec)
        elif tag == "img" and self._li_stack:
            src = (attrs.get("src") or "").lower()
            for rec in self._li_stack:
                rec.img_srcs.append(src)
        if tag not in _VOID_TAGS:
            is_prize = "prize" in classes
            self._stack.append((tag, is_prize))
            if is_prize:
                self._prize_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag == "li" and self._li_stack:
            self._li_stack.pop()
        # pop to the matching open tag (implicitly closing anything the
        # markup left open); stray end tags leave the stack untouched
        if any(t == tag for t, _ in self._stack):
            while self._stack:
                popped_tag, popped_prize = self._stack.pop()
                if popped_prize:
                    self._prize_depth -= 1
                if popped_tag == tag:
                    break

    def handle_data(self, data: str) -> None:
        chunk = data.strip()
        if not chunk:
            return
        for rec in self._li_stack:
            rec.texts.append(chunk)
            if self._prize_depth > 0:
                rec.prize_texts.append(chunk)
            if "POZO TOTAL ESTIMADO" in chunk:
                rec.has_total_marker = True


def _category_for(src: str, texts: list[str]) -> str | None:
    if "loto_logo" in src:
        return "Loto Clásico"
    if "recargado" in src:
        return "Recargado"
    if "revancha" in src:
        return "Revancha"
    if "desquite" in src:
        return "Desquite"
    if "jubilazo" in src and "50" not in src:
        if "$1.000.000" in texts:
            return "Jubilazo $1.000.000"
        if "$500.000" in texts:
            return "Jubilazo $500.000"
    if "jubilazo-50" in src:
        if "$1.000.000" in texts:
            return "Jubilazo 50 años $1.000.000"
        if "$500.000" in texts:
            return "Jubilazo 50 años $500.000"
    return None


def parse_polla_html(html: str, *, fuente: str = POLLA_URL,
                     user_agent: str = "Scrapling/StealthyFetcher") -> dict[str, Any]:
    visitor = _PollaDomVisitor()
    visitor.feed(html)
    amounts: dict[str, int] = {}

    for rec in visitor.lis:
        if rec.has_total_marker and rec.prize_texts:
            try:
                amounts["Total estimado"] = parse_millones_clp(" ".join(rec.prize_texts))
            except ParseError:
                pass
            break

    for rec in visitor.lis:
        if "sub-game" not in rec.classes or not rec.img_srcs or not rec.prize_texts:
            continue
        try:
            prize_val = parse_millones_clp(" ".join(rec.prize_texts))
        except ParseError:
            continue
        category = _category_for(rec.img_srcs[0], rec.texts)
        if category:
            amounts[category] = prize_val

    assert_nonzero_amounts(amounts, fuente)
    text = html_to_text(html)
    sorteo, fecha = extract_proximo_info(text)
    return build_payload(fuente=fuente, html=html, user_agent=user_agent,
                         montos=amounts, sorteo=sorteo, fecha=fecha)


@dataclasses.dataclass(frozen=True)
class RenderedPage:
    """What a browser fetcher returns: final status + serialized DOM."""

    status: int
    html: str


def _scrapling_fetcher(timeout: int):
    """Build the default browser fetcher (scrapling/playwright).

    Renders the SPA, clicks 'VER DETALLE POR CATEGORÍA' to expand the
    per-category prizes, waits for the binding animation, then
    serializes the DOM before the session closes (reference
    polla_app/sources/pozos.py:295-315). Raises ParseError when
    scrapling is not importable — captured-page/injected-fetcher modes
    keep working without it.
    """
    try:
        from scrapling import StealthyFetcher
    except ImportError as exc:
        raise ParseError(
            "scrapling must be installed to fetch from polla.cl"
        ) from exc

    def fetch(url: str) -> RenderedPage:
        shared: dict[str, str] = {}
        ms = timeout * 1000

        def expand_detalle(page) -> None:  # noqa: ANN001 — playwright page
            try:
                page.wait_for_selector(".jackpot-banner", timeout=ms)
                page.locator("text=VER DETALLE POR CATEGORÍA").first.click(
                    timeout=min(5000, ms)
                )
                page.wait_for_timeout(min(2000, ms // 2))
            except Exception:  # noqa: BLE001 — banner variants; parse decides
                pass
            try:
                # serialize inside the session: the fetcher's own DOM
                # dump is sometimes empty after close
                shared["html"] = page.content()
            except Exception:  # noqa: BLE001
                pass

        engine = StealthyFetcher(headless=True)
        page = engine.fetch(url, page_action=expand_detalle, timeout=timeout)
        html = shared.get("html") or getattr(page, "text", "") or ""
        return RenderedPage(status=getattr(page, "status", 0), html=html)

    return fetch


def get_pozo_polla(url: str = POLLA_URL, *, ua: str | None = None,
                   timeout: int = DEFAULT_TIMEOUT,
                   retries: int | None = None,
                   fetcher=None) -> dict[str, Any]:
    """SPA path: render -> expand categories -> parse the DOM.

    ``fetcher`` is any ``(url) -> RenderedPage`` callable; when None
    the scrapling/playwright fetcher is built (import-gated). Captured
    pages (file:// / local path) parse without a browser at all.
    """
    ua = effective_user_agent(ua)
    local = _local_html(url)
    if local is not None:
        return parse_polla_html(local, fuente=url, user_agent=ua)
    if fetcher is None:
        fetcher = _scrapling_fetcher(timeout)
    attempts = retries if retries is not None else 1
    last_exc: Exception | None = None
    for attempt in range(1, attempts + 1):
        try:
            page = fetcher(url)
            if page.status == 200 and page.html:
                return parse_polla_html(page.html, fuente=url, user_agent=ua)
            last_exc = ParseError(
                f"polla.cl returned status {page.status}"
            )
        except ParseError as exc:
            last_exc = exc
    raise ParseError(
        f"polla.cl fetch failed after {attempts} attempts: {url}"
    ) from last_exc


# ---------------------------------------------------------------------------
# Registry + collection (reference pipeline.py:88-132, 582-588)
# ---------------------------------------------------------------------------

POZO_SOURCES = ("openloto", "polla")

SOURCE_LOADERS = {
    "openloto": get_pozo_openloto,
    "polla": get_pozo_polla,
}


def normalize_sources(requested: list[str]) -> list[str]:
    """Lowercase, dedupe, expand all/pozos, reject unknown
    (reference pipeline.py:34-46)."""
    out: list[str] = []
    for name in requested:
        low = name.strip().lower()
        if low in ("all", "pozos"):
            for s in POZO_SOURCES:
                if s not in out:
                    out.append(s)
        elif low in SOURCE_LOADERS:
            if low not in out:
                out.append(low)
        else:
            raise ValueError(f"unknown source: {name}")
    return out


def collect_payloads(sources: list[str], overrides: dict[str, str] | None = None,
                     *, timeout: int = DEFAULT_TIMEOUT,
                     retries: int = DEFAULT_RETRIES,
                     loaders: dict | None = None) -> tuple[list[dict], list[dict]]:
    """Run each source loader with per-source failure isolation
    (degraded mode, reference pipeline.py:104-132).

    Returns (payloads-with-source_name, failures). An override value of
    ``"skip"`` drops the source; any other value replaces its URL.
    """
    loaders = loaders or SOURCE_LOADERS
    overrides = overrides or {}
    collected: list[dict] = []
    failures: list[dict] = []
    for priority, name in enumerate(sources):
        override = overrides.get(name)
        if override == "skip":
            continue
        loader = loaders.get(name)
        if loader is None:
            continue
        kwargs: dict[str, Any] = {"timeout": timeout, "retries": retries}
        try:
            if override:
                payload = loader(override, **kwargs)
            else:
                payload = loader(**kwargs)
            if payload.get("montos"):
                payload = dict(payload)
                payload["source_name"] = name
                payload["source_priority"] = priority
                collected.append(payload)
        except Exception as exc:  # noqa: BLE001 — degraded mode
            failures.append({"source_name": name, "error": str(exc)[:500]})
    return collected, failures


def payloads_to_df(spark, payloads: list[dict], run_id: str):
    """Payload dicts -> SOURCE_PAYLOAD DataFrame (explicit schema), held
    by the JVM as a local relation (:func:`..session.local_frame`)."""
    from ..schemas import SOURCE_PAYLOAD
    from ..session import local_frame

    rows = []
    for p in payloads:
        rows.append(
            {
                "run_id": run_id,
                "source_name": p["source_name"],
                "source_priority": int(p["source_priority"]),
                "fuente": p["fuente"],
                "fetched_at": dt.datetime.fromisoformat(p["fetched_at"]).replace(tzinfo=None)
                if isinstance(p["fetched_at"], str)
                else p["fetched_at"],
                "sha256": p["sha256"],
                "estimado": bool(p.get("estimado", True)),
                "user_agent": p.get("user_agent"),
                "sorteo": p.get("sorteo"),
                "fecha": dt.date.fromisoformat(p["fecha"])
                if isinstance(p.get("fecha"), str)
                else p.get("fecha"),
                "montos": {str(k): int(v) for k, v in (p.get("montos") or {}).items()},
            }
        )
    return local_frame(spark, rows, SOURCE_PAYLOAD)
