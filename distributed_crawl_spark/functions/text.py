"""HTML→text extraction and markdown helpers.

The extraction pipeline is THE per-row invariant (BASELINE.json
``input_hint``: byte-identical extracted text per url). Reference
pipeline (hybrid_crawler.py:364-375, identical webcrawleranalyzer.py:122-134):

    soup = BeautifulSoup(content, 'html.parser')
    for s in soup(['script', 'style']): s.decompose()
    text = soup.get_text()
    lines  = (line.strip() for line in text.splitlines())
    chunks = (p.strip() for line in lines for p in line.split('  '))
    markdown = '\\n'.join(c for c in chunks if c)

bs4 is not installed in this environment, so the tree step is re-expressed
on stdlib ``html.parser.HTMLParser`` (the same tokenizer bs4's
'html.parser' builder wraps): with ``convert_charrefs=True`` (bs4's
default) the concatenation of data events outside script/style subtrees
equals ``soup.get_text()`` for well-formed documents — comments, charrefs
and CDATA handling all match. The whitespace pipeline below is verbatim.

Link extraction matches ``soup.find_all('a', href=True)`` document order
(webcrawleranalyzer.py:139-140) and the filter/absolutize/dedup/cap chain
of ``_extract_links`` (webcrawleranalyzer.py:155-193) — with the one
documented determinism fix: ``list(set(...))`` becomes first-occurrence
order (SURVEY.md §2.10).

Everything crosses the Python boundary exactly once, through Arrow
(pandas UDFs); no row-at-a-time UDFs.
"""

from __future__ import annotations

from html.parser import HTMLParser
from urllib.parse import urljoin, urlparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType


class _TextLinkParser(HTMLParser):
    """Collects text nodes outside <script>/<style> and <a href> values in
    document order — the exact event stream bs4's html.parser builder sees."""

    _SKIP = ("script", "style")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self.parts: list[str] = []
        self.hrefs: list[str] = []
        # nofollow capture (additive — default link semantics untouched):
        # per-href rel=nofollow flag, parallel to hrefs; plus the page's
        # <meta name=robots> content (first occurrence wins, like browsers)
        self.href_nofollow: list[bool] = []
        self.meta_robots: str | None = None
        # <link rel="canonical" href=...> — the page's self-declared
        # canonical URL (first occurrence wins, like search engines)
        self.canonical: str | None = None
        # anchor capture (additive — never feeds the text invariant):
        # (href, whitespace-collapsed anchor text) per closed <a href>
        self.anchor_pairs: list[tuple[str, str]] = []
        self._a_depth = 0
        self._a_href: str | None = None
        self._a_buf: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip += 1
        elif tag == "meta" and self.meta_robots is None:
            d = {k: v for k, v in attrs}
            if (d.get("name") or "").lower() == "robots":
                self.meta_robots = (d.get("content") or "").lower()
        elif tag == "link" and self.canonical is None:
            d = {k: v for k, v in attrs}
            if "canonical" in (d.get("rel") or "").lower().split():
                self.canonical = d.get("href") or None
        elif tag == "a":
            href = None
            rel = ""
            for k, v in attrs:
                if k == "href" and v is not None and href is None:
                    href = v
                elif k == "rel" and v is not None:
                    rel = v
            if href is not None:
                self.hrefs.append(href)
                self.href_nofollow.append("nofollow" in rel.lower().split())
            # only the OUTERMOST <a> owns the anchor text (nested <a>
            # is invalid html; browsers implicitly close — we nest-count
            # so the close of an inner tag doesn't cut the buffer short)
            if self._a_depth == 0:
                self._a_href = href
                self._a_buf = []
            self._a_depth += 1

    def handle_startendtag(self, tag, attrs):
        # <a href=... /> self-closing still carries an href (empty text);
        # void <meta>/<link> written self-closing must still be captured
        if tag == "a":
            self.handle_starttag(tag, attrs)
            self.handle_endtag(tag)
        elif tag in ("meta", "link"):
            self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag in self._SKIP and self._skip:
            self._skip -= 1
        elif tag == "a" and self._a_depth:
            self._a_depth -= 1
            if self._a_depth == 0:
                if self._a_href is not None:
                    text = " ".join("".join(self._a_buf).split())
                    self.anchor_pairs.append((self._a_href, text))
                self._a_href = None
                self._a_buf = []

    def handle_data(self, data):
        if not self._skip:
            self.parts.append(data)
            if self._a_depth:
                self._a_buf.append(data)


def _run_parser(html: bytes | str | None) -> _TextLinkParser | None:
    """Decode + run the shared tokenizer once; None for missing html."""
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    parser = _TextLinkParser()
    parser.feed(html)
    parser.close()
    return parser


def _text_from_parts(parts: list[str]) -> str:
    text_content = "".join(parts)
    # verbatim whitespace pipeline — hybrid_crawler.py:373-375
    lines = (line.strip() for line in text_content.splitlines())
    chunks = (phrase.strip() for line in lines for phrase in line.split("  "))
    return "\n".join(chunk for chunk in chunks if chunk)


def extract_text_and_hrefs(html: bytes | str | None) -> tuple[str, list[str]]:
    """Pure-Python core of the invariant; also used by the corpus generator
    and the pytest oracle. Returns (extracted_text, raw hrefs in doc order)."""
    parser = _run_parser(html)
    if parser is None:
        return "", []
    return _text_from_parts(parser.parts), parser.hrefs


def resolve_links(base_url: str, hrefs: list[str], max_links: int | None) -> list[str]:
    """webcrawleranalyzer.py:155-193 semantics: skip empty / '#...' hrefs,
    absolutize against the page URL, keep http(s) only, dedup
    (first-occurrence — determinism fix over list(set())), cap."""
    out: list[str] = []
    seen: set[str] = set()
    for href in hrefs:
        if not href or href.startswith("#"):
            continue
        absolute = urljoin(base_url, href)
        if urlparse(absolute).scheme not in ("http", "https"):
            continue
        if absolute not in seen:
            seen.add(absolute)
            out.append(absolute)
    if max_links is not None:
        out = out[:max_links]
    return out


def extract_anchor_texts(base_url: str,
                         html: bytes | str | None) -> list[tuple[str, str]]:
    """(absolute_url, anchor_text) pairs in document order — the web
    link-graph's edge labels (anchor corpora train retrieval/title
    models; inbound-anchor agreement is a classic page-quality signal).
    Same href hygiene as :func:`resolve_links` (skip empty/'#',
    absolutize against the page url, http(s) only) but KEEPS duplicate
    targets — the census downstream counts them — and drops pairs whose
    collapsed anchor text is empty (image/icon links carry no label).
    """
    parser = _run_parser(html)
    if parser is None:
        return []
    return _filter_anchor_pairs(base_url, parser.anchor_pairs)


def _filter_anchor_pairs(
    base_url: str, pairs: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    for href, text in pairs:
        if not href or href.startswith("#") or not text:
            continue
        absolute = urljoin(base_url, href)
        if urlparse(absolute).scheme not in ("http", "https"):
            continue
        out.append((absolute, text))
    return out


ANCHOR_PAIR_TYPE = ArrayType(
    StructType(
        [
            StructField("target_url", StringType()),
            StructField("anchor", StringType()),
        ]
    )
)


@pandas_udf(ANCHOR_PAIR_TYPE)
def anchor_pairs_udf(url: pd.Series, html: pd.Series) -> pd.Series:
    """Vectorized (page_url, html) → array<struct<target_url, anchor>>;
    one Arrow batch per call, html crosses into Python exactly once."""
    return pd.Series(
        [extract_anchor_texts(u, h) for u, h in zip(url, html)]
    )


EXTRACT_RESULT_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
    ]
)


def make_extract_udf(max_links: int | None = 10, mode: str = "basic",
                     with_anchors: bool = False,
                     honor_nofollow: bool = False,
                     with_meta: bool = False):
    """Vectorized extractor: (url, html) → struct(text, links).

    One Arrow batch in, one out; resolution/filter/dedup/cap happen in the
    same pass so html bytes cross into Python exactly once.

    ``mode='basic'`` (default) emits the reference's byte-identical
    whitespace-pipeline text (THE invariant); ``mode='markdown'`` emits
    the structure-preserving markdown (:func:`html_to_markdown`, the
    Crawl4AI-path output shape) instead — LINK semantics are identical in
    both modes (same href stream, same resolve/filter/dedup/cap), so the
    crawl graph does not depend on the text mode.

    ``with_anchors=True`` widens the struct with the page's
    ``(target_url, anchor)`` pairs (same hygiene as
    :func:`extract_anchor_texts`) captured from the SAME tokenizer pass —
    html still crosses into Python exactly once, so in-crawl anchor
    capture costs one extra output column, not a second Arrow exchange
    of the page bytes.

    ``with_meta=True`` widens the struct with the page's first
    ``<meta name=robots>`` content (lowercased; None when absent) and
    its ``<link rel=canonical>`` target (absolutized against the page
    url) — the driver's honor_noindex storage policy and canonical-group
    dedup read them; same single pass.

    ``honor_nofollow=True`` applies the web's link-hygiene directives
    (engine extension, off by default for reference raw-link parity):
    ``rel="nofollow"`` links are dropped from the crawl graph, and a
    page-level ``<meta name="robots" content="...nofollow...">`` drops
    ALL of the page's links — both captured in the same tokenizer pass.
    """
    if mode not in ("basic", "markdown"):
        raise ValueError(f"unknown extract mode {mode!r}")

    # result struct grows with the capture flags (anchors, meta) so the
    # parity-mode schema stays exactly (text, links)
    fields = list(EXTRACT_RESULT_TYPE.fields)
    if with_anchors:
        fields.append(StructField("anchors", ANCHOR_PAIR_TYPE))
    if with_meta:
        fields.append(StructField("meta_robots", StringType()))
        fields.append(StructField("canonical_url", StringType()))
    result_type = StructType(fields)

    @pandas_udf(result_type)
    def extract(url: pd.Series, html: pd.Series) -> pd.DataFrame:
        texts: list[str] = []
        links: list[list[str]] = []
        anchors: list[list[tuple[str, str]]] = []
        metas: list[str | None] = []
        canonicals: list[str | None] = []
        for u, h in zip(url, html):
            parser = _run_parser(h)
            text = _text_from_parts(parser.parts) if parser else ""
            hrefs = parser.hrefs if parser else []
            if honor_nofollow and parser:
                meta = (parser.meta_robots or "").replace(",", " ").split()
                if "nofollow" in meta:
                    hrefs = []
                else:
                    hrefs = [
                        href for href, nf
                        in zip(parser.hrefs, parser.href_nofollow)
                        if not nf
                    ]
            if mode == "markdown":
                text = html_to_markdown(h, base_url=u or "")
            texts.append(text)
            links.append(resolve_links(u, hrefs, max_links))
            if with_anchors:
                anchors.append(
                    _filter_anchor_pairs(
                        u or "", parser.anchor_pairs if parser else []
                    )
                )
            if with_meta:
                metas.append(parser.meta_robots if parser else None)
                c = parser.canonical if parser else None
                canonicals.append(urljoin(u or "", c) if c else None)
        out = {"text": texts, "links": links}
        if with_anchors:
            out["anchors"] = anchors
        if with_meta:
            out["meta_robots"] = metas
            out["canonical_url"] = canonicals
        return pd.DataFrame(out)

    return extract


class _MarkdownParser(HTMLParser):
    """Structure-preserving HTML→markdown: headings → ``#``, links →
    ``[text](url)``, list items → ``- `` (nested by two-space indent),
    bold/italic → ``**``/``*``, block elements → line breaks.

    This is the OUTPUT SHAPE of the reference's exercised local path —
    Crawl4AI markdown (hybrid_crawler.py:322-353; every line of
    hybrid_crawler.log comes from it) — re-expressed on the stdlib
    tokenizer. SURVEY.md §7.3 keeps the BS4 basic pipeline
    (:func:`extract_text_and_hrefs`) as the normative byte invariant
    because browser-rendered output is irreproducible; this variant is
    contract-by-own-goldens: deterministic, one line per block element,
    whitespace collapsed per block, no blank-line styling.
    """

    _SKIP = ("script", "style")
    _H = {f"h{i}": i for i in range(1, 7)}
    _BLOCK = (
        "p", "div", "section", "article", "header", "footer",
        "table", "tr", "blockquote", "pre",
    )

    def __init__(self, base_url: str = "") -> None:
        super().__init__(convert_charrefs=True)
        self.base_url = base_url
        self._skip = 0
        self._blocks: list[str] = []
        self._cur: list[str] = []
        self._prefix = ""  # block marker ('# ', indent + '- ') kept out of
        self._list_depth = 0  # the whitespace collapse
        self._hrefs: list[str] = []

    def _flush(self) -> None:
        import re

        line = re.sub(r"\s+", " ", "".join(self._cur)).strip()
        if line:
            self._blocks.append(self._prefix + line)
        self._cur = []
        self._prefix = ""

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip += 1
        elif tag in self._H:
            self._flush()
            self._prefix = "#" * self._H[tag] + " "
        elif tag in ("ul", "ol"):
            self._flush()
            self._list_depth += 1
        elif tag == "li":
            self._flush()
            self._prefix = "  " * max(self._list_depth - 1, 0) + "- "
        elif tag == "a":
            href = next((v for k, v in attrs if k == "href" and v), None)
            if href is not None and self.base_url:
                absolute = urljoin(self.base_url, href)
                if urlparse(absolute).scheme in ("http", "https"):
                    href = absolute
            self._hrefs.append(href or "")
            self._cur.append("[")
        elif tag in ("b", "strong"):
            self._cur.append("**")
        elif tag in ("i", "em"):
            self._cur.append("*")
        elif tag == "br" or tag in self._BLOCK:
            self._flush()

    def handle_startendtag(self, tag, attrs):
        if tag == "br":
            self._flush()
        elif tag == "a":
            self.handle_starttag(tag, attrs)
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in self._SKIP:
            if self._skip:
                self._skip -= 1
        elif tag in self._H or tag == "li" or tag in self._BLOCK:
            self._flush()
        elif tag in ("ul", "ol"):
            self._flush()
            if self._list_depth:
                self._list_depth -= 1
        elif tag == "a":
            href = self._hrefs.pop() if self._hrefs else ""
            self._cur.append(f"]({href})")
        elif tag in ("b", "strong"):
            self._cur.append("**")
        elif tag in ("i", "em"):
            self._cur.append("*")

    def handle_data(self, data):
        if not self._skip:
            self._cur.append(data)

    def result(self) -> str:
        self._flush()
        return "\n".join(self._blocks)


def html_to_markdown(html: bytes | str | None, base_url: str = "") -> str:
    """Pure-Python core of the structure-preserving variant (also the
    pytest golden oracle). ``base_url`` absolutizes link targets."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    parser = _MarkdownParser(base_url)
    parser.feed(html)
    parser.close()
    return parser.result()


@pandas_udf(StringType())
def markdown_extract_udf(url: pd.Series, html: pd.Series) -> pd.Series:
    """Vectorized structure-preserving markdown extractor: one Arrow batch
    in/out, links absolutized against each row's url."""
    return pd.Series(
        [html_to_markdown(h, base_url=u or "") for u, h in zip(url, html)]
    )


@pandas_udf(StringType())
def normalize_url_exact_udf(url: pd.Series) -> pd.Series:
    """P2 exact form — utils.py:32-43: urlparse rebuild
    ``scheme://netloc path [?query]`` (drops fragment AND params)."""

    def _norm(u: str) -> str:
        p = urlparse(u)
        out = f"{p.scheme}://{p.netloc}{p.path}"
        if p.query:
            out += f"?{p.query}"
        return out

    return url.map(_norm)


# --- native markdown helpers (SURVEY.md §2.3 P8-P10) -----------------------


def clean_markdown(text: Column) -> Column:
    """P8 — utils.py:611-633: rstrip every line, collapse blank-line runs
    to one, drop leading/trailing blank lines. Pure regexp — no UDF."""
    c = F.regexp_replace(text, r"[ \t]+(\n|$)", "$1")  # rstrip lines
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")  # collapse blank runs
    c = F.regexp_replace(c, r"^\n+|\n+$", "")  # strip boundary blanks
    return c


def text_metadata(text: Column) -> dict[str, Column]:
    """P9 — utils.py:635-657: word/char/line counts + first '#' heading.

    Parity notes: ``len(content.split())`` is 0 for whitespace-only text;
    the title rule is ``line.strip().startswith('#')`` then
    ``lstrip('#').strip()`` — leading whitespace before '#' allowed,
    trailing '#' KEPT.
    """
    word_count = F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )
    return {
        "word_count": word_count,
        "char_count": F.length(text),
        "line_count": F.size(F.split(text, "\n")),
        "title": F.regexp_extract(
            text, r"(?m)^[^\S\n]*#+[^\S\n]*(.*?)[^\S\n]*$", 1
        ),
    }


def truncate_content(text: Column, max_words: int = 4000) -> Column:
    """P10 — utils.py:659-667: ``content.split()`` (any-whitespace split,
    collapsing) → first N words + marker; content returned VERBATIM when it
    fits (no whitespace normalization on the short path)."""
    words = F.split(F.trim(text), r"\s+")
    return F.when(
        F.size(words) > max_words,
        F.concat(
            F.array_join(F.slice(words, 1, max_words), " "),
            F.lit("\n\n[Content truncated...]"),
        ),
    ).otherwise(text)


@pandas_udf(StringType())
def nfc_normalize_udf(text: pd.Series) -> pd.Series:
    """Unicode NFC normalization (canonical composition), Arrow-batched.

    The standard first step of web-text cleaning: scraped pages mix
    precomposed ('é') and decomposed ('e' + U+0301) forms of the same
    character, so downstream exact/near dedup, token counting, and
    fingerprints disagree on byte-identical-looking text until forms
    are canonicalized. Spark has no built-in normalizer, so this is a
    sanctioned pandas UDF over stdlib ``unicodedata`` (the same NFC the
    DuckDB oracle's ``nfc_normalize`` implements — both follow UAX #15,
    which makes the op contract-checkable)."""
    import unicodedata

    return text.map(
        lambda t: unicodedata.normalize("NFC", t) if t is not None else None
    )


# ---------------------------------------------------------------------------
# Mojibake repair (the ftfy step of C4/OSCAR-style pipelines)
# ---------------------------------------------------------------------------
# "Sloppy windows-1252": cp1252 where defined, latin-1 for the five
# undefined 0x80-0x9F bytes — the de-facto decoder legacy web servers
# applied to UTF-8 bytes, and therefore the exact inverse a repairer
# needs. The two tables below are bijective over chr(0)..chr(255)'s image
# (every cp1252 0x80-0x9F char is ≥ U+0100, so no mapping collides).
_SLOPPY_DECODE: list[str] = [
    (bytes([b]).decode("cp1252") if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
     else chr(b)) if 0x80 <= b <= 0x9F else chr(b)
    for b in range(256)
]
_SLOPPY_ENCODE: dict[str, int] = {c: b for b, c in enumerate(_SLOPPY_DECODE)}


def _mojibake_fix_once(s: str) -> str | None:
    """One repair pass: re-encode via sloppy-cp1252 and strict-decode as
    UTF-8. Returns the repaired string, or None when ``s`` is not a
    consistent double-encoding (any char > U+00FF outside the cp1252
    page, or bytes that aren't valid UTF-8) — the precision contract:
    natural single-encoded text virtually never survives BOTH gates,
    because its 0x80-0xFF bytes don't form UTF-8 sequences."""
    if s.isascii():
        return None
    try:
        b = bytes(_SLOPPY_ENCODE[c] for c in s)
    except KeyError:
        return None
    try:
        t = b.decode("utf-8")
    except UnicodeDecodeError:
        return None
    return t if t != s else None


@pandas_udf(StringType())
def fix_mojibake_udf(text: pd.Series) -> pd.Series:
    """Repair UTF-8-decoded-as-cp1252 mojibake ('cafÃ©' →
    'café'), the ftfy pass every web-text pipeline runs before
    dedup/quality: mangled and clean variants of one page otherwise
    count as distinct documents. Up to 3 passes so double-mangled text
    (encoded, decoded wrong, re-encoded, decoded wrong again) also
    heals; each pass is gated by the strict round-trip check in
    :func:`_mojibake_fix_once`, so already-clean text — including the
    ASCII fast path — passes through untouched. Sanctioned pandas UDF
    (codec work is per-code-point); pre-filter with a marker regex
    (``'[ÂÃÐâ]'``) when the mangled rate is low."""

    def fix(s):
        if s is None:
            return None
        for _ in range(3):
            t = _mojibake_fix_once(s)
            if t is None:
                return s
            s = t
        return s

    return text.map(fix)


@pandas_udf(StringType())
def mojibake_text_udf(text: pd.Series) -> pd.Series:
    """The CORRUPTER (test/oracle synthesis only): UTF-8 bytes decoded as
    sloppy-cp1252 — produces exactly the mangling
    :func:`fix_mojibake_udf` repairs, so contract queries can plant
    known-broken text whose fixed form the oracle states in closed
    form."""
    return text.map(
        lambda s: None if s is None
        else "".join(_SLOPPY_DECODE[b] for b in s.encode("utf-8"))
    )


def normalize_text(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-doc NFC normalization pass: (doc_id, norm_text, changed).

    ``changed`` marks docs whose text was not already in NFC — the audit
    column (a high changed-rate per source flags an encoding-mangled
    feed). Pure projection: zero shuffle, one Arrow crossing of the text
    column."""
    norm = nfc_normalize_udf(F.col(text_col))
    return docs.select(
        id_col,
        norm.alias("norm_text"),
        (~norm.eqNullSafe(F.col(text_col))).alias("changed"),
    )
