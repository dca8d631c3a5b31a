"""HTML main-content extraction: text-density / link-density block
classifier (the Boilerpipe/Readability-style DOM boilerplate stripper).

The reference repo is PDF-only; the HTML branch extends its extract stage
to Common-Crawl-style pages per the target input. The block classifier is
the published Boilerpipe ``NumWordsRulesClassifier`` decision rule
(Kohlschütter, Fankhauser, Nejdl: "Boilerplate Detection using Shallow
Text Features", WSDM 2010) over shallow features per block:

- blocks are delimited by block-level tags; ``<script>/<style>/<head>``
  subtrees are dropped outright
- features: ``num_words``, ``link_density`` (fraction of words inside
  ``<a>``), plus a tag prior: blocks inside ``nav/header/footer/aside/
  form`` are forced boilerplate (they still participate as prev/next
  context)
- classification of block *i* uses (prev, curr, next) word counts and
  link densities per the NumWordsRules tree

Extracted text = content-block texts joined with ``"\n"`` — the same
line-per-block shape the PDF branch produces, so the downstream transcript
segmenter treats both uniformly.
"""

from html.parser import HTMLParser

_BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li td th pre blockquote article section
    header footer nav aside main figure figcaption table tr ul ol dl dt dd
    br hr form fieldset address""".split()
)
_SKIP_TAGS = frozenset(["script", "style", "noscript", "head", "svg", "template"])
_BOILER_ANCESTORS = frozenset(["nav", "header", "footer", "aside", "form"])
_VOID_TAGS = frozenset(["br", "hr", "img", "meta", "link", "input"])


class _Block:
    __slots__ = ("words", "linked_words", "forced_boiler", "span_start", "span_end")

    def __init__(self, words, linked_words, forced_boiler,
                 span_start=None, span_end=None):
        self.words = words
        self.linked_words = linked_words
        self.forced_boiler = forced_boiler
        # char offsets into the DECODED html string: [start of the first
        # contributing text chunk (leading ws trimmed), end of the last
        # (trailing ws trimmed)). Inline markup between chunks is inside
        # the span. None on the html.parser path (offsets unavailable).
        self.span_start = span_start
        self.span_end = span_end

    @property
    def num_words(self):
        return len(self.words)

    @property
    def link_density(self):
        return (self.linked_words / self.num_words) if self.num_words else 0.0

    @property
    def text(self):
        return " ".join(self.words)


class _BlockParser(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks = []
        self._words = []
        self._linked = 0
        self._skip_depth = 0
        self._anchor_depth = 0
        self._boiler_depth = 0

    def _flush(self):
        if self._words:
            self.blocks.append(
                _Block(self._words, self._linked, self._boiler_depth > 0)
            )
        self._words = []
        self._linked = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "a":
            self._anchor_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()
            if tag in _BOILER_ANCESTORS:
                self._boiler_depth += 1
            if tag in _VOID_TAGS:  # <br>, <hr> self-close
                if tag in _BOILER_ANCESTORS:
                    self._boiler_depth -= 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        if tag in _BLOCK_TAGS:
            self._flush()
            if tag in _BOILER_ANCESTORS:
                self._boiler_depth = max(0, self._boiler_depth - 1)

    def handle_data(self, data):
        if self._skip_depth:
            return
        words = data.split()
        if self._anchor_depth:
            self._linked += len(words)
        self._words.extend(words)

    def close(self):
        super().close()
        self._flush()


# ---------------------------------------------------------------------------
# fast regex block scanner — same block semantics as _BlockParser but
# ~4× faster (html.parser's per-char state machine dominates the
# extraction profile otherwise). _BlockParser is retained as the
# reference implementation; tests assert scanner ≡ parser on the corpus.
# ---------------------------------------------------------------------------

import html as _html_mod
import re as _re

_TAG_RE = _re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>"
    r"|<!--.*?-->|<![^>]*>",
    _re.DOTALL,
)
_AMP = "&"


_CDATA_END = {
    "script": _re.compile(r"</script[^>]*>", _re.IGNORECASE),
    "style": _re.compile(r"</style[^>]*>", _re.IGNORECASE),
}


def _scan_blocks(html: str):
    blocks = []
    words: list = []
    linked = 0
    skip_depth = 0
    anchor_depth = 0
    boiler_depth = 0
    span_start = None
    span_end = None

    def flush():
        nonlocal words, linked, span_start, span_end
        if words:
            blocks.append(
                _Block(words, linked, boiler_depth > 0, span_start, span_end)
            )
        words = []
        linked = 0
        span_start = None
        span_end = None

    def take(raw, base):
        # one text chunk at html[base:base+len(raw)]; span bounds trim
        # the RAW chunk's whitespace (entity text stays inside the span)
        nonlocal linked, span_start, span_end
        data = _html_mod.unescape(raw) if _AMP in raw else raw
        ws = data.split()
        if not ws:
            return
        if anchor_depth:
            linked += len(ws)
        words.extend(ws)
        if span_start is None:
            span_start = base + (len(raw) - len(raw.lstrip()))
        span_end = base + len(raw.rstrip())

    pos = 0
    n = len(html)
    search = _TAG_RE.search
    while pos < n:
        m = search(html, pos)
        if m is None:
            data = html[pos:]
            if not skip_depth and not data.isspace():
                take(data, pos)
            break
        start = m.start()
        if start > pos:
            data = html[pos:start]
            if not skip_depth and not data.isspace():
                take(data, pos)
        pos = m.end()

        slash, tag, attrs = m.group(1, 2, 3)
        if tag is None:  # comment / doctype
            continue
        if not tag.islower():
            tag = tag.lower()
        closing = slash == "/"
        # a trailing '/' marks self-closing ONLY when it isn't the tail
        # of an unquoted attribute value (html.parser consumes the '/'
        # of <a href=http://x.com/> into the value — not self-closing)
        if attrs:
            attrs = attrs.rstrip()
        self_closing = (
            not closing
            and bool(attrs)
            and attrs.endswith("/")
            and (len(attrs) == 1 or attrs[-2] in " \t\n\r\"'")
        )

        if not closing and not self_closing and tag in _CDATA_END:
            # CDATA content: skip straight to the matching end tag, like
            # html.parser's script/style mode — JS "<" never parses as tags
            m2 = _CDATA_END[tag].search(html, pos)
            pos = m2.end() if m2 else n
            continue

        if tag in _SKIP_TAGS:
            if closing:
                skip_depth = max(0, skip_depth - 1)
            elif not self_closing:
                skip_depth += 1
            continue
        if tag == "a":
            if closing:
                anchor_depth = max(0, anchor_depth - 1)
            elif not self_closing:
                anchor_depth += 1
        if tag in _BLOCK_TAGS:
            flush()
            if tag in _BOILER_ANCESTORS:
                if closing:
                    boiler_depth = max(0, boiler_depth - 1)
                elif not self_closing:
                    boiler_depth += 1
    flush()
    return blocks


def _parser_blocks(html: str):
    """Reference block segmentation via html.parser (slow path; kept for
    parity testing against the fast scanner)."""
    parser = _BlockParser()
    parser.feed(html)
    parser.close()
    return parser.blocks


def _keep_flags(blocks):
    """NumWordsRulesClassifier keep-flag per block (shared by the text
    and span extractors; forced-boiler blocks are always False but
    still serve as prev/next context)."""
    n = len(blocks)
    # precompute features once — the classifier reads each ~3×
    nw = [b.num_words for b in blocks]
    ld = [b.link_density for b in blocks]
    flags = []
    for i, curr in enumerate(blocks):
        if curr.forced_boiler:
            flags.append(False)
            continue
        prev_ld = ld[i - 1] if i > 0 else 0.0
        prev_nw = nw[i - 1] if i > 0 else 0
        next_nw = nw[i + 1] if i + 1 < n else 0
        # Boilerpipe NumWordsRulesClassifier decision tree (WSDM'10),
        # inlined over scalar features
        if ld[i] > 0.333333:
            keep = False
        elif prev_ld <= 0.555556:
            if nw[i] <= 16:
                keep = prev_nw > 4 if next_nw <= 15 else True
            else:
                keep = True
        else:
            keep = next_nw > 17 if nw[i] <= 40 else True
        flags.append(keep)
    return flags


def extract_blocks(html: str, use_scanner: bool = True):
    """Parse HTML → list of (text, num_words, link_density, is_content)."""
    blocks = _scan_blocks(html) if use_scanner else _parser_blocks(html)
    return [
        (b.text, b.num_words, b.link_density, keep)
        for b, keep in zip(blocks, _keep_flags(blocks))
    ]


def extract_block_spans(html: str):
    """Parse HTML → list of (start, end, num_words, link_density,
    is_content) — the char-offset map of the block segmentation over
    the DECODED html string (the north-rule "spans per document"
    surface). A block's span runs from the first char of its first
    contributing text chunk to the last char of its last (chunk-level
    whitespace trimmed); inline markup between chunks — and any
    skipped script/style islands — lies inside the span. Invariant
    (pinned in tests): re-running the scanner on ``html[start:end]``
    reproduces the block's words exactly."""
    blocks = _scan_blocks(html)
    return [
        (b.span_start, b.span_end, b.num_words, b.link_density, keep)
        for b, keep in zip(blocks, _keep_flags(blocks))
    ]


def extract_main_content(html: str) -> str:
    """Main content of an HTML page: classified content blocks joined
    with newlines."""
    return "\n".join(text for text, _, _, keep in extract_blocks(html) if keep)


_TITLE_RE = _re.compile(r"<title[^>]*>(.*?)</title>", _re.IGNORECASE | _re.DOTALL)
_H1_RE = _re.compile(r"<h1[^>]*>(.*?)</h1>", _re.IGNORECASE | _re.DOTALL)
_STRIP_TAGS_RE = _re.compile(r"<[^>]*>")


def extract_title(html: str) -> str:
    """Document title: <title> if present, else first <h1>, tags
    stripped, whitespace collapsed."""
    for pat in (_TITLE_RE, _H1_RE):
        m = pat.search(html)
        if m:
            t = _STRIP_TAGS_RE.sub("", m.group(1))
            if _AMP in t:
                t = _html_mod.unescape(t)
            t = " ".join(t.split())
            if t:
                return t
    return ""


# --- charset handling -------------------------------------------------------

_META_CHARSET_RE = _re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", _re.IGNORECASE
)
_XML_ENC_RE = _re.compile(rb"""<\?xml[^>]+encoding\s*=\s*["']([A-Za-z0-9_\-]+)""")


def decode_html_payload(payload: bytes) -> str:
    """Bytes → str for web payloads: BOM, then <meta charset>/XML
    declaration (scanned in the first 2 KB, per the WHATWG prescan),
    then UTF-8; undecodable bytes are replaced, and a payload that is
    valid UTF-8 is never misdecoded by a lying meta tag."""
    if payload.startswith(b"\xef\xbb\xbf"):
        return payload[3:].decode("utf-8", errors="replace")
    if payload.startswith((b"\xff\xfe", b"\xfe\xff")):
        return payload.decode("utf-16", errors="replace")
    head = payload[:2048]
    m = _META_CHARSET_RE.search(head) or _XML_ENC_RE.search(head)
    if m:
        enc = m.group(1).decode("ascii", errors="replace").lower()
        if enc not in ("utf-8", "utf8"):
            try:
                return payload.decode(enc)
            except (LookupError, UnicodeDecodeError):
                pass
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        # last resort: latin-1 is total (every byte decodes)
        return payload.decode("latin-1")
