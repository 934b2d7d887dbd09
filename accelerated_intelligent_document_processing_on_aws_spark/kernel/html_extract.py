"""HTML main-content extraction: tag-stream scan + density heuristics.

Analog of the reference's OCR text parse (Textract blocks → reading
ordered markdown, ``lib/idp_common_pkg/idp_common/ocr/service.py:1603-1675``)
restated for HTML transcript payloads.  No DOM is built: one regex
split cuts the document into tags and text runs, a tag stack groups the
runs into leaf blocks (entities decoded per run with ``html.unescape``),
each block is scored with text-density and link-density heuristics
(Kohlschuetter-style boilerplate detection), blocks under boilerplate
containers (nav/header/footer/aside, ad/sidebar class hints) are
dropped, and the main content is emitted as newline-joined block texts
plus per-block spans.

Pure function of the input string — no globals, no locale, no
wall-clock — so Spark partitioning cannot perturb the output.
"""

from __future__ import annotations

import re
from operator import length_hint

# Subtrees dropped entirely (never contribute text).
_DROP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "iframe", "svg", "head", "title"}
)
# Structural containers that are boilerplate by tag semantics.
_BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside"})
# class/id hints that mark a container as boilerplate.
_BOILERPLATE_HINT = re.compile(
    r"(?:^|[\s_-])(?:ad|ads|advert\w*|banner|sidebar|menu|nav|footer|header|promo|"
    r"cookie|popup|social|share|breadcrumb|related)(?:$|[\s_-])",
    re.IGNORECASE,
)
# Elements that terminate/open a leaf block.
_BLOCK_TAGS = frozenset(
    {
        "article", "section", "div", "p", "li", "ul", "ol", "h1", "h2", "h3",
        "h4", "h5", "h6", "table", "tr", "td", "th", "blockquote", "pre",
        "main", "figure", "figcaption", "br",
    }
)

_WS = re.compile(r"\s+")

# Tuning constants for the keep/drop decision (fixed — part of the
# kernel contract; goldens depend on them).
MAX_LINK_DENSITY = 0.33
MIN_BLOCK_CHARS = 10
MIN_TEXT_DENSITY = 8.0  # chars of text per descendant element


class _Block:
    __slots__ = ("tag", "parts", "link_chars", "n_elems", "boiler")

    def __init__(self, tag: str, boiler: bool) -> None:
        self.tag = tag
        self.parts: list[str] = []
        self.link_chars = 0
        self.n_elems = 1
        self.boiler = boiler

    def text(self) -> str:
        # " ".join(split()) is byte-equivalent to _WS.sub(" ", s).strip()
        # (verified over every codepoint: str.split() and \s agree on
        # the whitespace set) and ~3× faster — this collapse is the
        # single hottest string op on the 100 TB path.
        return " ".join("".join(self.parts).split())


# tag → (drop, boiler, block): ONE dict lookup in the hot handler
# instead of three frozenset probes (tag classes are disjoint).
_TAG_INFO: dict = {}
for _t in _DROP_TAGS:
    _TAG_INFO[_t] = (True, False, False)
for _t in _BOILERPLATE_TAGS:
    _TAG_INFO[_t] = (False, True, False)
for _t in _BLOCK_TAGS:
    _TAG_INFO[_t] = (False, False, True)
_NO_INFO = (False, False, False)


import html as _html_mod

_FAST_TAG = re.compile(
    r"<(?:"
    r"!--.*?-->"                      # comment
    r"|![^>]*>"                       # doctype
    r"|\?[^>]*>"                      # processing instruction
    r"|(/?)([a-zA-Z][a-zA-Z0-9:-]*)"  # 1=end-slash 2=tag name
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*?)"  # 3=attr blob
    r"(/?)>"                          # 4=self-closing slash
    r")",
    re.DOTALL,
)
_FAST_ATTR = re.compile(r"""(class|id)\s*=\s*(?:"([^"]*)"|'([^']*)'|(\S+))""", re.IGNORECASE)
# raw-text tag → (match of a tag body that closes it, search for its
# close tag); ASCII-only case folding keeps offsets into the document
_RAWTEXT = {
    t: (re.compile("/" + t, re.I | re.A).match, re.compile("</" + t, re.I | re.A).search)
    for t in ("script", "style")
}
# the reference's raw-tag-name memo: name-as-written → (tag, drop,
# boiler, block, entry) where entry is the premade stack tuple (tag,
# boiler, drop, block) for the no-attr-hint case.
_TAG_META: dict = {}


def _scan_blocks_ref(html: str) -> list[_Block]:
    """Reference tokenizer: single fused regex pass + block builder.

    A position-driven ``search`` loop; inter-match slices are data (an
    unmatched '<' stays inside its data slice — output is
    concatenation-equivalent, and entities never span a '<' so
    per-slice unescape is unaffected).  After a raw-text skip the
    search RESUMES at the character after the closing tag, so a quoted
    attribute inside script content can never swallow tags beyond the
    script's end (the old ``finditer`` + lt<pos-skip form had exactly
    that artifact — a match starting inside the skipped region consumed
    text past it; hypothesis found the divergence).
    This is the SEMANTIC DEFINITION of the scan; :func:`_scan_blocks`
    is the split-driven fast twin, gated by equivalence tests
    (tests/test_tokenizer_equiv.py, tests/test_tokenizer_recovery.py)
    on fixture + adversarial + random + structured-nested inputs.
    Block semantics are pinned by the kernel snapshot test
    (tests/test_kernel.py)."""
    blocks: list[_Block] = []
    drop_depth = boiler_depth = link_depth = 0
    cur: _Block | None = None
    stack: list[tuple] = []
    pos = 0
    n = len(html)
    unescape = _html_mod.unescape
    tag_info = _TAG_INFO.get

    def _end(tag: str) -> None:
        nonlocal drop_depth, boiler_depth, link_depth, cur
        # unwind to the matching open tag (HTML is forgiving)
        while stack:
            t, b, d, blk = stack.pop()
            if d:
                if drop_depth:
                    drop_depth -= 1
            else:
                if b and boiler_depth:
                    boiler_depth -= 1
                if t == "a" and link_depth:
                    link_depth -= 1
                if blk:
                    cur = None
            if t == tag:
                break

    tm = _TAG_META  # shared raw-name memo (tag vocabulary is tiny)
    search = _FAST_TAG.search
    m = search(html, 0)
    while m:
        lt, mend = m.span()
        if lt > pos and not drop_depth:
            data = html[pos:lt]
            if "&" in data:
                data = unescape(data)
            if data:
                if cur is None:
                    cur = _Block("p", boiler_depth > 0)
                    blocks.append(cur)
                cur.parts.append(data)
                if link_depth:
                    cur.link_chars += len(data.strip())
        pos = mend
        end_slash, name, blob, self_close = m.group(1, 2, 3, 4)
        if name is None:  # comment/doctype/PI
            m = search(html, pos)
            continue
        meta = tm.get(name)
        if meta is None:
            tag = name.lower()
            drop, boiler0, block = tag_info(tag, _NO_INFO)
            meta = (tag, drop, boiler0, block, (tag, boiler0, drop, block))
            if len(tm) < 4096:  # bound the memo on adversarial input
                tm[name] = meta
        if end_slash:
            tag = meta[0]
            # well-nested fast path: the end tag matches the stack top —
            # handle inline (one pop) instead of the unwind-call; ~97%
            # of end tags in real HTML take this branch
            if stack and stack[-1][0] == tag:
                t, b, d, blk = stack.pop()
                if d:
                    if drop_depth:
                        drop_depth -= 1
                else:
                    if b and boiler_depth:
                        boiler_depth -= 1
                    if t == "a" and link_depth:
                        link_depth -= 1
                    if blk:
                        cur = None
            else:
                _end(tag)
            m = search(html, pos)
            continue
        tag, drop, boiler, block, entry = meta
        if (
            blob
            and not boiler
            and ("class" in blob or "id" in blob or "ID" in blob or "CLASS" in blob)
        ):
            attr_text = " ".join(
                (am.group(2) or am.group(3) or am.group(4) or "")
                for am in _FAST_ATTR.finditer(blob)
            )
            if attr_text and _BOILERPLATE_HINT.search(attr_text):
                boiler = True
                entry = (tag, True, drop, block)
        stack.append(entry)
        if drop:
            drop_depth += 1
        else:
            if boiler:
                boiler_depth += 1
            if tag == "a":
                link_depth += 1
            if block:
                if tag == "br":
                    cur = None
                else:
                    cur = _Block(tag, boiler_depth > 0)
                    blocks.append(cur)
            elif cur is not None:
                cur.n_elems += 1
        if self_close:
            _end(tag)
        elif tag in _RAWTEXT:
            # raw-text elements: skip to the closing tag verbatim
            close = _RAWTEXT[tag][1](html, pos)
            if close is None:
                return blocks  # unterminated raw-text: drop the tail
            gt = html.find(">", close.start())
            _end(tag)
            pos = n if gt < 0 else gt + 1
        m = search(html, pos)
    if pos < n and not drop_depth:
        data = html[pos:]
        if "&" in data:
            data = unescape(data)
        if data:
            if cur is None:
                cur = _Block("p", boiler_depth > 0)
                blocks.append(cur)
            cur.parts.append(data)
            if link_depth:
                cur.link_chars += len(data.strip())
    return blocks


# One capturing group holds a token's whole body, so ``re.split`` returns
# a document as [data, body, data, body, ..., data] from one C call and a
# token spans len(body) + 2 characters.  The alternatives and their order
# are _FAST_TAG's, except that a tag body runs to the first '>': the
# scanner checks its quotes (``_decode``).
_SPLIT = re.compile(r"<(/?[a-zA-Z][^>]*|!--.*?--|![^>]*|\?[^>]*)>", re.DOTALL).split
_NAME_PREFIX = re.compile(r"[a-zA-Z][a-zA-Z0-9:-]*")
# tag body → its decoded action: the tag for an end tag, else the
# COMPLETE open decision (tag, drop, boiler-with-attr-hint, block, stack
# entry, self_close, raw-text patterns or None).
# Real corpora repeat a small set of templated tags (class attrs
# included), so a token costs one dict probe; the attr regex and the
# boilerplate-hint search run once per distinct tag string.  Comments,
# doctypes and PIs (action "") are not stored: they are often unique
# and ``_decode`` settles them with a one-character check.
_OPEN_MEMO: dict = {}


def _decode(body: str):
    """The action of one token body, or None where only the reference
    grammar can decide: mixed or odd quotes (a quoted '>' extends the
    tag, an unterminated quote voids it).  Balanced same-kind quotes can
    do neither, since the body holds no '>'."""
    if body[0] in "!?":
        return ""
    dq, sq = body.count('"'), body.count("'")
    if (dq and sq) or dq % 2 or sq % 2:
        return None
    end = body[0] == "/"
    m = _NAME_PREFIX.match(body, end)
    tag = m.group().lower()
    if end:
        return tag
    drop, boiler, block = _TAG_INFO.get(tag, _NO_INFO)
    rest = body[m.end() :]
    self_close = rest.endswith("/")
    blob = rest[:-1] if self_close else rest
    if (
        blob
        and not boiler
        and ("class" in blob or "id" in blob or "ID" in blob or "CLASS" in blob)
    ):
        attr_text = " ".join(
            (am.group(2) or am.group(3) or am.group(4) or "")
            for am in _FAST_ATTR.finditer(blob)
        )
        boiler = bool(attr_text and _BOILERPLATE_HINT.search(attr_text))
    raw = None if self_close else _RAWTEXT.get(tag)
    return (tag, drop, boiler, block, (tag, boiler, drop, block), self_close, raw)


def _scan_blocks(html: str) -> list[_Block]:
    """Split-driven tokenizer: byte-equivalent fast twin of
    :func:`_scan_blocks_ref`.

    One ``re.split`` yields the document's (tag body, data) stream and
    one ``_OPEN_MEMO`` probe decodes each token.  A raw-text element
    whose text holds no '<' closes at the next token; otherwise its
    close tag is found as the reference finds it and the scan resumes
    at the token that ends there (only a comment straddling the close
    tag makes it split the tail again), so a page costs one pass over
    its tokens however many scripts it holds.  A tag whose quotes only
    the reference grammar can resolve sends the whole document to
    :func:`_scan_blocks_ref`.
    Equivalence is CI-gated over the fixture corpus, adversarial cases
    and random tag soup (tests/test_tokenizer_equiv.py,
    tests/test_tokenizer_recovery.py)."""
    blocks: list[_Block] = []
    drop_depth = boiler_depth = link_depth = 0
    cur: _Block | None = None
    stack: list[tuple] = []
    unescape = _html_mod.unescape
    memo = _OPEN_MEMO
    get = memo.get

    def _end(tag: str) -> None:
        nonlocal drop_depth, boiler_depth, link_depth, cur
        while stack:
            t, b, d, blk = stack.pop()
            if d:
                if drop_depth:
                    drop_depth -= 1
            else:
                if b and boiler_depth:
                    boiler_depth -= 1
                if t == "a" and link_depth:
                    link_depth -= 1
                if blk:
                    cur = None
            if t == tag:
                break

    toks, ck_off = _SPLIT(html), 0
    while toks:
        seg, toks = toks, None
        seg.insert(0, "!")  # a doctype body makes the leading data a pair's data
        it = iter(seg)
        pairs = zip(it, it)
        ck = 1  # seg[ck] is a data run that starts at html[ck_off]
        for body, data in pairs:
            act = get(body)
            if act is None:
                act = _decode(body)
                if act is None:
                    return _scan_blocks_ref(html)
                if act and len(memo) < 4096:  # bound the memo on adversarial input
                    memo[body] = act
            if type(act) is tuple:
                tag, drop, boiler, block, entry, self_close, raw = act
                stack.append(entry)
                if drop:
                    drop_depth += 1
                else:
                    if boiler:
                        boiler_depth += 1
                    if tag == "a":
                        link_depth += 1
                    if block:
                        if tag == "br":
                            cur = None
                        else:
                            cur = _Block(tag, boiler_depth > 0)
                            blocks.append(cur)
                    elif cur is not None:
                        cur.n_elems += 1
                if self_close:
                    _end(tag)
                elif raw:
                    # raw text: skip to the close tag verbatim
                    i = len(seg) - length_hint(it)  # seg index of the next body
                    if "<" not in data and i < len(seg) and raw[0](seg[i]):
                        _end(tag)
                        data = next(pairs)[1]
                    else:
                        # offset of this data run: every body since seg[ck]
                        # also spans its '<' and '>'
                        pos = ck_off + sum(map(len, seg[ck : i - 1])) + i - 1 - ck
                        close = raw[1](html, pos)
                        if close is None:
                            return blocks  # unterminated raw-text: drop the tail
                        gt = html.find(">", close.start()) + 1
                        _end(tag)
                        if not gt:
                            return blocks
                        # resume at the token that ends where the close tag
                        # does; split the tail again if a comment straddles it
                        q = pos + len(data)
                        for body, data in pairs:
                            q += len(body) + 2
                            if q >= gt:
                                break
                            q += len(data)
                        if q != gt:
                            toks, ck_off = _SPLIT(html[gt:]), gt
                            break
                        ck, ck_off = len(seg) - length_hint(it) - 1, gt
            elif act:
                # well-nested fast path: the end tag matches the stack top —
                # handle inline (one pop) instead of the unwind-call; ~97%
                # of end tags in real HTML take this branch
                if stack and stack[-1][0] == act:
                    t, b, d, blk = stack.pop()
                    if d:
                        if drop_depth:
                            drop_depth -= 1
                    else:
                        if b and boiler_depth:
                            boiler_depth -= 1
                        if t == "a" and link_depth:
                            link_depth -= 1
                        if blk:
                            cur = None
                else:
                    _end(act)
            if data and not drop_depth:
                if "&" in data:
                    data = unescape(data)
                if data:
                    if cur is None:
                        cur = _Block("p", boiler_depth > 0)
                        blocks.append(cur)
                    cur.parts.append(data)
                    if link_depth:
                        cur.link_chars += len(data.strip())
    return blocks


def strip_boilerplate(html: str) -> tuple[str, list[tuple[int, int, str, float]]]:
    """Extract main content from an HTML payload.

    Returns ``(text, spans)`` where ``spans`` is a list of
    ``(start, end, kind, conf)`` character spans into ``text`` — one per
    kept block, ``kind`` = the block's tag, ``conf`` derived from link
    density (cleaner blocks score higher).
    """
    try:
        blocks = _scan_blocks(html)
    except Exception:
        # Malformed HTML: fall back to tag-stripped text, mirroring the
        # reference's parse fallback chain (ocr/service.py:1649-1673).
        plain = _WS.sub(" ", re.sub(r"<[^>]+>", " ", html)).strip()
        return plain, ([(0, len(plain), "fallback", 0.5)] if plain else [])

    kept: list[tuple[str, str, float]] = []  # (text, kind, conf)
    for b in blocks:
        if b.boiler:  # cheap flag first: skip the whitespace-collapse
            continue  # regex on blocks that can never be kept
        t = b.text()
        if not t or len(t) < MIN_BLOCK_CHARS:
            continue
        link_density = b.link_chars / max(len(t), 1)
        text_density = len(t) / max(b.n_elems, 1)
        if link_density > MAX_LINK_DENSITY or text_density < MIN_TEXT_DENSITY:
            continue
        conf = round(min(0.99, 0.6 + 0.39 * (1.0 - link_density)), 4)
        kept.append((t, b.tag, conf))

    spans: list[tuple[int, int, str, float]] = []
    pos = 0
    out: list[str] = []
    for t, kind, conf in kept:
        out.append(t)
        spans.append((pos, pos + len(t), kind, conf))
        pos += len(t) + 1  # newline separator
    return "\n".join(out), spans
