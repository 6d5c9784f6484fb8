"""Main-content extraction from HTML: block tree + density heuristics.

New code (nothing comparable exists in the reference repo, which only
handles image/PDF payloads).  The algorithm is a deterministic
re-implementation of the *published* boilerplate-removal family
(Readability / Boilerpipe / trafilatura-style):

1. parse HTML with stdlib ``html.parser`` (error-tolerant, no deps),
2. segment character data into *blocks* at block-level tag boundaries,
   skipping non-content subtrees (``script``/``style``/
   ``nav``/``footer``/... and class/id boilerplate markers),
3. score each block by text length and link density
   (chars inside ``<a>`` / total chars),
4. keep dense low-link blocks; keep headings and short blocks only when
   adjacent to kept content (quote/caption rescue),
5. join kept blocks with blank lines -> the extracted main text.

All thresholds are charset-agnostic (character counts, not word counts)
so CJK pages score the same way.  The function is pure and total: any
byte string in, deterministic text out; malformed HTML degrades to
whatever blocks the tolerant parser can recover.
"""

from __future__ import annotations

import re
from functools import lru_cache
from html import unescape
from typing import Any, Dict, List, Tuple

# Subtrees whose character data is never content.
SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "svg", "iframe", "object",
     "head", "button", "select", "option", "form", "nav", "footer",
     "aside", "figcaption"}
)

# Tags that terminate the current block.
BLOCK_TAGS = frozenset(
    {"p", "div", "article", "section", "main", "body", "header", "footer",
     "nav", "aside", "ul", "ol", "li", "table", "tr", "td", "th", "pre",
     "blockquote", "br", "h1", "h2", "h3", "h4", "h5", "h6", "figure",
     "figcaption", "dl", "dt", "dd", "hr"}
)

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
PRE_TAGS = frozenset({"pre", "td", "th", "li", "blockquote", "dt", "dd"})

# class/id substrings that mark boilerplate containers.
_BOILER_ATTR = re.compile(
    r"(?:^|[\s_-])(?:nav|menu|footer|sidebar|side-bar|comment|share|social"
    r"|advert|ads|banner|breadcrumb|cookie|promo|related|widget)(?:$|[\s_-])"
)

MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 0.35
SHORT_RESCUE_CHARS = 8


class Block:
    """One text block with the counters the classifier needs.

    ``text``/``link_density`` are computed once on first access and
    cached — the classifier and extractor read them several times per
    block, and the whitespace-normalization regex was a measurable
    slice of kernel CPU when recomputed each read.
    """

    __slots__ = ("tag", "chars", "link_chars", "in_boiler", "_text", "_density")

    def __init__(self, tag: str = "p", in_boiler: bool = False) -> None:
        self.tag = tag
        self.chars: List[str] = []
        self.link_chars = 0
        self.in_boiler = in_boiler
        self._text: str | None = None
        self._density: float | None = None

    @property
    def text(self) -> str:
        if self._text is None:
            # split()/join normalizes exactly like the previous
            # ``re.sub(r"\s+", " ", s).strip()`` (``\s`` and
            # ``str.isspace()`` agree on every codepoint — verified
            # exhaustively) at ~4x the speed
            self._text = " ".join("".join(self.chars).split())
        return self._text

    @property
    def link_density(self) -> float:
        if self._density is None:
            total = len("".join(self.chars).strip())
            self._density = (
                0.0 if total == 0 else min(1.0, self.link_chars / total)
            )
        return self._density


# One-pass tokenizer: comments / CDATA / declarations / PIs skipped,
# tags captured with (closing-slash, name, attrs).  Quoted attribute
# values may contain '>'.  A trailing '/' lands in the greedy attrs
# group, so ``<br/>`` and ``<script/>`` are plain start tags: like
# HTML5, which ignores the self-closing flag on non-void elements.
#
# Branch order (round 7): the TAG branch leads — it is by far the most
# common token, and the alternatives are mutually exclusive on the
# character after '<' ('!' / '?' vs '/'|letter), so reordering cannot
# change which branch matches at any position.  The attribute group is
# the standard unrolled-loop form ``[^>"']*(?:(?:"..."|'...')[^>"']*)*``
# — the same language as the per-char 3-way alternation it replaces,
# with one linear run over unquoted attr text instead of an alternation
# step per character.  Token streams (spans + groups) verified identical
# over the sf corpus + adversarial + random tag-soup inputs.
_TOKEN_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:_-]*)"
    r"([^>\"']*(?:(?:\"[^\"]*\"|'[^']*')[^>\"']*)*)>"
    r"|<!--.*?(?:-->|$)"
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>?"
    r"|<\?[^>]*>?",
    re.DOTALL,
)

# class/id/role attribute extraction.  The attribute NAME must be
# exactly class/id/role (preceded by whitespace/start) — a bare
# substring match would also hit data-track-id / data-testid etc. and
# falsely boilerplate real content.
_MARK_ATTR_RE = re.compile(
    r"(?:^|\s)(?:class|id|role)\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s\"'>]+)",
    re.IGNORECASE,
)

# Elements whose raw content HTMLParser treats as CDATA: everything up
# to the matching close tag is data, even if it contains '<'.
_RAWTEXT = ("script", "style", "textarea", "title")
_RAWTEXT_CLOSE = {t: re.compile(f"</{t}", re.IGNORECASE) for t in _RAWTEXT}

# Per-tag classification bitmask (round 7): ONE dict probe in the
# tokenizer loop replaces up to three frozenset/tuple membership tests
# per tag event (BLOCK_TAGS, SKIP_TAGS, the linear _RAWTEXT tuple scan)
# — the sets above remain the source of truth and build the table.
_F_BLOCK, _F_SKIP, _F_RAWTEXT, _F_LINK = 1, 2, 4, 8
_TAG_FLAGS: Dict[str, int] = {}
for _t in BLOCK_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BLOCK
for _t in SKIP_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_SKIP
for _t in _RAWTEXT:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_RAWTEXT
_TAG_FLAGS["a"] = _TAG_FLAGS.get("a", 0) | _F_LINK
del _t


@lru_cache(maxsize=4096)
def _is_boiler(attr_text: str) -> bool:
    """Whether a tag's attribute text marks it as boilerplate.

    Pure function of the attr string, called once per start tag; web
    templates repeat the same class/id combinations across millions of
    pages, so a bounded LRU cache replaces the two regex passes with a
    dict hit on the hot path (the bound caps memory on adversarial
    all-unique-attrs input).
    """
    if not attr_text:
        return False
    for m in _MARK_ATTR_RE.finditer(attr_text):
        value = m.group(1).strip("\"'").lower()
        if _BOILER_ATTR.search(value):
            return True
    return False


def parse_blocks(html_text: str) -> List[Block]:
    """HTML string -> flat list of non-empty text blocks (one regex pass).

    The tag-event consumer is INLINED into the tokenizer loop with all
    parser state (depth counters, tag stack, current block) in locals —
    this is the hot ~93% of extraction-kernel CPU at bench scale, and
    the previous shape (a ``_BlockBuilder`` class receiving
    start/end/data events) spent a measured ~20% of parse time on
    method dispatch plus ``self`` attribute traffic for those counters.
    Event semantics are unchanged and pinned by a differential gate
    (0 mismatches over the full sf0.1 corpus + adversarial/malformed +
    3,000 random tag-soup inputs against the event-based version):

    * ``start(tag)``  — push (tag, skip?, boiler?), bump depths, flush
      the current block when ``tag`` is block-level.
    * ``end(tag)``    — pop the nearest matching open tag (single-pop
      fast path when the top matches, i.e. well-formed HTML; otherwise
      scan down and implicitly close everything above the match),
      un-bump depths, flush on block-level tags.
    * ``data(raw)``   — outside skip subtrees, append the (unescaped)
      text to the current block, counting link chars while inside
      ``<a>``.

    Tokens are consumed via one ``finditer`` sweep; after a rawtext
    (script/style/textarea/title) element the stream is RESTARTED at
    the position past the close tag — a plain finditer would diverge
    from per-call ``search(pos)`` when a comment/CDATA token starts
    inside the rawtext body and ends beyond its close tag.  The rawtext
    path also elides the stack push/pop pair: the close immediately
    follows the just-pushed open (nothing can intervene), and no
    rawtext tag is in BLOCK_TAGS, so only the skip/boiler depth bumps
    are observable while its body is consumed.

    Second micro-pass (round 7b follow-up), all pinned by the same
    differential gate (0 mismatches, sf corpus + adversarial + seeded
    tag soup): tag classification is ONE ``_TAG_FLAGS`` probe (bitmask)
    instead of three set/tuple membership tests; the ``islower()``
    lowercase guard runs only on a flags-dict miss (every known-vocab
    lowercase tag — the overwhelming case — skips it, and unknown tags
    pay it exactly as before); and the well-formed end-tag fast path
    pops first and re-pushes only on a mismatch (end tags are ~half of
    all tag events, and real-world HTML closes the top of stack).
    """
    blocks: List[Block] = []
    cur = Block()
    skip_depth = 0
    boiler_depth = 0
    link_depth = 0
    tag_stack: List[Tuple[str, bool, bool]] = []
    flags_get = _TAG_FLAGS.get
    try:
        pos = 0
        n = len(html_text)
        finditer = _TOKEN_RE.finditer
        stack_append = tag_stack.append
        stack_pop = tag_stack.pop
        scanning = True
        while scanning:
            scanning = False
            for m in finditer(html_text, pos):
                ms, me = m.span()
                if ms > pos and skip_depth == 0:
                    # ---- data(text between tokens) ----
                    raw = html_text[pos:ms]
                    if "&" in raw:
                        raw = unescape(raw)
                    if boiler_depth > 0:
                        cur.in_boiler = True
                    cur.chars.append(raw)
                    if link_depth > 0:
                        cur.link_chars += len(raw.strip())
                pos = me
                closing, tag, attr_text = m.groups()
                if tag is None:
                    continue  # comment / CDATA / declaration / PI
                fl = flags_get(tag)
                if fl is None:
                    # dict miss: unknown tag, or known vocab in upper/
                    # mixed case — only here does the lowercase guard run
                    if not tag.islower():
                        tag = tag.lower()
                        fl = flags_get(tag, 0)
                    else:
                        fl = 0
                if closing:
                    # ---- end(tag) ----
                    if tag_stack:
                        # well-formed fast path: pop first, re-push on
                        # mismatch (real-world HTML closes top-of-stack)
                        t, s, b = stack_pop()
                        if t == tag:
                            if s:
                                skip_depth -= 1
                            if b:
                                boiler_depth -= 1
                            if t == "a":
                                link_depth -= 1
                        else:
                            stack_append((t, s, b))
                            match = -1
                            for i in range(len(tag_stack) - 2, -1, -1):
                                if tag_stack[i][0] == tag:
                                    match = i
                                    break
                            if match >= 0:
                                # everything above the match is
                                # implicitly closed
                                for _ in range(len(tag_stack) - match):
                                    t, s, b = stack_pop()
                                    if s:
                                        skip_depth -= 1
                                    if b:
                                        boiler_depth -= 1
                                    if t == "a":
                                        link_depth -= 1
                    if fl & _F_BLOCK:
                        # ---- flush(next_tag="p") ----
                        if cur.chars:
                            if cur.text:
                                blocks.append(cur)
                            cur = Block(tag="p", in_boiler=boiler_depth > 0)
                        else:
                            # empty: reuse the block in place — flushes
                            # per tag event vastly outnumber text-
                            # bearing blocks
                            cur.tag = "p"
                            cur.in_boiler = boiler_depth > 0
                elif not fl & _F_RAWTEXT:
                    # ---- start(tag, attrs) ----
                    skip = fl & _F_SKIP
                    # short-circuit the (lru-cached) attr classifier for
                    # attr-less tags — the common case — before paying
                    # the call + cache probe
                    boiler = bool(attr_text) and _is_boiler(attr_text)
                    stack_append((tag, bool(skip), boiler))
                    if skip:
                        skip_depth += 1
                    if boiler:
                        boiler_depth += 1
                    if fl & _F_LINK:
                        link_depth += 1
                    if fl & _F_BLOCK:
                        if cur.chars:
                            if cur.text:
                                blocks.append(cur)
                            cur = Block(tag=tag, in_boiler=boiler_depth > 0)
                        else:
                            cur.tag = tag
                            cur.in_boiler = boiler_depth > 0
                else:
                    # rawtext element: consume to the matching close tag
                    skip = bool(fl & _F_SKIP)
                    boiler = bool(attr_text) and _is_boiler(attr_text)
                    if skip:
                        skip_depth += 1
                    if boiler:
                        boiler_depth += 1
                    c = _RAWTEXT_CLOSE[tag].search(html_text, pos)
                    raw = (
                        html_text[pos:] if c is None
                        else html_text[pos:c.start()]
                    )
                    if raw and skip_depth == 0:
                        # ---- data(rawtext body) ----
                        if "&" in raw:
                            raw = unescape(raw)
                        if boiler_depth > 0:
                            cur.in_boiler = True
                        cur.chars.append(raw)
                        if link_depth > 0:
                            cur.link_chars += len(raw.strip())
                    if c is None:
                        # unterminated: the element stays open to EOF
                        stack_append((tag, skip, boiler))
                        pos = n
                    else:
                        if skip:
                            skip_depth -= 1
                        if boiler:
                            boiler_depth -= 1
                        pos = html_text.find(">", c.start())
                        pos = n if pos == -1 else pos + 1
                        scanning = True  # restart match stream at pos
                    break
        if pos < n and skip_depth == 0:
            # ---- data(tail after the last token) ----
            raw = html_text[pos:]
            if "&" in raw:
                raw = unescape(raw)
            if boiler_depth > 0:
                cur.in_boiler = True
            cur.chars.append(raw)
            if link_depth > 0:
                cur.link_chars += len(raw.strip())
        # ---- final flush ----
        if cur.chars and cur.text:
            blocks.append(cur)
    except Exception:
        # total determinism beats perfection: return whatever flushed
        pass
    return blocks


def classify_blocks(blocks: List[Block]) -> List[bool]:
    """Density classification + neighbor rescue, in two deterministic passes."""
    keep = []
    for b in blocks:
        text = b.text
        if b.in_boiler:
            keep.append(False)
        elif b.tag in HEADING_TAGS:
            keep.append(bool(text) and b.link_density < 0.66)
        elif b.tag in PRE_TAGS:
            keep.append(len(text) >= 10 and b.link_density <= 0.25)
        else:
            keep.append(
                len(text) >= MIN_CONTENT_CHARS
                and b.link_density <= MAX_LINK_DENSITY
            )
    # Rescue pass: short low-link blocks flanked by kept content.
    rescued = list(keep)
    for i, b in enumerate(blocks):
        if keep[i] or b.in_boiler:
            continue
        if len(b.text) < SHORT_RESCUE_CHARS or b.link_density > MAX_LINK_DENSITY:
            continue
        prev_kept = any(keep[j] for j in range(max(0, i - 1), i))
        next_kept = any(keep[j] for j in range(i + 1, min(len(blocks), i + 2)))
        if prev_kept and next_kept:
            rescued[i] = True
    return rescued


def extract_main_content(html_bytes: bytes | str) -> Tuple[str, List[Dict[str, Any]]]:
    """Full pipeline: bytes -> (main text, span dicts).

    Spans reuse the reference element schema (id/type/bboxes/text) with
    empty bboxes — HTML has no pixel geometry; ``type`` is the source
    block tag.
    """
    if isinstance(html_bytes, bytes):
        html_text = html_bytes.decode("utf-8", errors="replace")
    else:
        html_text = html_bytes
    blocks = parse_blocks(html_text)
    keep = classify_blocks(blocks)

    texts: List[str] = []
    spans: List[Dict[str, Any]] = []
    idx = 0
    for b, k in zip(blocks, keep):
        if not k:
            continue
        texts.append(b.text)
        spans.append(
            {
                "id": idx,
                "type": b.tag,
                "bbox_normalized": [],
                "bbox_pixels": [],
                "text": b.text,
            }
        )
        idx += 1
    return "\n\n".join(texts), spans
