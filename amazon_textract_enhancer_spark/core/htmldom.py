"""D2/D3/D4 — HTML DOM parse + text/link-density boilerplate removal.

Replaces the Textract ML model for markup payloads with deterministic
DOM-tree text-density heuristics (Boilerpipe-style: Kohlschuetter et al.,
WSDM'10 "Boilerplate Detection using Shallow Text Features"; jusText).
Reference behavior basis: BASELINE.json:6 ("strip HTML boilerplate via
DOM-tree text-density heuristics (tag-depth/link-density scoring over a
parsed node table)").

Parser is stdlib ``html.parser`` (no lxml/bs4 in the environment —
SURVEY.md §0). The node table produced here is *also* the relational
NODE schema (SURVEY.md §1.4): the density classification is defined as
pure per-node arithmetic + a group-by over ``block_id`` so the exact
same rule is re-expressible as Catalyst-planned DataFrame ops
(``operators/relational.py``) — no hidden imperative state.

Model
-----
- Every element gets a preorder ``node_id``; every contiguous run of
  character data becomes a synthetic ``#text`` node so document order
  of mixed inline content (``<p>foo <a>x</a> bar</p>``) is preserved.
- ``block_id`` = node_id of the nearest block-level ancestor element.
  Text nodes aggregate to their block: a *text block* is the unit of
  classification, as in Boilerpipe.
- A block is **content** iff it is not inside a dropped subtree
  (script/style/nav/... — DROP_TAGS), has at least MIN_CONTENT_CHARS
  characters, and link_density <= MAX_LINK_DENSITY.
- Extracted main text = content block texts in document order joined
  by ``"\\n"``.
"""

from __future__ import annotations

import re
from html import parser as _hp
from html import unescape as _unescape
from html.parser import HTMLParser

# --- classification constants (mirrored in operators/relational.py) ---
MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 0.35
WRAP_COLS = 80  # virtual line width for text_density

DROP_TAGS = frozenset(
    {
        "script",
        "style",
        "nav",
        "header",
        "footer",
        "aside",
        "form",
        "noscript",
        "template",
        "head",
        "title",
        "button",
        "select",
        "option",
        "iframe",
        "svg",
    }
)

# Non-inline elements: a text chunk belongs to its nearest such ancestor.
BLOCK_TAGS = frozenset(
    {
        "html",
        "body",
        "div",
        "p",
        "li",
        "td",
        "th",
        "tr",
        "table",
        "ul",
        "ol",
        "dl",
        "dt",
        "dd",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "main",
        "article",
        "section",
        "nav",
        "header",
        "footer",
        "aside",
        "blockquote",
        "pre",
        "form",
        "figure",
        "figcaption",
        "caption",
        "address",
        "fieldset",
        "legend",
    }
)

VOID_TAGS = frozenset(
    {
        "br",
        "img",
        "input",
        "meta",
        "link",
        "hr",
        "area",
        "base",
        "col",
        "embed",
        "source",
        "track",
        "wbr",
    }
)


class _NodeCollector(HTMLParser):
    """Streams tags/text into a flat node table (one pass, O(n))."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.nodes: list[dict] = []
        # stack entries:
        # (node_id, tag, depth, block_id, dropped, in_link, in_table)
        self._stack: list[tuple[int, str, int, int, bool, bool, bool]] = []
        self._next_id = 0

    # -- helpers -------------------------------------------------------
    def _top(self):
        if self._stack:
            return self._stack[-1]
        return (-1, "", -1, -1, False, False, False)

    def _emit(self, tag: str, text: str, parent_id: int, depth: int,
              block_id: int, dropped: bool, in_link: bool,
              in_table: bool) -> int:
        nid = self._next_id
        self._next_id += 1
        n_chars = len(text)
        self.nodes.append(
            {
                "node_id": nid,
                "parent_id": parent_id,
                "depth": depth,
                "tag": tag,
                "text": text,
                "n_chars": n_chars,
                "n_link_chars": n_chars if in_link else 0,
                "block_id": block_id,
                "in_dropped": dropped,
                "in_table": in_table,
            }
        )
        return nid

    # -- HTMLParser callbacks ------------------------------------------
    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        pid, _ptag, pdepth, pblock, pdropped, plink, ptable = self._top()
        depth = pdepth + 1
        dropped = pdropped or tag in DROP_TAGS
        in_link = plink or tag == "a"
        in_table = ptable or tag == "table"
        nid = self._emit(tag, "", pid, depth, pblock, dropped, in_link, in_table)
        block_id = nid if tag in BLOCK_TAGS else pblock
        if tag not in VOID_TAGS:
            self._stack.append((nid, tag, depth, block_id, dropped, in_link, in_table))

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        pid, _ptag, pdepth, pblock, pdropped, plink, ptable = self._top()
        self._emit(tag, "", pid, pdepth + 1, pblock, pdropped,
                   plink or tag == "a", ptable)

    def handle_endtag(self, tag):
        tag = tag.lower()
        # pop to the matching open tag if present; tolerate malformed HTML
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][1] == tag:
                del self._stack[i:]
                return

    def handle_data(self, data):
        text = " ".join(data.split())
        if not text:
            return
        pid, _ptag, pdepth, pblock, pdropped, plink, ptable = self._top()
        self._emit("#text", text, pid, pdepth + 1, pblock, pdropped, plink, ptable)


# --- fast tokenizer path ----------------------------------------------
# html.parser is the extraction hot path (58% of extract_turn in the
# in-sandbox profile): its goahead() pays streaming bookkeeping
# (buffer-boundary states, updatepos line counting, per-construct
# attribute dicts) that a whole-string parse never needs. _fast_nodes is
# a single-pass scanner over the complete document that mirrors
# goahead(end=1) + close() semantics EXACTLY for the callback subset
# _NodeCollector consumes (start/startend/end tags, character data with
# convert_charrefs=True; attrs are discarded by the collector). It
# reuses the stdlib's own tolerant regexes, so tag/attribute boundary
# decisions are byte-identical, and it bails (returns None) on the one
# construct it does not reimplement — `<![` marked sections — where
# parse_html_nodes reruns the stdlib parser from scratch. Equality with
# the stdlib stream is pinned per-construct, corpus-wide, and
# property-tested in tests/test_fast_html.py.
_CDATA_END_RX = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}
_ASCII_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
# One-regex shortcuts for attribute-less tags (the overwhelmingly
# common case): each is a STRICT SUBSET of the construct the general
# path (and the stdlib) accepts, so a match here provably lands in the
# same handle_{starttag,startendtag,endtag} call with the same end
# position — names are plain alnum (no [-.:_] specials, no attrs, no
# embedded NULs), so locatestarttagend/tagfind/attrfind would consume
# exactly the same span with an empty attr list.
_SIMPLE_START = re.compile(r"<([a-zA-Z][a-zA-Z0-9]*)\s*(/?)>")
_SIMPLE_END = re.compile(r"</([a-zA-Z][a-zA-Z0-9]*)\s*>")
# stdlib check_for_whole_start_tag's "end of input in or before
# attribute value" character set, verbatim (html/parser.py:367)
_STARTTAG_AMBIG = "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _fast_nodes(s: str) -> list[dict] | None:
    """Tokenize AND build the node table in one pass over the whole
    string; None = bail to the stdlib parser (marked sections). The
    tokenizer branches mirror specific stdlib code paths — cited inline
    as parser.py:<line> (CPython 3.11); the node-building inlines
    _NodeCollector's callbacks (tag-stack semantics identical; the
    per-call indirection was ~40% of the fast path in profile). Byte
    equality of the resulting node stream with the stdlib path is
    pinned per-construct, corpus-wide, and property-tested in
    tests/test_fast_html.py."""
    locatestart = _hp.locatestarttagend_tolerant.match
    tagfind = _hp.tagfind_tolerant.match
    attrfind = _hp.attrfind_tolerant.match
    endtagfind = _hp.endtagfind.match
    commentclose = _hp.commentclose.search
    find = s.find
    startswith = s.startswith
    n = len(s)
    i = 0
    cdata: str | None = None
    nodes: list[dict] = []
    append = nodes.append
    # stack entries: (node_id, tag, depth, block_id, dropped, in_link, in_table)
    stack: list[tuple[int, str, int, int, bool, bool, bool]] = []
    next_id = 0
    block_tags = BLOCK_TAGS
    drop_tags = DROP_TAGS
    void_tags = VOID_TAGS

    def emit_data(data: str) -> None:
        # _NodeCollector.handle_data: whitespace-collapse, skip empties
        nonlocal next_id
        text = " ".join(data.split())
        if not text:
            return
        if stack:
            pid, _t, pdepth, pblock, pdropped, plink, ptable = stack[-1]
        else:
            pid, pdepth, pblock, pdropped, plink, ptable = -1, -1, -1, False, False, False
        nc = len(text)
        append(
            {
                "node_id": next_id,
                "parent_id": pid,
                "depth": pdepth + 1,
                "tag": "#text",
                "text": text,
                "n_chars": nc,
                "n_link_chars": nc if plink else 0,
                "block_id": pblock,
                "in_dropped": pdropped,
                "in_table": ptable,
            }
        )
        next_id += 1

    while i < n:
        if cdata is None:
            # goahead: data run to the next '<', unescaped (parser.py:139,161)
            j = find("<", i)
            if j < 0:
                j = n
            if i < j:
                seg = s[i:j]
                emit_data(_unescape(seg) if "&" in seg else seg)
            i = j
            if i == n:
                break
        else:
            # cdata mode: interesting = r'</\s*{elem}\s*>' (parser.py:124);
            # data passes through un-unescaped; an unterminated tail is
            # NEVER emitted (the end-block at parser.py:243 is gated on
            # `not self.cdata_elem`)
            m = _CDATA_END_RX[cdata].search(s, i)
            if m is None:
                return nodes
            if i < m.start():
                emit_data(s[i : m.start()])
            # parse_endtag on the matched tag: endtagfind matches the
            # same span (the name class excludes '>'), elem == cdata ->
            # handle_endtag + clear_cdata_mode (parser.py:407-416)
            for si in range(len(stack) - 1, -1, -1):
                if stack[si][1] == cdata:
                    del stack[si:]
                    break
            cdata = None
            i = m.end()
            continue
        c = s[i + 1] if i + 1 < n else ""
        if c in _ASCII_LETTERS:
            m = _SIMPLE_START.match(s, i)
            if m is not None:
                tag = m.group(1).lower()
                if not m.group(2):
                    # handle_starttag inlined (simple, attr-less tag)
                    if stack:
                        pid, _t, pdepth, pblock, pdropped, plink, ptable = stack[-1]
                    else:
                        pid, pdepth, pblock, pdropped, plink, ptable = (
                            -1, -1, -1, False, False, False)
                    depth = pdepth + 1
                    dropped = pdropped or tag in drop_tags
                    in_link = plink or tag == "a"
                    in_table = ptable or tag == "table"
                    nid = next_id
                    next_id += 1
                    append(
                        {
                            "node_id": nid,
                            "parent_id": pid,
                            "depth": depth,
                            "tag": tag,
                            "text": "",
                            "n_chars": 0,
                            "n_link_chars": 0,
                            "block_id": pblock,
                            "in_dropped": dropped,
                            "in_table": in_table,
                        }
                    )
                    if tag not in void_tags:
                        stack.append((
                            nid, tag, depth,
                            nid if tag in block_tags else pblock,
                            dropped, in_link, in_table,
                        ))
                    if tag == "script" or tag == "style":
                        cdata = tag
                else:
                    # <tag/> — handle_startendtag inlined
                    if stack:
                        pid, _t, pdepth, pblock, pdropped, plink, ptable = stack[-1]
                    else:
                        pid, pdepth, pblock, pdropped, plink, ptable = (
                            -1, -1, -1, False, False, False)
                    append(
                        {
                            "node_id": next_id,
                            "parent_id": pid,
                            "depth": pdepth + 1,
                            "tag": tag,
                            "text": "",
                            "n_chars": 0,
                            "n_link_chars": 0,
                            "block_id": pblock,
                            # handle_startendtag emits the PARENT's
                            # dropped flag only — a self-closing drop
                            # tag has no children to drop (stdlib
                            # reference semantics; r5 review fix)
                            "in_dropped": pdropped,
                            "in_table": ptable,
                        }
                    )
                    next_id += 1
                i = m.end()
                continue
            # parse_starttag via check_for_whole_start_tag (parser.py:344)
            m = locatestart(s, i)
            j = m.end()
            nxt = s[j : j + 1]
            endpos = -1
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/":
                if startswith("/>", j):
                    endpos = j + 2
                # else: lone trailing '/' at EOF -> incomplete (-1)
            elif nxt == "":
                endpos = -1
            elif nxt in _STARTTAG_AMBIG:
                endpos = -1
            else:
                endpos = j if j > i else i + 1
            if endpos >= 0:
                tm = tagfind(s, i + 1)
                tag = tm.group(1).lower()
                k2 = tm.end()
                # attr loop only to locate k (attrs are discarded, so
                # the per-attr unescape/strip work is skipped)
                while k2 < endpos:
                    am = attrfind(s, k2)
                    if not am:
                        break
                    k2 = am.end()
                end = s[k2:endpos].strip()
                if end == ">":
                    # handle_starttag inlined
                    if stack:
                        pid, _t, pdepth, pblock, pdropped, plink, ptable = stack[-1]
                    else:
                        pid, pdepth, pblock, pdropped, plink, ptable = (
                            -1, -1, -1, False, False, False)
                    depth = pdepth + 1
                    dropped = pdropped or tag in drop_tags
                    in_link = plink or tag == "a"
                    in_table = ptable or tag == "table"
                    nid = next_id
                    next_id += 1
                    append(
                        {
                            "node_id": nid,
                            "parent_id": pid,
                            "depth": depth,
                            "tag": tag,
                            "text": "",
                            "n_chars": 0,
                            "n_link_chars": 0,
                            "block_id": pblock,
                            "in_dropped": dropped,
                            "in_table": in_table,
                        }
                    )
                    if tag not in void_tags:
                        stack.append((
                            nid, tag, depth,
                            nid if tag in block_tags else pblock,
                            dropped, in_link, in_table,
                        ))
                    if tag == "script" or tag == "style":  # CDATA elems
                        cdata = tag
                elif end == "/>":
                    # handle_startendtag inlined
                    if stack:
                        pid, _t, pdepth, pblock, pdropped, plink, ptable = stack[-1]
                    else:
                        pid, pdepth, pblock, pdropped, plink, ptable = (
                            -1, -1, -1, False, False, False)
                    append(
                        {
                            "node_id": next_id,
                            "parent_id": pid,
                            "depth": pdepth + 1,
                            "tag": tag,
                            "text": "",
                            "n_chars": 0,
                            "n_link_chars": 0,
                            "block_id": pblock,
                            "in_dropped": pdropped,
                            "in_table": ptable,
                        }
                    )
                    next_id += 1
                else:
                    # bogus tail: raw text, NOT unescaped (parser.py:330)
                    emit_data(s[i:endpos])
                i = endpos
                continue
        elif c == "/":
            m = _SIMPLE_END.match(s, i)
            if m is not None:
                tag = m.group(1).lower()
                for si in range(len(stack) - 1, -1, -1):
                    if stack[si][1] == tag:
                        del stack[si:]
                        break
                i = m.end()
                continue
            # parse_endtag (parser.py:378)
            gt = find(">", i + 1)
            if gt >= 0:
                m = endtagfind(s, i)
                if m:
                    tag = m.group(1).lower()
                    for si in range(len(stack) - 1, -1, -1):
                        if stack[si][1] == tag:
                            del stack[si:]
                            break
                    i = m.end()
                    continue
                nm = tagfind(s, i + 2)
                if not nm:
                    if startswith("</>", i):
                        i += 3
                        continue
                    i = gt + 1  # parse_bogus_comment: skip to '>'
                    continue
                # name found: consume to the next '>' after it — which
                # is the gt already found (the name class excludes '>')
                tag = nm.group(1).lower()
                for si in range(len(stack) - 1, -1, -1):
                    if stack[si][1] == tag:
                        del stack[si:]
                        break
                i = gt + 1
                continue
        elif startswith("<!--", i):
            m = commentclose(s, i + 4)  # _markupbase.parse_comment
            if m:
                i = m.end()
                continue
        elif c == "?":
            gt = find(">", i + 2)  # parse_pi
            if gt >= 0:
                i = gt + 1
                continue
        elif c == "!":
            # parse_html_declaration (parser.py:265)
            if startswith("<![", i):
                return None  # marked section -> stdlib
            if s[i : i + 9].lower() == "<!doctype":
                gt = find(">", i + 9)
            else:
                gt = find(">", i + 2)  # bogus comment
            if gt >= 0:
                i = gt + 1
                continue
        elif i + 1 < n:
            emit_data("<")  # literal '<' (parser.py:180)
            i += 1
            continue
        else:
            # trailing '<': goahead breaks, the end-block emits it
            emit_data("<")
            break
        # incomplete construct at EOF — goahead's end=1 recovery
        # (parser.py:184-196): to the next '>' inclusive, else to the
        # next '<' exclusive, else one char; unescaped
        k = find(">", i + 1)
        if k < 0:
            k = find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        seg = s[i:k]
        emit_data(_unescape(seg) if "&" in seg else seg)
        i = k
    return nodes


def parse_html_nodes(text: str) -> list[dict]:
    """Parse HTML into the flat NODE table (SURVEY.md §1.4)."""
    try:
        nodes = _fast_nodes(text)
        if nodes is not None:
            return nodes
    except Exception:
        # degrade exactly like the stdlib path: rerun below, which
        # try/excepts itself — the caller records a skip counter (D6)
        pass
    return parse_html_nodes_stdlib(text)


def parse_html_nodes_stdlib(text: str) -> list[dict]:
    """The stdlib-only parse — the behavioral reference _fast_nodes is
    pinned against (tests/test_fast_html.py) and the fallback of
    ``parse_html_nodes``."""
    p = _NodeCollector()
    try:
        p.feed(text)
        p.close()
    except Exception:
        # html.parser is lax; only pathological inputs raise. Return what
        # we collected — the caller records a skip counter (D6).
        pass
    return p.nodes


def classify_nodes(nodes: list[dict]) -> list[dict]:
    """D3/D4 — aggregate text nodes into text blocks and classify.

    Relational equivalent (operators/relational.py html_block_scores):

        SELECT block_id,
               min(node_id)                         AS ord,
               sum(n_chars)      + (count(*)-1)     AS n_chars,  -- join spaces
               sum(n_link_chars)                    AS n_link_chars,
               bool_or(in_dropped)                  AS in_dropped
        FROM nodes WHERE tag = '#text' GROUP BY block_id

    then ``link_density = n_link_chars / n_chars`` and the is_content
    predicate below.
    """
    groups: dict[int, dict] = {}
    for n in nodes:
        if n["tag"] != "#text":
            continue
        g = groups.get(n["block_id"])
        if g is None:
            groups[n["block_id"]] = {
                "block_id": n["block_id"],
                "ord": n["node_id"],
                "parts": [n["text"]],
                "n_link_chars": n["n_link_chars"],
                "in_dropped": n["in_dropped"],
                "in_table": n.get("in_table", False),
            }
        else:
            g["parts"].append(n["text"])
            g["n_link_chars"] += n["n_link_chars"]
            g["in_dropped"] = g["in_dropped"] or n["in_dropped"]
    out = []
    for g in sorted(groups.values(), key=lambda g: g["ord"]):
        btext = " ".join(g["parts"])
        n_chars = len(btext)
        link_density = g["n_link_chars"] / n_chars if n_chars else 0.0
        wrapped = max(1, -(-n_chars // WRAP_COLS))  # ceil division
        text_density = n_chars / wrapped
        is_content = (
            not g["in_dropped"]
            and not g["in_table"]  # table text is emitted structurally
            and n_chars >= MIN_CONTENT_CHARS
            and link_density <= MAX_LINK_DENSITY
        )
        out.append(
            {
                "block_id": g["block_id"],
                "ord": g["ord"],
                "text": btext,
                "n_chars": n_chars,
                "n_link_chars": g["n_link_chars"],
                "link_density": link_density,
                "text_density": text_density,
                "in_dropped": g["in_dropped"],
                "in_table": g["in_table"],
                "is_content": is_content,
            }
        )
    return out


def extract_html_main(text: str) -> tuple[str, list[dict], list[dict]]:
    """Full D2→D4 path: returns (main_text, nodes, classified_blocks)."""
    nodes = parse_html_nodes(text)
    blocks = classify_nodes(nodes)
    main = "\n".join(b["text"] for b in blocks if b["is_content"])
    return main, nodes, blocks


def extract_html_structures(nodes: list[dict]) -> tuple[list[dict], list[dict]]:
    """Recover structured spans from the DOM node table:

    - ``<table>`` → grids: each <tr> is a row, each <td>/<th> a cell
      (is_header iff <th>); nested tables attach to their OWN nearest
      table ancestor, not the outer one.
    - ``<dl>`` → form pairs: each <dt> keys the next <dd> sibling.

    Returns (tables, forms) where tables = [{n_rows, n_cols, rows:
    [[(text, is_header), ...]]}] and forms = [{key, value}] — the
    caller (core.extract) shapes them into TABLE_SPAN/KV_SPAN with
    deterministic ids. Dropped-subtree (nav/footer/...) structures are
    skipped.
    """
    # short-circuit: most turns carry no structured markup at all
    if not any(n["tag"] == "table" or n["tag"] == "dl" for n in nodes):
        return [], []

    by_id = {n["node_id"]: n for n in nodes}
    children: dict[int, list[dict]] = {}
    for n in nodes:
        children.setdefault(n["parent_id"], []).append(n)

    def cell_text(cell_id: int) -> str:
        parts = [
            n["text"] for n in nodes
            if n["tag"] == "#text" and n["block_id"] == cell_id
        ]
        return " ".join(parts)

    def nearest_table(nid: int) -> int | None:
        cur = by_id.get(nid)
        while cur is not None:
            cur = by_id.get(cur["parent_id"])
            if cur is not None and cur["tag"] == "table":
                return cur["node_id"]
        return None

    def rows_of_table(table_id: int) -> list[list[dict]]:
        """tr elements whose nearest table ancestor is this table, in
        document order (tr may sit under thead/tbody)."""
        rows = []
        for n in nodes:
            if n["tag"] == "tr" and nearest_table(n["node_id"]) == table_id:
                rows.append(n)
        return rows

    tables: list[dict] = []
    forms: list[dict] = []
    for n in nodes:
        if n["in_dropped"]:
            continue
        if n["tag"] == "table":
            trs = rows_of_table(n["node_id"])
            grid: list[list[tuple[str, bool]]] = []
            for tr in trs:
                cells = [
                    c for c in children.get(tr["node_id"], [])
                    if c["tag"] in ("td", "th")
                ]
                grid.append(
                    [(cell_text(c["node_id"]), c["tag"] == "th") for c in cells]
                )
            grid = [r for r in grid if r]
            if grid:
                tables.append(
                    {
                        "n_rows": len(grid),
                        "n_cols": max(len(r) for r in grid),
                        "rows": grid,
                    }
                )
        elif n["tag"] == "dl":
            items = [
                c for c in children.get(n["node_id"], [])
                if c["tag"] in ("dt", "dd")
            ]
            key = None
            for it in items:
                if it["tag"] == "dt":
                    key = cell_text(it["node_id"])
                elif it["tag"] == "dd" and key is not None:
                    forms.append({"key": key, "value": cell_text(it["node_id"])})
                    key = None
    return tables, forms
