"""Turtle statement parser: token stream -> annotated triples.

Re-implements the reference scanner's statement machine
(nvkp/turtle ``scanner/scanner.go:101-357``) as a single O(n) pass:

* ``@prefix``/``PREFIX``/``prefix`` and ``@base``/``BASE``/``base``
  directives mutate per-document state sequentially;
* ``;`` / ``,`` / ``.`` move the subject/predicate/object slot cursor;
* ``[ ... ]`` anonymous blank-node property lists and ``( ... )`` RDF
  collections are handled with explicit frame stacks.

Where the reference *rewinds* — on ``]`` / ``)`` it splices the popped
blank-node label in front of the unread bytes and restarts its scanner
(O(remaining) per bracket, quadratic worst case) — this parser pushes
the label onto a pending-token deque that is consumed before the
tokenizer stream.  Observable behavior (triple order, blank-node
numbering) is identical on every reference fixture; the asymptotic cost
is linear, which is what lets a 100 TB corpus of documents run through
Arrow-batched workers without pathological stragglers on bracket-heavy
documents.

Blank-node numbering is byte-faithful to the reference: ``_:bN`` ids
allocate (a) at ``[``, and (b) at each collection-member consumption —
including spliced-back inner heads — skipping labels already seen in
the document (collision avoidance, scanner/scanner.go:334-345).

One deliberate divergence: the reference decides "is this token a
collection member" by comparing *byte offsets* of the innermost open
frames, and those offsets reset on every rewind-splice, which can
misclassify in documents mixing ``[ ... ( ... ) ... ( ... ) ... ]``.
This parser uses monotonically increasing push serials, which agrees
with the reference on all of its fixtures and with Turtle semantics on
the cases the reference's offset reset would scramble.
"""

from __future__ import annotations

import re
from collections import deque
from dataclasses import dataclass, field

from turtle_spark.core.sanitize import (
    RDF_FIRST,
    RDF_NIL,
    RDF_NIL_TOKEN,
    RDF_REST,
    TYPE_IRI,
    sanitize_token,
)
from turtle_spark.core.tokenizer import tokenize_all

_BLANK_RE = re.compile(r"_:.+")  # the reference's unanchored blank-label test
_PUNCT1 = frozenset(";,.[](")  # ')' is handled after the collection check

#: slot order of an annotated triple
Triple = tuple[str, str, str, str, str, str]


@dataclass
class ParseResult:
    """Triples in emission order plus accumulated per-document state."""

    triples: list[Triple] = field(default_factory=list)
    base: str = ""
    prefixes: dict[str, str] = field(default_factory=dict)


# distinct (base, prefixes) contexts one shared memo keeps
_MEMO_CONTEXTS = 512


def _memo_view(
    memo: dict, base: str, prefixes: dict[str, str]
) -> dict[str, tuple[str, str, str, str]]:
    """The token-sanitize cache for one exact (base, prefixes) context
    inside a shared cross-document memo.  ``sanitize_token`` is pure in
    (token, base, prefixes), so keying on the full context makes cached
    results identical to uncached parsing; documents redeclaring the
    same vocabulary (the overwhelmingly common case in a real corpus)
    land in the same inner cache and skip re-sanitizing every recurring
    term.  The outer map is an LRU of ``_MEMO_CONTEXTS`` contexts (dict
    order is recency): a many-context corpus evicts the least recently
    used context, and the contexts documents keep using stay warm."""
    key = (base, frozenset(prefixes.items()))
    cache = memo.pop(key, None)
    if cache is None:
        if len(memo) >= _MEMO_CONTEXTS:
            del memo[next(iter(memo))]
        cache = {}
    memo[key] = cache
    return cache


# per-context token cache cap: ~50 MB of tuples per worker at the
# documented entry size; a corpus of unbounded distinct literals just
# cycles the cache (one failed get + one set per miss, never growth)
_SAN_CACHE_CAP = 100_000


def parse_document(
    text: str,
    base: str = "",
    prefixes: dict[str, str] | None = None,
    san_memo: dict | None = None,
) -> ParseResult:
    """Parse one Turtle document into annotated triples.

    ``base`` / ``prefixes`` pre-seed the parse context (the reference's
    ``Config``, config.go:28-50); document directives override them.
    Parse state is scoped to this call — blank-node counters and prefix
    maps never cross documents, which is what makes the extraction
    stage embarrassingly parallel across a cluster.

    ``san_memo``: optional SHARED sanitize memo for high-volume callers
    parsing many documents in one task (``operators/extract.py``).
    Keyed by the exact (base, prefixes) context via :func:`_memo_view`,
    so emitted triples are bit-identical with or without it; recurring
    vocabulary terms across documents sanitize once per task instead of
    once per document.
    """
    result = ParseResult(base=base, prefixes=dict(prefixes) if prefixes else {})
    pending: deque[str] = deque()  # injected tokens (popped blank-node labels)
    toks = tokenize_all(text)  # batch-tokenized up front (regex fast path)
    ti = 0
    n_toks = len(toks)
    serial = 0  # frame push-order stamp (replaces the reference's byte offsets)

    cur_subject = ""
    cur_predicate = ""
    cur_index = 0

    # [ ... ] frames: (serial, saved_subject, saved_predicate, saved_index, bn)
    bn_lists: list[tuple[int, str, str, int, str]] = []
    # ( ... ) frames: (serial, saved_index, saved_subject, saved_predicate, items)
    # item = (token, label, datatype, blank_node, objecttype)
    colls: list[tuple[int, int, str, str, list[tuple[str, str, str, str, str]]]] = []

    blank_nodes: set[str] = set()
    bn_counter = 0
    # token-sanitize cache: per-document by default; a shared san_memo
    # scopes it to the exact (base, prefixes) context instead, so it
    # survives across documents.  Directives REBIND it (they change
    # that context), never clear another context's entries.
    if san_memo is None:
        san_cache: dict[str, tuple[str, str, str, str]] = {}
    else:
        san_cache = _memo_view(san_memo, result.base, result.prefixes)

    def next_tok() -> str | None:
        nonlocal ti
        if pending:
            return pending.popleft()
        if ti < n_toks:
            tok = toks[ti]
            ti += 1
            return tok
        return None

    def new_blank_node() -> str:
        nonlocal bn_counter
        while True:
            bn = f"_:b{bn_counter}"
            bn_counter += 1
            if bn in blank_nodes:
                continue
            blank_nodes.add(bn)
            return bn

    out = result.triples
    while True:
        # inlined next_tok() — this is the hottest line of the parser
        if pending:
            token = pending.popleft()
        elif ti < n_toks:
            token = toks[ti]
            ti += 1
        else:
            break
        serial += 1

        # prefix directive: consumes the next two raw tokens (length
        # guard avoids a per-token lower() allocation)
        tl = len(token)
        if (tl == 7 and token == "@prefix") or (tl == 6 and token.lower() == "prefix"):
            name = next_tok()
            if name is None:
                break
            if len(name) == 0:
                continue
            name = name[:-1]  # strip trailing ':'
            value = next_tok()
            if value is None:
                break
            result.prefixes[name] = value.strip("<>")
            san_cache = (
                {} if san_memo is None
                else _memo_view(san_memo, result.base, result.prefixes)
            )
            continue

        # base directive: consumes the next raw token, last-write-wins
        if (tl == 5 and token == "@base") or (tl == 4 and token.lower() == "base"):
            value = next_tok()
            if value is None:
                break
            result.base = value.strip("<>")
            san_cache = (
                {} if san_memo is None
                else _memo_view(san_memo, result.base, result.prefixes)
            )
            continue

        # single length check gates all six punctuation handlers — the
        # typical token is multi-char and skips this entire block
        if tl == 1 and token in _PUNCT1:
            if token == ";":
                cur_index = 1
            elif token == ",":
                cur_index = 2
            elif token == ".":
                cur_index = 0
            elif token == "[":
                bn = new_blank_node()
                bn_lists.append((serial, cur_subject, cur_predicate, cur_index, bn))
                cur_subject = bn
                cur_index = 1
            elif token == "]":
                if bn_lists:
                    _, saved_s, saved_p, saved_i, bn = bn_lists.pop()
                    # the popped label is re-consumed as an ordinary token
                    # in the restored outer context (subject or object)
                    pending.appendleft(bn)
                    cur_subject, cur_predicate, cur_index = saved_s, saved_p, saved_i
            else:  # "("
                colls.append((serial, cur_index, cur_subject, cur_predicate, []))
            continue

        in_collection = bool(colls) and (
            not bn_lists or colls[-1][0] > bn_lists[-1][0]
        )

        if token != ")" and in_collection:
            cached = san_cache.get(token)
            if cached is None:
                cached = sanitize_token(token, result.base, result.prefixes)
                if len(san_cache) >= _SAN_CACHE_CAP:
                    san_cache.clear()
                san_cache[token] = cached
            tok, label, datatype, typ = cached
            colls[-1][4].append((tok, label, datatype, new_blank_node(), typ))
            continue

        if token == ")":
            if not colls:
                continue
            _, saved_i, saved_s, saved_p, items = colls.pop()
            for k, (itok, ilabel, idt, ibn, ityp) in enumerate(items):
                out.append((ibn, RDF_FIRST, itok, ilabel, idt, ityp))
                rest = items[k + 1][3] if k < len(items) - 1 else RDF_NIL
                out.append((ibn, RDF_REST, rest, "", "", TYPE_IRI))
            head = items[0][3] if items else RDF_NIL_TOKEN
            pending.appendleft(head)
            cur_index, cur_subject, cur_predicate = saved_i, saved_s, saved_p
            continue

        cached = san_cache.get(token)
        if cached is None:
            cached = sanitize_token(token, result.base, result.prefixes)
            if len(san_cache) >= _SAN_CACHE_CAP:
                san_cache.clear()
            san_cache[token] = cached
        tok, label, datatype, typ = cached

        # record blank-node labels for collision-avoiding allocation
        # (find+length == the reference's unanchored `_:.+` regex)
        bi = tok.find("_:")
        if bi != -1 and bi + 2 < len(tok):
            blank_nodes.add(tok)

        if cur_index == 0:
            cur_subject = tok
            cur_index = 1
        elif cur_index == 1:
            cur_predicate = tok
            cur_index = 2
        elif cur_index == 2:
            out.append((cur_subject, cur_predicate, tok, label, datatype, typ))
            cur_index = 0

    return result


def parse_triples(text: str, base: str = "", prefixes: dict[str, str] | None = None) -> list[Triple]:
    """Convenience: just the annotated triples in emission order."""
    return parse_document(text, base=base, prefixes=prefixes).triples
