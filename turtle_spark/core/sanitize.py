"""Token sanitizer / classifier for the parse side.

Re-implements the observable behavior of the reference's sanitize stage
(nvkp/turtle ``scanner/sanitize.go:17-186``): prefixed-name expansion
with slash/hash joining, base-IRI resolution with Go ``url.JoinPath``
semantics (which differ from RFC 3986 ``urljoin``), ``@lang`` /
``^^datatype`` annotation splitting off *quoted* literals only,
``a`` -> ``rdf:type`` replacement for bare tokens, and the delimiter
trim table.

Load-bearing quirks preserved on purpose (they are pinned by the
reference's golden fixtures):

* bare numeric annotations are NOT split: ``1.0E0^^xsd::float`` stays a
  single object string (scanner_test.go:1332);
* ``+.3e+2`` classifies as ``iri`` (leading ``+`` fails the literal
  tests) but passes through unchanged (scanner_test.go:1337);
* apostrophe-quoted literals (``'...'``) take the bare-token path, so
  they classify as ``iri`` and keep any annotation text embedded;
* escape sequences are retained verbatim, never unescaped;
* the trim table strips a bare trailing ``>`` even without a ``<``.
"""

from __future__ import annotations

import re
import unicodedata
from urllib.parse import urlsplit

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_NIL_TOKEN = f"<{RDF_NIL}>"

TYPE_IRI = "iri"
TYPE_LITERAL = "literal"
TYPE_BLANK = "blank"

# ^[-0-9]+(\.[0-9]+)? — "starts like a number" (scanner/sanitize.go:15)
_NUMBER_RE = re.compile(r"^[-0-9]+(?:\.[0-9]+)?")


def trim(token: str) -> str:
    """Strip the first matching delimiter pair (scanner/sanitize.go:143-157).

    Unrolled in the reference's pair order (triple double quotes,
    triple single quotes, angle brackets, a bare closing ``>``, double
    quotes, single quotes) — this runs once per token slot inside the
    extraction hot path.
    """
    if not token:
        return ""
    c0, cl = token[0], token[-1]
    if c0 == '"':
        if cl == '"':
            if token[:3] == '"""' == token[-3:]:
                t = token[3:]
                return t[:-3] if t[-3:] == '"""' else t
            t = token[1:]
            return t[:-1] if t and t[-1] == '"' else t
        if cl == ">":
            return token[:-1]
        return token
    if c0 == "'":
        if cl == "'":
            if token[:3] == "'''" == token[-3:]:
                t = token[3:]
                return t[:-3] if t[-3:] == "'''" else t
            t = token[1:]
            return t[:-1] if t and t[-1] == "'" else t
        if cl == ">":
            return token[:-1]
        return token
    if cl == ">":
        # pair ("<", ">") before the bare ("", ">") pair
        return token[1:-1] if c0 == "<" else token[:-1]
    return token


def expand_prefix(token: str, value: str) -> str:
    """Expand ``pfx:rest`` against the prefix ``value``.

    Slash/hash joining rules (scanner/sanitize.go:17-35): dedupe when
    both sides supply ``/`` or ``#``; insert ``/`` when neither does;
    plain concatenation otherwise.  Returns the ``<...>``-wrapped IRI.
    """
    i = token.find(":")
    if len(token) <= i + 1:
        return ""
    nxt = token[i + 1]
    if len(token) > i + 2 and nxt in "/#" and value and value[-1] == nxt:
        rest = token[i + 2:]
    elif nxt not in "/#" and (not value or value[-1] not in "/#"):
        rest = "/" + token[i + 1:]
    else:
        rest = token[i + 1:]
    return f"<{value}{rest}>"


# --- Go url.JoinPath / URL.String compatible helpers -----------------------
#
# Go's (*url.URL).JoinPath cleans the joined path lexically (path.Join +
# path.Clean).  That is NOT what urllib.parse.urljoin does, so the small
# decision tree is reproduced here (scanner/sanitize.go:51-81).


def _go_path_clean(p: str) -> str:
    """Lexical path cleaning with Go ``path.Clean`` semantics."""
    if p == "":
        return "."
    rooted = p.startswith("/")
    out: list[str] = []
    for part in p.split("/"):
        if part in ("", "."):
            continue
        if part == "..":
            if out and out[-1] != "..":
                out.pop()
            elif not rooted:
                out.append("..")
        else:
            out.append(part)
    cleaned = "/".join(out)
    if rooted:
        cleaned = "/" + cleaned
    return cleaned if cleaned else ("/" if rooted else ".")


def _go_url_string(scheme: str, netloc: str, path: str, query: str, fragment: str) -> str:
    s = ""
    if scheme:
        s += scheme + ":"
    if netloc:
        s += "//" + netloc
    if path and not path.startswith("/") and netloc:
        s += "/"
    s += path
    if query:
        s += "?" + query
    if fragment:
        s += "#" + fragment
    return s


from functools import lru_cache


@lru_cache(maxsize=256)
def _split_base(base: str):
    try:
        return urlsplit(base)
    except ValueError:
        return None


@lru_cache(maxsize=256)
def _base_string(base: str) -> str:
    """Round-trip ``base`` the way Go's url.Parse + String would."""
    b = _split_base(base)
    if b is None:
        return base
    return _go_url_string(b.scheme, b.netloc, b.path, b.query, b.fragment)


def _go_join_path(base: str, rel: str) -> str:
    """``url.Parse(base).JoinPath(rel).String()`` equivalent."""
    b = _split_base(base)
    if b is None:
        return base
    first = b.path
    if not first.startswith("/"):
        p = _go_path_clean("/" + first + "/" + rel)[1:]
    else:
        p = _go_path_clean(first + "/" + rel)
    if rel.endswith("/") and not p.endswith("/"):
        p += "/"
    return _go_url_string(b.scheme, b.netloc, p, b.query, b.fragment)


def resolve_iri(token: str, base: str) -> str:
    """Resolve an already-unwrapped ``<...>`` token against ``base``.

    Decision tree per scanner/sanitize.go:51-81: absolute IRIs (with a
    host) are kept; ``.``/``/`` map to the base verbatim; ``#frag``
    appends to the base (deduping when the base itself ends in ``#``);
    anything else goes through Go-style lexical path joining, keeping
    the original base string when the join is an identity.
    """
    if not base:
        # every rewriting branch requires a base (the reference guards
        # each with base != ""), so skip URL parsing entirely
        return token
    if token in (".", "/"):
        return base
    # fast path: scheme://non-slash means a host is present (the
    # common absolute-IRI case) — skip full URL parsing
    si = token.find("://")
    if 0 < si and si + 3 < len(token) and token[si + 3] != "/" and token[:si].isalpha():
        return token
    try:
        host = urlsplit(token).netloc
    except ValueError:
        host = ""
    if host == "":
        if base.endswith("#") and token.startswith("#"):
            return base + token[1:]
        b_str = _base_string(base)
        if token.startswith("#"):
            return b_str + token
        t = _go_join_path(base, token)
        return base if t == b_str else t
    return token


def sanitize_token(
    token: str, base: str, prefixes: dict[str, str]
) -> tuple[str, str, str, str]:
    """Classify and normalize one token.

    Returns ``(token, label, datatype, objecttype)`` exactly as the
    reference's parse-side sanitize does (scanner/sanitize.go:37-111).

    The reference scans its prefix map with ``HasPrefix(token, pfx+":")``
    in *random map order*; the deterministic equivalent that agrees with
    every fixture is a lookup on the segment before the first colon.
    """
    label = ""
    datatype = ""

    ci = token.find(":")
    if ci != -1 and token[:ci] in prefixes:
        token = expand_prefix(token, prefixes[token[:ci]])

    c0 = token[0] if token else ""
    if c0 == "<":
        typ = TYPE_IRI
        token = trim(token)
        token = resolve_iri(token, base)
    # `^[-0-9]+` of the reference's number regex is exactly a
    # first-char test — no regex needed on the hot path
    elif c0 == '"' or c0 == "-" or ("0" <= c0 <= "9"):
        typ = TYPE_LITERAL
        # only quote-delimited tokens can carry annotations; bare
        # numerics keep ^^/@ embedded (quirk list #1).  The delimiter
        # is resolved once (the reference re-scans per annotation kind,
        # scanner/sanitize.go:166-186 — same observable result).
        if c0 == '"':
            last_delim = 0
            if token.startswith('"""'):
                last_delim = token.rfind('"""')
            if last_delim == 0:
                # reference fallthrough: an unclosed ''\"\"\"'' retries
                # with the single-quote delimiter pair
                last_delim = token.rfind('"')
            if last_delim != 0:
                di = token.rfind("^^")
                if di >= last_delim:
                    datatype = token[di + 2:]
                    token = token[:di]
                li = token.rfind("@")
                if li >= last_delim and li != -1:
                    label = token[li + 1:]
                    token = token[:li]
    else:
        typ = TYPE_IRI
        if token == "a":
            token = RDF_TYPE

    return trim(token), label, datatype, typ


# --- serialize-side helpers (graph/sanitize.go) -----------------------------

_IRI_EXTRA_CHARS = frozenset("-._~:/?#[]@!$&'()*+,;=%")


def is_blank_node(s: str) -> bool:
    return s.startswith("_:")


def _is_valid_iri_char(ch: str) -> bool:
    cat = unicodedata.category(ch)
    if cat.startswith("L") or cat == "Nd":
        return True
    return ch in _IRI_EXTRA_CHARS


def is_iri(s: str) -> bool:
    """Heuristic for untyped 3-string input (graph/sanitize.go:74-104)."""
    try:
        u = urlsplit(s)
    except ValueError:
        return False
    if not u.scheme or not u.netloc:
        return False
    return all(_is_valid_iri_char(ch) for ch in s)


def literal_edge(s: str) -> str:
    """Pick the quoting delimiter for a literal (graph/sanitize.go:108-122)."""
    if "\n" not in s:
        return '"' if '"' not in s else "'"
    return '"""' if "'" in s else "'''"
