"""Sorted Turtle serializer.

Re-implements the reference's serialization buffer (nvkp/turtle
``graph/graph.go`` + ``graph/sanitize.go``) as a pure-Python core:

* exact-duplicate objects are dropped on insert (the *scanner* keeps
  duplicates; only serialization dedupes — graph/graph.go:81-96);
* output sorts subjects, then predicates per subject, then objects per
  predicate byte-wise (Python's codepoint string order == Go's byte
  order for UTF-8);
* single-predicate subjects render on one line; multi-predicate
  subjects as ``\\n\\t pred objs ;`` blocks; multi-object predicates as
  ``, `` lists; statements end `` .\\n``;
* ``@base`` / ``@prefix`` pragmas come first (the reference emits
  prefixes in random map order; we emit them sorted by tag).

On Spark this exact logic renders each subject's rows inside one
``mapInArrow`` pass per partition (see
``turtle_spark.operators.serialize``); this module stays Spark-free so
the golden-layout tests pin it directly.
"""

from __future__ import annotations

from turtle_spark.core.sanitize import (
    RDF_TYPE,
    TYPE_IRI,
    is_blank_node,
    is_iri,
    literal_edge,
)


def pragma_lines(base: str = "", prefixes: dict[str, str] | None = None) -> list[str]:
    """The ``@base`` / ``@prefix`` header, one directive per line
    without its newline: base first, then prefixes sorted by tag."""
    lines = [f"@base <{base}> ."] if base else []
    pfx = prefixes or {}
    lines.extend(f"@prefix {tag}: <{pfx[tag]}> ." for tag in sorted(pfx))
    return lines


class NoSubjectError(ValueError):
    """Triple accepted with an empty subject (marshal.go:14-15)."""


class NoPredicateError(ValueError):
    """Triple accepted with an empty predicate (marshal.go:16-17)."""


class NoObjectError(ValueError):
    """Triple accepted with an empty object (marshal.go:18-19)."""


class GraphBuffer:
    """Triple consumer with dedup + sorted compact Turtle output.

    Required-field validation matches the reference's Marshal errors
    (marshal.go:105-116, fixtures marshal_test.go:233-256): an empty
    subject, predicate, or object raises — checked in that order.
    """

    def __init__(self, base: str = "", prefixes: dict[str, str] | None = None):
        self.base = base
        self.prefixes = dict(prefixes) if prefixes else {}
        # subject -> predicate -> list of (item, typ, datatype, label)
        self._m: dict[str, dict[str, list[tuple[str, str, str, str]]]] = {}

    def accept(self, subject: str, predicate: str, obj: str) -> None:
        """3-string insert; object type is inferred at render time."""
        self._accept(subject, predicate, (obj, "", "", ""))

    def accept_annotated(
        self,
        subject: str,
        predicate: str,
        obj: str,
        label: str = "",
        datatype: str = "",
        objecttype: str = "",
    ) -> None:
        self._accept(subject, predicate, (obj, objecttype, datatype, label))

    def _accept(self, sub: str, pred: str, obj: tuple[str, str, str, str]) -> None:
        if not sub:
            raise NoSubjectError("no subject specified in triple")
        if not pred:
            raise NoPredicateError("no predicate specified in triple")
        if not obj[0]:
            raise NoObjectError("no object specified in triple")
        objects = self._m.setdefault(sub, {}).setdefault(pred, [])
        if obj not in objects:
            objects.append(obj)

    def render(self, include_pragmas: bool = True) -> str:
        """Serialize all consumed triples as sorted compact Turtle.

        ``include_pragmas=False`` renders statement blocks only — used
        by the distributed serializer, which groups by subject and
        emits the pragma header exactly once at assembly time.
        """
        parts: list[str] = []
        if include_pragmas:
            parts.extend(f"{line}\n" for line in pragma_lines(self.base, self.prefixes))

        for subject in sorted(self._m):
            parts.append(f"{self._sanitize(subject, TYPE_IRI, False)} ")
            predicates = sorted(self._m[subject])
            for p_idx, predicate in enumerate(predicates):
                # stable sort by item keeps insertion order for equal items
                objects = sorted(self._m[subject][predicate], key=lambda o: o[0])
                rendered = ", ".join(self._sanitize_object(o) for o in objects)
                if len(predicates) == 1:
                    parts.append(f"{self._sanitize(predicate, TYPE_IRI, True)} ")
                    parts.append(rendered)
                    continue
                parts.append(f"\n\t{self._sanitize(predicate, TYPE_IRI, True)} ")
                parts.append(rendered)
                if p_idx != len(predicates) - 1:
                    parts.append(" ;")
            parts.append(" .\n")
        return "".join(parts)

    def _sanitize_object(self, obj: tuple[str, str, str, str]) -> str:
        item, typ, datatype, label = obj
        rendered = self._sanitize(item, typ, False)
        if label:
            return f"{rendered}@{label}"
        if datatype:
            return f"{rendered}^^{datatype}"
        return rendered

    def _sanitize(self, s: str, typ: str, predicate: bool) -> str:
        """Output wrapping rules (graph/sanitize.go:31-68)."""
        if not s:
            return s
        if is_blank_node(s):
            return s
        if typ == TYPE_IRI or (typ == "" and is_iri(s)):
            if s == "." and self.base:
                return self.base
            if s == "a" and predicate:
                return f"<{RDF_TYPE}>"
            for key in self.prefixes:
                if s.startswith(key + ":"):
                    return s  # already-compact prefixed name kept verbatim
            if self.base and s.startswith(self.base):
                if s == self.base:
                    s = "."
                else:
                    s = s[len(self.base):]
                return f"<{s}>"
            return f"<{s}>"
        edge = literal_edge(s)
        return f"{edge}{s}{edge}"


def serialize_triples(
    triples,
    base: str = "",
    prefixes: dict[str, str] | None = None,
    annotated: bool = True,
) -> str:
    """Render an iterable of triples as sorted Turtle text.

    ``triples`` yields ``(s, p, o)`` or ``(s, p, o, label, datatype,
    objecttype)`` rows.
    """
    g = GraphBuffer(base=base, prefixes=prefixes)
    for row in triples:
        if annotated and len(row) >= 6:
            s, p, o, label, datatype, objecttype = row[:6]
            g.accept_annotated(s, p, o, label, datatype, objecttype)
        else:
            g.accept(row[0], row[1], row[2])
    return g.render()
