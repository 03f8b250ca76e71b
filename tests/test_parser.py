"""Parser golden tests: exact ordered triple sequences for all 42 cases.

Mirrors the reference's TestNext (scanner/scanner_test.go:1437-1457) —
these ``expectedTriples`` arrays are the primary golden sets the
P/R >= 0.95 target is scored against.  Also pins directive
accumulation (scanner/prefixes_test.go) and corpus-level precision /
recall across the whole fixture set.
"""

from __future__ import annotations

import pytest

from tests.conftest import load_scan_fixtures
from turtle_spark.core.parser import parse_document, parse_triples

_CASES = load_scan_fixtures()


@pytest.mark.parametrize("name", sorted(_CASES))
def test_triple_sequence(name: str) -> None:
    case = _CASES[name]
    actual = [[s, p, o] for (s, p, o, *_ann) in parse_triples(case["turtle"])]
    assert actual == case["triples"]


def test_base_and_prefixes_accumulate() -> None:
    # scanner/prefixes_test.go:10-37
    doc = """
@base <http://example.org/> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix rel: <http://www.perceive.net/schemas/relationship/> .

<#green-goblin>
\trel:enemyOf <#spiderman> ;
\t<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> foaf:Person ;
\tfoaf:name "Green Goblin".
"""
    result = parse_document(doc)
    assert result.base == "http://example.org/"
    assert result.prefixes == {
        "foaf": "http://xmlns.com/foaf/0.1/",
        "rel": "http://www.perceive.net/schemas/relationship/",
    }


def test_config_seeded_base_overridden_by_document() -> None:
    # config.go:28-50 + unmarshal_test.go:133-171 — seeds apply, document
    # directives override them
    doc = "<x> <p> <y> ."
    result = parse_document(doc, base="http://seed.example/")
    assert result.triples[0][0] == "http://seed.example/x"

    doc2 = "@base <http://doc.example/> .\n<x> <p> <y> ."
    result2 = parse_document(doc2, base="http://seed.example/")
    assert result2.triples[0][0] == "http://doc.example/x"


def test_config_seeded_prefixes() -> None:
    doc = "foaf:a foaf:b foaf:c ."
    result = parse_document(doc, prefixes={"foaf": "http://xmlns.com/foaf/0.1/"})
    assert result.triples[0][:3] == (
        "http://xmlns.com/foaf/0.1/a",
        "http://xmlns.com/foaf/0.1/b",
        "http://xmlns.com/foaf/0.1/c",
    )


def test_duplicate_triples_survive_parse() -> None:
    # the scanner does NOT dedupe (scanner_test.go:1221-1262); only the
    # serializer does
    case = _CASES["literal_character_in_literal"]
    triples = parse_triples(case["turtle"])
    objects = [t[2] for t in triples if t[1] == "http://qudt.org/schema/qudt/symbol"]
    assert objects == ["'", "'"]


def test_corpus_precision_recall() -> None:
    """Set-level P/R across all 42 fixtures must be 1.0 (target >= 0.95)."""
    tp = fp = fn = 0
    for name, case in _CASES.items():
        expected = {(name, i, *t) for i, t in enumerate(case["triples"])}
        actual = {
            (name, i, s, p, o)
            for i, (s, p, o, *_ann) in enumerate(parse_triples(case["turtle"]))
        }
        tp += len(expected & actual)
        fp += len(actual - expected)
        fn += len(expected - actual)
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    assert precision == 1.0 and recall == 1.0, (precision, recall)


def test_lint_document_edge_cases():
    from turtle_spark.core.lint import lint_document

    assert lint_document("") == []
    assert lint_document("@prefix x: <u> . x:a x:b x:c .") == []
    assert lint_document('<a> <b> """multi\nline""" .') == []
    assert lint_document("_:b <p> <o> .") == []          # blank nodes exempt
    assert lint_document("<a> a <c> .") == []            # 'a' keyword
    assert lint_document("<a> <b> <c>") == ["unterminated-statement"]
    assert lint_document('<a> <b> "x" ;') == ["unterminated-statement"]
    assert lint_document("<a> <b> ( <c> .") == ["unclosed-group"]
    assert lint_document('q:x <p> "v" .', seed_prefixes=("q",)) == []
    assert lint_document('q:x <p> "v" .') == ["undeclared-prefix"]
    # lenient parse still salvages while lint reports
    from turtle_spark.core.parser import parse_document

    src = '<a> <b> "ok" . <c> <d> "unclosed'
    assert len(parse_document(src).triples) >= 1
    assert "unclosed-literal" in lint_document(src)


def test_parse_memo_is_observably_identical() -> None:
    """Property: a SHARED san_memo (the extraction task cache) never
    changes emitted triples, accumulated base, or prefixes — for
    arbitrary documents parsed in arbitrary interleavings, including
    directive-bearing ones that switch the sanitize context mid-doc."""
    from hypothesis import given, settings, strategies as st

    from turtle_spark.core.parser import parse_document

    alphabet = 'ab"\'<>.;,()[]\\ \n\t#123eE+-:_^@prefixbase/'

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.text(alphabet=alphabet, max_size=100), max_size=6))
    def check(texts: list[str]) -> None:
        memo: dict = {}
        for text in texts:
            plain = parse_document(text)
            shared = parse_document(text, san_memo=memo)
            assert plain.triples == shared.triples
            assert plain.base == shared.base
            assert plain.prefixes == shared.prefixes

    check()


def test_parse_memo_cache_caps_hold() -> None:
    """The shared memo's bounds are enforced: the outer map holds at
    most 512 contexts, and an over-cap inner cache cycles instead of
    growing."""
    from turtle_spark.core import parser as P

    memo: dict = {}
    for i in range(600):
        P._memo_view(memo, "", {"p": f"http://x{i}/"})
    assert len(memo) <= 512

    old_cap = P._SAN_CACHE_CAP
    P._SAN_CACHE_CAP = 8
    try:
        memo = {}
        doc = "@prefix e: <http://e/> . " + " ".join(
            f'e:s{i} e:p{i} "v{i}" .' for i in range(40)
        )
        result = parse_document(doc, san_memo=memo)
        assert len(result.triples) == 40
        (inner,) = [v for k, v in memo.items() if k[1]]
        assert len(inner) <= 8
    finally:
        P._SAN_CACHE_CAP = old_cap


def test_parse_memo_evicts_one_cold_context() -> None:
    """The 513th context evicts one cold context, not the whole memo: a
    context in use survives with its cache, and parse output stays
    bit-identical to parsing without a memo."""
    from turtle_spark.core import parser as P

    def ctx(ns: str) -> tuple:
        return ("", frozenset({("e", ns)}))

    memo: dict = {}
    hot = P._memo_view(memo, "", {"e": "http://hot/"})
    for i in range(P._MEMO_CONTEXTS - 1):
        P._memo_view(memo, "", {"e": f"http://cold{i}/"})
        assert P._memo_view(memo, "", {"e": "http://hot/"}) is hot
    assert len(memo) == P._MEMO_CONTEXTS
    P._memo_view(memo, "", {"e": "http://new/"})  # the 513th context
    assert len(memo) == P._MEMO_CONTEXTS
    assert memo[ctx("http://hot/")] is hot
    assert ctx("http://cold0/") not in memo
    assert ctx("http://cold1/") in memo and ctx("http://new/") in memo

    # the same through parse_document, past the cap
    hot_doc = '@prefix e: <http://hot/> . e:s e:p "v" . e:s e:q e:o .'
    for i in range(P._MEMO_CONTEXTS + 8):
        for doc in (hot_doc, f'@prefix e: <http://c{i}/> . e:s e:p "v{i}" .'):
            assert parse_document(doc, san_memo=memo) == parse_document(doc)
    assert len(memo) == P._MEMO_CONTEXTS
    assert memo[ctx("http://hot/")] is hot and hot
